"""spark-submit entry point.

Cluster usage (north rule packaging)::

    python -m pdfextraction_spark.cli package --out /tmp/pdfx.zip
    spark-submit --py-files /tmp/pdfx.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        cli.py extract --input <transcripts> --output <table> \\
        --manifest <manifest> --num-partitions 4096 --chunks 64

Local smoke::

    python -m pdfextraction_spark.cli extract \\
        --input /tmp/pdfx_fixtures/transcripts_xs_default.parquet \\
        --output /tmp/out --manifest /tmp/mf
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _cmd_extract(args: argparse.Namespace) -> int:
    from .pipeline import run_extraction_job
    from .session import build_session

    spark = build_session("pdfx-extract", master=args.master)
    try:
        summary = run_extraction_job(
            spark,
            input_path=args.input,
            output_path=args.output,
            manifest_path=args.manifest,
            run_id=args.run_id,
            num_partitions=args.num_partitions,
            n_chunks=args.chunks,
            debug_dir=args.debug_dir,
        )
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


def _cmd_render(args: argparse.Namespace) -> int:
    """S4 page render: transcripts parquet -> PNG page images parquet."""
    from .functions.render import render_pages
    from .session import build_session

    spark = build_session("pdfx-render", master=args.master)
    try:
        turns = spark.read.parquet(args.input)
        render_pages(turns, dpi=args.dpi).write.mode(args.mode).parquet(
            args.output
        )
        # pages_total counts the whole output dir (with --mode append
        # that includes prior runs — the honest label for a read-back)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"pages_total": n, "dpi": args.dpi,
                          "output": args.output, "mode": args.mode}))
        return 0
    finally:
        spark.stop()


def _cmd_package(args: argparse.Namespace) -> int:
    """Zip the package for --py-files distribution."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as zf:
        for base in ("pdfextraction_spark", "fixtures"):
            for dirpath, _dirs, files in os.walk(os.path.join(root, base)):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        zf.write(full, os.path.relpath(full, root))
    print(args.out)
    return 0


def _cmd_fixture(args: argparse.Namespace) -> int:
    from fixtures.generate import write_transcripts_parquet

    print(write_transcripts_parquet(args.out, args.tier, args.turns))
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    """Run the curation funnel over a documents-shaped parquet table:
    quality/language gate -> exact-dedup canonicalization ->
    [optional minhash-LSH near-dup canonicalization ->] repetition
    gate -> per-language quota sample; writes the selected subset
    (doc_id, lang, sample_rank + original columns) and prints
    per-stage counts as JSON."""
    from .functions.curation import curation_funnel_stages
    from .functions.sampling import quota_sample
    from .session import build_session

    spark = build_session("pdfx-curate", master=args.master)
    try:
        docs = spark.read.parquet(args.input)
        stages = curation_funnel_stages(
            docs, min_quality=args.min_quality,
            max_top2_frac=args.max_top2_frac,
            near_dup=args.near_dup, nd_threshold=args.nd_threshold,
            # no all-pairs oracle contract here: cap saturated LSH
            # buckets (crawl-mirror clusters stay one component)
            bucket_cap=8,
        )
        # persist the reused stages: every later stage and every count
        # below would otherwise re-run the full funnel lineage from
        # the scan (~5 corpus passes instead of one)
        for df in stages.values():
            df.persist()
        try:
            selected = quota_sample(
                stages["final"], k=args.per_lang, stratum_col="lang"
            )
            selected.write.mode(args.mode).parquet(args.output)
            out = spark.read.parquet(args.output)
            counts = {
                "input_docs": docs.count(),
                "after_quality_lang": stages["gated"].count(),
                "after_exact_dedup": stages["survivors"].count(),
            }
            if "nd_kept" in stages:
                counts["after_near_dedup"] = stages["nd_kept"].count()
            counts.update({
                "after_repetition_gate": stages["final"].count(),
                "selected": out.count(),
                "output": args.output,
            })
            print(json.dumps(counts))
        finally:
            for df in stages.values():
                df.unpersist()
        return 0
    finally:
        spark.stop()


def _ann_index_report(spark, index_path: str, n_centroids: int) -> dict:
    """The ann-build report dict. Meta is a versioned append-only log
    (ann-append adds rows); the report must come from the max-ver row —
    a raw collect()[0] would report an arbitrary row once the index has
    been appended to."""
    from .sources.ann_index import _read_meta

    meta = _read_meta(spark, index_path)
    return {"index": index_path, "n_centroids": n_centroids,
            "m": meta.m, "k": meta.k, "n_vectors": meta.n_vectors,
            "ver": getattr(meta, "ver", 0)}


def _cmd_ann_build(args: argparse.Namespace) -> int:
    """Build + persist the IVF-PQ index for an embeddings-shaped
    parquet table (vec_id, embedding) — the build-once half of the
    serve path; prints the index meta as JSON."""
    from .session import build_session
    from .sources.ann_index import build_ann_index

    spark = build_session("pdfx-ann-build", master=args.master)
    try:
        emb = spark.read.parquet(args.input)
        idx = build_ann_index(
            emb, args.index, n_centroids=args.n_centroids, m=args.m,
            k=args.k, dim=args.dim, lloyd_iters=args.lloyd_iters,
            pq_lloyd_iters=args.pq_lloyd_iters,
        )
        print(json.dumps(
            _ann_index_report(spark, args.index, len(idx.centroids))))
        return 0
    finally:
        spark.stop()


def _cmd_ann_append(args: argparse.Namespace) -> int:
    """Append a new embeddings batch to a persisted index with the
    FROZEN quantizers (no retrain, no corpus re-encode); prints the
    staleness report (batch vs build quantization MSE)."""
    from .session import build_session
    from .sources.ann_index import append_to_ann_index, load_ann_index

    spark = build_session("pdfx-ann-append", master=args.master)
    try:
        idx = load_ann_index(spark, args.index)
        emb = spark.read.parquet(args.input)
        stats = append_to_ann_index(idx, emb)
        print(json.dumps({"index": args.index, **stats}))
        return 0
    finally:
        spark.stop()


def _cmd_ann_search(args: argparse.Namespace) -> int:
    """Top-k search of a query parquet against a persisted index
    (partition-pruned probes); writes (query_id, vec_id,
    approx_dist_micros, rank) parquet and prints counts."""
    from pyspark.sql import functions as F

    from .session import build_session
    from .sources.ann_index import ivfpq_topk_indexed, load_ann_index

    spark = build_session("pdfx-ann-search", master=args.master)
    try:
        idx = load_ann_index(spark, args.index)
        queries = spark.read.parquet(args.queries).select(
            F.col(args.query_id_col).alias("query_id"),
            F.col(args.vec_col).alias("embedding"),
        )
        out = ivfpq_topk_indexed(idx, queries, k=args.k,
                                 n_probe=args.n_probe,
                                 exclude_self=not args.include_self)
        out.write.mode(args.mode).parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"queries": queries.count(), "rows": n,
                          "output": args.output}))
        return 0
    finally:
        spark.stop()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="pdfextraction_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("extract", help="run the resumable extraction job")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--manifest", required=True)
    e.add_argument("--master", default=None)
    e.add_argument("--run-id", default=None)
    e.add_argument("--num-partitions", type=int, default=32)
    e.add_argument("--chunks", type=int, default=4)
    e.add_argument("--debug-dir", default=None,
                   help="S9 debug sink: dump parse-failed turns here")
    e.set_defaults(fn=_cmd_extract)

    rn = sub.add_parser("render",
                        help="S4: rasterize pdf_layout turns to PNG pages")
    rn.add_argument("--input", required=True)
    rn.add_argument("--output", required=True)
    rn.add_argument("--dpi", type=int, default=300)
    rn.add_argument("--mode", default="error")
    rn.add_argument("--master", default=None)
    rn.set_defaults(fn=_cmd_render)

    z = sub.add_parser("package", help="build the --py-files zip")
    z.add_argument("--out", default="/tmp/pdfextraction_spark.zip")
    z.set_defaults(fn=_cmd_package)

    c = sub.add_parser(
        "curate",
        help="curation funnel: quality gate -> dedup -> repetition "
             "gate -> per-language quota sample",
    )
    c.add_argument("--input", required=True,
                   help="documents-shaped parquet (doc_id, text, lang)")
    c.add_argument("--output", required=True)
    c.add_argument("--master", default=None)
    c.add_argument("--min-quality", type=float, default=0.5)
    c.add_argument("--max-top2-frac", type=float, default=0.2)
    c.add_argument("--per-lang", type=int, default=100000)
    c.add_argument("--near-dup", action="store_true",
                   help="insert the minhash-LSH near-dup "
                        "canonicalization stage (keep-best-quality)")
    c.add_argument("--nd-threshold", type=float, default=0.2,
                   help="Jaccard threshold for the near-dup stage "
                        "(0.2 = the library/driver-query default)")
    c.add_argument("--mode", default="error",
                   help="parquet write mode (error|overwrite)")
    c.set_defaults(fn=_cmd_curate)

    ab = sub.add_parser("ann-build",
                        help="build + persist the IVF-PQ index")
    ab.add_argument("--input", required=True,
                    help="embeddings-shaped parquet (vec_id, embedding)")
    ab.add_argument("--index", required=True, help="index output dir")
    ab.add_argument("--master", default=None)
    ab.add_argument("--n-centroids", type=int, default=16)
    ab.add_argument("--m", type=int, default=8)
    ab.add_argument("--k", type=int, default=16)
    ab.add_argument("--dim", type=int, default=64)
    ab.add_argument("--lloyd-iters", type=int, default=1)
    ab.add_argument("--pq-lloyd-iters", type=int, default=1)
    ab.set_defaults(fn=_cmd_ann_build)

    aap = sub.add_parser("ann-append",
                         help="append a batch to a persisted index "
                              "(frozen quantizers; prints staleness)")
    aap.add_argument("--index", required=True)
    aap.add_argument("--input", required=True,
                     help="embeddings-shaped parquet of NEW vectors "
                          "(ids must not collide with the corpus — "
                          "dedup upstream)")
    # default None = session default, same as ann-build/extract — a
    # differing default here could silently append on another master
    aap.add_argument("--master", default=None)
    aap.set_defaults(fn=_cmd_ann_append)

    asx = sub.add_parser("ann-search",
                         help="top-k search against a persisted index")
    asx.add_argument("--index", required=True)
    asx.add_argument("--queries", required=True,
                     help="parquet of query vectors")
    asx.add_argument("--output", required=True)
    asx.add_argument("--master", default=None)
    asx.add_argument("--k", type=int, default=10)
    asx.add_argument("--n-probe", type=int, default=4)
    asx.add_argument("--query-id-col", default="vec_id")
    asx.add_argument("--vec-col", default="embedding")
    asx.add_argument("--include-self", action="store_true",
                     help="keep candidates whose vec_id equals the "
                          "query id — REQUIRED when query ids come "
                          "from a different keyspace than the corpus "
                          "(default drops them: the self-search shape)")
    asx.add_argument("--mode", default="error")
    asx.set_defaults(fn=_cmd_ann_search)

    f = sub.add_parser("make-fixture", help="write a transcripts fixture")
    f.add_argument("--tier", default="xs", choices=["xs", "s", "bench"])
    f.add_argument("--turns", type=int, default=None)
    f.add_argument("--out", required=True)
    f.set_defaults(fn=_cmd_fixture)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
