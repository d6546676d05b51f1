from .manifest import (  # noqa: F401
    append_manifest,
    committed_partitions,
    snapshot_id_for_path,
)
from .transcripts import ensure_fixture_parquet, read_transcripts  # noqa: F401
