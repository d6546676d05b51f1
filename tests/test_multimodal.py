"""Multimodal plumbing tests: schema, mapInPandas batch shapes,
deterministic stub decode, frame-sample explode."""

import pytest

from pdfextraction_spark.functions import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    df = M.gen_media_fixture(spark, n_items=60)
    df.cache().count()
    return df


@pytest.mark.slow
class TestMultimodal:
    def test_schema_roundtrip(self, spark, media, tmp_path):
        p = str(tmp_path / "media.parquet")
        media.write.parquet(p)
        back = spark.read.parquet(p)
        assert back.schema == M.MEDIA_SCHEMA
        assert back.count() == 60

    def test_image_features_deterministic(self, media):
        a = M.image_features(media, num_partitions=4).orderBy("media_id").collect()
        b = M.image_features(media, num_partitions=8).orderBy("media_id").collect()
        assert len(a) == 20  # every 3rd item is an image
        assert [r.phash for r in a] == [r.phash for r in b]
        assert all(0 <= r.mean_byte <= 255 for r in a)

    def test_frame_sampling_counts(self, media):
        out = M.sample_frames(media, every_k=10).toPandas()
        metas = {r.media_id: r.meta.n_frames
                 for r in media.filter("kind = 'video'").collect()}
        counts = out.groupby("media_id").size().to_dict()
        for mid, n_frames in metas.items():
            assert counts[mid] == (n_frames + 9) // 10
        # digests unique per (media, frame)
        assert not out.duplicated(["media_id", "frame_idx"]).any()
        assert out["frame_digest"].nunique() == len(out)
        # GIF fixtures take the real path; the planted fake container
        # degrades (decoded=false) instead of dying
        assert out["decoded"].sum() > 0
        assert (~out["decoded"]).sum() > 0

    def test_frame_sampling_real_pixels(self, media):
        """sample_frames must report TRUE pixel statistics for GIF
        blobs — decode the blobs independently here and compare."""
        import hashlib

        import numpy as np

        from pdfextraction_spark.functions.gif import GIF_MAGIC, decode_gif

        out = M.sample_frames(media, every_k=5).toPandas()
        vids = media.filter("kind = 'video'").select("media_id", "data").collect()
        by_key = {(r.media_id, r.frame_idx): r for _, r in out.iterrows()}
        n_checked = 0
        for v in vids:
            data = bytes(v.data)
            if data[:4] != GIF_MAGIC:
                continue
            frames, _ = decode_gif(data)
            for fi in range(0, len(frames), 5):
                r = by_key[(v.media_id, fi)]
                px = frames[fi].astype(np.float64)
                assert abs(r.frame_mean - px.mean()) < 1e-9
                assert abs(r.frame_std - px.std()) < 1e-9
                assert r.frame_digest == hashlib.sha256(
                    np.ascontiguousarray(frames[fi]).tobytes()
                ).hexdigest()[:16]
                assert r.decoded
                n_checked += 1
        assert n_checked > 10

    def test_image_features_real_pixels(self, media):
        """image_features must report TRUE pixel statistics for the
        PNG fixture blobs — decode the blobs independently here and
        compare."""
        import numpy as np

        from pdfextraction_spark.functions.png import ahash64, decode_png

        feats = {r.media_id: r for r in M.image_features(media).collect()}
        imgs = media.filter("kind = 'image'").select("media_id", "data").collect()
        assert len(imgs) == len(feats) > 0
        for r in imgs:
            px = decode_png(bytes(r.data)).astype(np.float64)
            f = feats[r.media_id]
            assert abs(f.mean_byte - px.mean()) < 1e-9
            assert abs(f.std_byte - px.std()) < 1e-9
            assert f.phash == ahash64(px)


class TestPngCodec:
    def test_roundtrip_all_channel_counts(self):
        import numpy as np

        from pdfextraction_spark.functions.png import decode_png, encode_png

        rng = np.random.default_rng(3)
        for ch in (1, 3, 4):
            img = rng.integers(0, 256, size=(17, 11, ch), dtype=np.uint8)
            assert (decode_png(encode_png(img)) == img).all()
        grey2d = rng.integers(0, 256, size=(5, 9), dtype=np.uint8)
        assert (decode_png(encode_png(grey2d))[:, :, 0] == grey2d).all()

    def test_decode_all_scanline_filters(self):
        """Hand-build an IDAT using every filter type (Sub/Up/Average/
        Paeth) and check reconstruction against a reference
        implementation of the spec."""
        import struct
        import zlib

        import numpy as np

        from pdfextraction_spark.functions import png as P

        rng = np.random.default_rng(11)
        h, w, ch = 5, 7, 3
        img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        flat = img.reshape(h, w * ch).astype(np.int16)
        stride = w * ch

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int16)
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            line = flat[y]
            enc = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                a = int(line[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ftype == 0:
                    enc[i] = line[i]
                elif ftype == 1:
                    enc[i] = line[i] - a
                elif ftype == 2:
                    enc[i] = line[i] - b
                elif ftype == 3:
                    enc[i] = line[i] - ((a + b) >> 1)
                else:
                    enc[i] = line[i] - paeth(a, b, c)
            raw.append(ftype)
            raw += (enc & 0xFF).astype(np.uint8).tobytes()
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (P.PNG_MAGIC + P._chunk(b"IHDR", ihdr)
                + P._chunk(b"IDAT", zlib.compress(bytes(raw)))
                + P._chunk(b"IEND", b""))
        assert (P.decode_png(data) == img).all()

    def test_ahash_properties(self):
        import numpy as np

        from pdfextraction_spark.functions.png import ahash64

        img = np.zeros((32, 32), dtype=np.uint8)
        img[:16] = 255  # top-half bright: known 32 high bits set
        h = ahash64(img)
        assert h != 0
        # near-identical image -> identical hash; inverted -> differs
        noisy = img.copy()
        noisy[0, 0] ^= 3
        assert ahash64(noisy) == h
        assert ahash64(255 - img) != h


class TestGifCodec:
    def test_roundtrip_multiframe(self):
        import numpy as np

        from pdfextraction_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.default_rng(3)
        frames = [rng.integers(0, 256, size=(18, 25), dtype=np.uint8)
                  for _ in range(7)]
        dec, pal = decode_gif(encode_gif(frames))
        assert len(dec) == 7
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)
        # grayscale palette: index == intensity
        assert np.array_equal(pal[:, 0], np.arange(256))
        assert np.array_equal(pal[:, 0], pal[:, 1])

    def test_decode_compressed_lzw_stream(self):
        """The decoder must handle REAL compressed LZW (dict-built
        codes, variable width growth past 9/10 bits, KwKwK), not just
        our literal-code encoder's output. Encode with an independent
        standard-convention compressor (the convention Java ImageIO
        accepts — validated externally during development) and
        decode."""
        import struct

        import numpy as np

        from pdfextraction_spark.functions.gif import _lzw_decode, decode_gif

        def lzw_compress(indices, mcs=8):
            clear, end = 1 << mcs, (1 << mcs) + 1
            width = mcs + 1
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            acc = nbits = 0
            out = bytearray()

            def emit(code):
                nonlocal acc, nbits
                acc |= code << nbits
                nbits += width
                while nbits >= 8:
                    out.append(acc & 0xFF)
                    acc >>= 8
                    nbits -= 8

            emit(clear)
            w = ()
            for px in indices:
                wk = w + (int(px),)
                if wk in table:
                    w = wk
                    continue
                emit(table[w])
                table[wk] = next_code
                next_code += 1
                # standard (giflib/ImageIO) convention: width grows
                # when next_code EXCEEDS the current code space
                if next_code > (1 << width) and width < 12:
                    width += 1
                if next_code >= 4096:
                    emit(clear)
                    table = {(i,): i for i in range(clear)}
                    next_code = end + 1
                    width = mcs + 1
                w = (int(px),)
            if w:
                emit(table[w])
            emit(end)
            if nbits:
                out.append(acc & 0xFF)
            return bytes(out)

        rng = np.random.default_rng(9)
        # repetitive + noisy: drives dict growth through 9->10->11 bits
        data = (list(range(10)) * 500 + [5] * 1000
                + [int(x) for x in rng.integers(0, 256, 3000)])
        assert _lzw_decode(8, lzw_compress(data)) == data

        # full container with a compressed frame
        fr = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
        fr[::2] = np.tile(np.arange(64, dtype=np.uint8) * 4, (32, 1))
        g = bytearray(b"GIF89a") + struct.pack("<HHBBB", 64, 64, 0xF7, 0, 0)
        g += np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()
        g += b"\x2c" + struct.pack("<HHHHB", 0, 0, 64, 64, 0) + bytes([8])
        stream = lzw_compress(fr.ravel())
        for i in range(0, len(stream), 255):
            b = stream[i:i + 255]
            g.append(len(b))
            g += b
        g += b"\x00\x3b"
        frames, _ = decode_gif(bytes(g))
        assert np.array_equal(frames[0], fr)

    def test_honest_boundaries(self):
        import struct

        import numpy as np
        import pytest as pt

        from pdfextraction_spark.functions.gif import decode_gif, encode_gif

        with pt.raises(ValueError, match="GIF8"):
            decode_gif(b"NOTAGIF000")
        # interlace flag -> honest NotImplementedError
        fr = np.zeros((4, 4), dtype=np.uint8)
        blob = bytearray(encode_gif([fr]))
        # image descriptor starts after header(6) + LSD(7) + palette(768)
        idx = 6 + 7 + 768
        assert blob[idx] == 0x2C
        blob[idx + 9] |= 0x40  # set interlace flag in the packed byte
        with pt.raises(NotImplementedError, match="interlaced"):
            decode_gif(bytes(blob))


@pytest.mark.slow
class TestAudio:
    def test_wav_roundtrip(self):
        import numpy as np

        rng = np.random.default_rng(5)
        samples = rng.integers(-30000, 30000, size=1234, dtype=np.int16)
        back, rate = M.decode_audio_real(M.encode_wav(samples, 22050))
        assert rate == 22050
        assert (back == samples).all()
        with pytest.raises(NotImplementedError, match="libsndfile|ffmpeg"):
            M.decode_audio_real(b"\xffmp3-ish-not-riff")

    def test_audio_features_real_samples(self, media):
        """audio_features must report TRUE sample statistics for the
        WAV fixture blobs — decode independently and compare."""
        import numpy as np

        feats = {r.media_id: r for r in M.audio_features(media).collect()}
        auds = media.filter("kind = 'audio'").select("media_id", "data").collect()
        assert len(auds) == len(feats) > 0
        for r in auds:
            s, rate = M.decode_audio_real(bytes(r.data))
            f = feats[r.media_id]
            assert f.sample_rate == rate == 16000
            assert abs(f.duration_sec - len(s) / rate) < 1e-9
            fl = s.astype(np.float64)
            assert abs(f.rms - np.sqrt((fl ** 2).mean())) < 1e-6
            assert f.peak == int(np.abs(s).max())
            assert 0.0 < f.zcr < 1.0  # sine + noise crosses zero


@pytest.mark.slow
def test_undecodable_blobs_degrade_not_die(spark):
    """Magic-sniffed blobs the codecs can't decode (corrupt PNG,
    RIFF-but-WEBP, 8-bit WAV) must fall back to byte stats instead of
    killing the Arrow batch (code-review r2)."""
    import numpy as np

    from pdfextraction_spark.functions.png import PNG_MAGIC

    corrupt_png = PNG_MAGIC + b"\x00" * 64
    webp_ish = b"RIFF\x24\x00\x00\x00WEBPVP8 " + b"\x00" * 32
    rows = [
        (100, "c", 0, "image", bytearray(corrupt_png),
         (10, 10, None, None, "png")),
        (101, "c", 0, "audio", bytearray(webp_ish),
         (None, None, 16000, None, "webp")),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    img = M.image_features(media, num_partitions=2).collect()
    assert len(img) == 1 and img[0].media_id == 100  # survived, fake stats
    aud = M.audio_features(media, num_partitions=2).collect()
    assert len(aud) == 1 and aud[0].media_id == 101
    assert aud[0].sample_rate == 0  # fallback marker


def test_sample_frames_null_n_frames_degrades(spark):
    """A video row with unknown n_frames (null meta -> NaN in pandas)
    must yield zero rows for that item, not ValueError the whole
    Arrow batch."""
    import pdfextraction_spark.functions.multimodal as M

    rows = [
        (1, "c0", 0, "video", b"NOTGIF--blob-1", (None, None, None, 4, None)),
        (2, "c0", 1, "video", b"NOTGIF--blob-2", (None, None, None, None, None)),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.sample_frames(media, every_k=2, num_partitions=2).toPandas()
    assert set(out[out.media_id == 1].frame_idx) == {0, 2}
    assert (out.media_id == 2).sum() == 0
    assert not out.decoded.any()
