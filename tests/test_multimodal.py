"""Multimodal plumbing: binary payloads through Arrow batches, stubbed
codec gating, 1→N frame fan-out, mixed-modality passthrough."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_lab_three_spark.multimodal import (
    decode_media,
    extract_features,
    frame_sample,
    media_table_from_documents,
    resize_images,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return media_table_from_documents(spark, sf_dir).cache()


def test_media_schema_and_modalities(media):
    assert dict(media.dtypes)["payload"] == "binary"
    types = {r.media_type for r in media.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}


def test_decode_stats_match_payload_bytes(media):
    d = decode_media(media)
    row = (
        d.join(media, "media_id")
        .where(F.col("n_samples") != F.length("payload"))
        .count()
    )
    assert row == 0
    levels = d.agg(F.min("mean_level"), F.max("mean_level")).first()
    assert 0.0 <= levels[0] <= levels[1] <= 255.0


def test_unknown_codec_raises_not_implemented(spark, media):
    weird = media.withColumn(
        "meta",
        F.col("meta").withField("codec", F.lit("h264")),
    )
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        decode_media(weird).collect()


def test_features_are_normalized_histograms(media):
    f = extract_features(media, dim=16)
    first = f.first()
    assert len(first.features) == 16
    bad = f.where(
        F.abs(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x) - 1.0
        )
        > 1e-9
    ).count()
    assert bad == 0


def test_resize_rewrites_images_only(media):
    r = resize_images(media, 8, 4)
    imgs = r.where(F.col("media_type") == "image")
    others = r.where(F.col("media_type") != "image")
    assert imgs.where(F.length("payload") != 32).count() == 0
    assert imgs.where(
        (F.col("meta.width") != 8) | (F.col("meta.height") != 4)
    ).count() == 0
    # non-images byte-identical to input
    orig = media.where(F.col("media_type") != "image").select(
        "media_id", F.md5("payload").alias("h")
    )
    after = others.select("media_id", F.md5("payload").alias("h2"))
    assert orig.join(after, "media_id").where(
        F.col("h") != F.col("h2")
    ).count() == 0


def test_frame_sample_schedule(media):
    frames = frame_sample(media, every_ms=500)
    vids = media.where(F.col("media_type") == "video").select(
        "media_id", F.col("meta.duration_ms").alias("dur")
    )
    got = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("ts_ms").alias("last_ts")
    )
    j = vids.join(got, "media_id")
    assert j.where(
        F.col("n") != F.ceil(F.col("dur") / 500).cast("int")
    ).count() == 0
    assert j.where(F.col("last_ts") >= F.col("dur")).count() == 0


def test_available_decoders_always_has_fake():
    from big_data_lab_three_spark.multimodal import available_decoders

    reg = available_decoders()
    assert "raw-text" in reg
    arr = reg["raw-text"](b"\x00\x80\xff")
    assert list(arr) == [0, 128, 255]


def _png_bytes(px):
    """PNG bytes for a uint8 array — via Pillow when importable (so the
    vendored decoder gets cross-validated against a C implementation's
    output), else the vendored encoder."""
    try:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.fromarray(px, mode="L").save(buf, format="PNG")
        return buf.getvalue()
    except ImportError:
        from big_data_lab_three_spark.multimodal.png import encode_png

        return encode_png(px)


def test_png_payload_decodes_to_pixels(spark):
    """Real-codec path (Pillow OR the vendored pure-Python codec): a
    generated PNG decodes to w*h grayscale pixels with the exact mean
    the source array has."""
    import numpy as np

    from big_data_lab_three_spark.multimodal import MEDIA_SCHEMA

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = _png_bytes(px)
    rows = [
        (
            1,
            "image",
            bytearray(payload),
            ("image/png", 8, 8, None, None, len(payload)),
        )
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = decode_media(df).first()
    assert got.n_samples == 64
    assert got.mean_level == pytest.approx(float(px.mean()))


def test_png_resize_reencodes_at_target_resolution(spark):
    import numpy as np

    from big_data_lab_three_spark.multimodal import MEDIA_SCHEMA
    from big_data_lab_three_spark.multimodal.png import decode_png

    px = np.zeros((16, 16), dtype=np.uint8)
    payload = _png_bytes(px)
    rows = [
        (
            1,
            "image",
            bytearray(payload),
            ("image/png", 16, 16, None, None, len(payload)),
        )
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, 4, 4).first()
    assert out.meta.width == 4 and out.meta.height == 4
    assert out.meta.codec == "image/png"
    assert out.meta.n_bytes == len(bytes(out.payload))
    resized = decode_png(bytes(out.payload))
    assert resized.shape == (4, 4)
    assert (resized == 0).all()  # constant image resamples to itself


def test_vendored_png_roundtrip_all_color_types():
    import numpy as np

    from big_data_lab_three_spark.multimodal.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(3)
    for shape in [(8, 8), (5, 7, 2), (5, 7, 3), (4, 6, 4)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        b = decode_png(encode_png(a))
        assert b.shape == a.shape and (a == b).all()


def test_vendored_png_unfilters_all_five_filters():
    """Hand-filter scanlines straight from the PNG spec formulas (one
    row per filter type) and assert the decoder's unfilter inverts
    them — independent of the encoder, which only emits filter 0."""
    import struct
    import zlib

    import numpy as np

    from big_data_lab_three_spark.multimodal.png import decode_png

    rng = np.random.default_rng(5)
    w, h = 4, 5
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8).astype(int)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    rows, prev = [], [0] * w
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = list(px[y])
        left = lambda i: cur[i - 1] if i else 0  # noqa: E731
        if f == 0:
            filt = cur
        elif f == 1:
            filt = [(cur[i] - left(i)) & 0xFF for i in range(w)]
        elif f == 2:
            filt = [(cur[i] - prev[i]) & 0xFF for i in range(w)]
        elif f == 3:
            filt = [
                (cur[i] - ((left(i) + prev[i]) // 2)) & 0xFF for i in range(w)
            ]
        else:
            filt = [
                (cur[i] - paeth(left(i), prev[i], prev[i - 1] if i else 0))
                & 0xFF
                for i in range(w)
            ]
        rows.append(bytes([f]) + bytes(filt))
        prev = cur
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    data = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(data) == px).all()


def test_vendored_png_rejects_unsupported_loudly():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from big_data_lab_three_spark.multimodal.png import (
        decode_png,
        encode_png,
    )

    good = encode_png(np.zeros((2, 2), dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_png(b"GIF89a" + good)

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    interlaced = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_png(interlaced)
    deep = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_png(deep)


def test_decoder_registry_always_serves_png():
    """The real-codec path must exist in EVERY environment: Pillow when
    importable, the vendored codec otherwise."""
    import numpy as np

    from big_data_lab_three_spark.multimodal import available_decoders
    from big_data_lab_three_spark.multimodal.png import encode_png

    reg = available_decoders()
    assert "image/png" in reg
    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    got = reg["image/png"](encode_png(px))
    assert got.shape == (48,)
    assert (got == px.ravel()).all()


def test_binaryfile_ingest_to_decode_end_to_end(spark, tmp_path):
    """The full multimodal loop on REAL files: PNGs written to disk →
    ``binaryFile`` ingest (one row per file, extension-derived codec,
    MEDIA_SCHEMA conform) → Arrow-batched decode through the codec
    registry → exact pixel statistics."""
    import numpy as np

    from big_data_lab_three_spark.multimodal import MEDIA_SCHEMA
    from big_data_lab_three_spark.multimodal.png import encode_png
    from big_data_lab_three_spark.sources.readers import read_media_dir

    arrays = {
        "flat.png": np.full((4, 6), 200, dtype=np.uint8),
        "ramp.png": np.arange(64, dtype=np.uint8).reshape(8, 8),
    }
    sub = tmp_path / "nested"
    sub.mkdir()
    (tmp_path / "flat.png").write_bytes(encode_png(arrays["flat.png"]))
    (sub / "ramp.png").write_bytes(encode_png(arrays["ramp.png"]))
    (tmp_path / "ignored.csv").write_text("not,media\n")

    media = read_media_dir(spark, str(tmp_path))
    # conform on names + types (binaryFile's columns are nullable, so
    # nullability flags legitimately differ from the synthetic table's;
    # simpleString compares structure without them)
    assert media.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    rows = media.collect()
    assert len(rows) == 2  # the csv is filtered out
    assert {r.meta.codec for r in rows} == {"image/png"}
    assert all(r.meta.n_bytes == len(bytes(r.payload)) for r in rows)
    assert len({r.media_id for r in rows}) == 2

    stats = {
        r.media_id: r for r in decode_media(media).collect()
    }
    by_bytes = {
        r.meta.n_bytes: r.media_id
        for r in rows
    }
    # identify files by their encoded size (deterministic encoder)
    for name, px in arrays.items():
        enc_len = len(encode_png(px))
        mid = by_bytes[enc_len]
        got = stats[mid]
        assert got.n_samples == px.size
        assert got.mean_level == pytest.approx(float(px.mean()))


def test_binaryfile_metadata_query_prunes_content(spark, tmp_path):
    """A length/path census over the media dir must not read payload
    bytes: the binaryFile scan's ReadSchema should exclude `content`
    when only metadata is selected."""
    import numpy as np

    from big_data_lab_three_spark.multimodal.png import encode_png
    from big_data_lab_three_spark.sources.readers import read_media_dir

    (tmp_path / "a.png").write_bytes(
        encode_png(np.zeros((2, 2), dtype=np.uint8))
    )
    census = read_media_dir(spark, str(tmp_path)).select(
        "media_id", F.col("meta.n_bytes").alias("n_bytes")
    )
    plan = census._jdf.queryExecution().executedPlan().toString()
    scan = next(
        ln for ln in plan.splitlines() if "FileScan binaryFile" in ln
    )
    assert "content" not in scan.split("ReadSchema")[-1]
    assert census.count() == 1


def test_image_dhash_locality(spark):
    """dHash through the real decode path: (1) the hash of a known 8×8
    grid equals the hand-computed horizontal-gradient pack; (2) a
    single-pixel edit flips at most the TWO comparisons touching it —
    the locality property the banded-Hamming near-dup join relies on
    (Hamming ≤ 2 ≤ 3 for every planted mutation)."""
    import numpy as np

    from big_data_lab_three_spark.multimodal import MEDIA_SCHEMA
    from big_data_lab_three_spark.multimodal.decode import image_dhash

    rng = np.random.default_rng(41)
    base = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    variants = [("orig", base, None)]
    for n, (r, c) in enumerate([(0, 0), (3, 4), (7, 7), (5, 0)]):
        px = base.copy()
        px[r, c] = (int(px[r, c]) + 128) % 256
        variants.append((f"mut{n}", px, (r, c)))
    rows = [
        (
            i,
            "image",
            _png_bytes(px),
            {
                "codec": "image/png",
                "width": 8,
                "height": 8,
                "sample_rate": None,
                "duration_ms": None,
                "n_bytes": 0,
            },
        )
        for i, (_, px, _e) in enumerate(variants)
    ]
    got = {
        r["media_id"]: r["dhash"]
        for r in image_dhash(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    expect0 = sum(
        1 << (r * 7 + c)
        for r in range(8)
        for c in range(7)
        if base[r, c] < base[r, c + 1]
    )
    assert got[0] == expect0
    for i, (_, _px, edit) in enumerate(variants[1:], start=1):
        ham = bin(got[0] ^ got[i]).count("1")
        assert ham <= 2, f"edit at {edit} flipped {ham} > 2 dhash bits"


def test_image_phash_brightness_invariance(spark):
    """pHash through the real decode path: a uniform brightness shift
    is PROVABLY Hamming 0 (the shift lives in the DC coefficient —
    every AC basis row sums to zero), while a structural edit (one
    pixel wrapped by +128) moves the hash.  Also pins the shared
    integer basis: every AC column of phash_q sums to EXACTLY zero —
    the ± symmetry of the cosine rows survives quantization, which is
    what makes the brightness invariance provable rather than
    approximate."""
    import numpy as np

    from big_data_lab_three_spark.multimodal import MEDIA_SCHEMA
    from big_data_lab_three_spark.multimodal.decode import (
        image_phash,
        phash_q,
    )

    q = np.asarray(phash_q())
    assert q.shape == (8, 8) and q[0, 0] == 1_000_000
    col_sums = np.abs(q[:, 1:].sum(axis=0))
    assert int(col_sums.max()) == 0, (
        "AC basis columns must sum to exactly zero"
    )

    rng = np.random.default_rng(99)
    base = rng.integers(0, 200, size=(8, 8), dtype=np.uint8)
    bright = (base.astype(np.int64) + (255 - int(base.max()))).astype(
        np.uint8
    )
    mutated = base.copy()
    mutated[3, 4] = (int(mutated[3, 4]) + 128) % 256
    rows = [
        (
            i,
            "image",
            _png_bytes(px),
            {
                "codec": "image/png",
                "width": 8,
                "height": 8,
                "sample_rate": None,
                "duration_ms": None,
                "n_bytes": 0,
            },
        )
        for i, px in enumerate([base, bright, mutated])
    ]
    got = {
        r["media_id"]: r["phash"]
        for r in image_phash(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert got[0] == got[1], "uniform brightness shift must be Hamming 0"
    assert got[0] != got[2], "structural edit must move the hash"


def test_png_gen_partitions_logs_its_fallback(spark, sf_dir, tmp_path):
    """A filesystem error while sizing the PNG stage falls back to 16
    partitions and says so in the log; a readable tier is sized from
    its documents table (at least one partition)."""
    from logging.handlers import BufferingHandler

    from big_data_lab_three_spark.queries import corpus

    handler = BufferingHandler(capacity=100)
    corpus.log.addHandler(handler)
    try:
        missing = str(tmp_path / "no_such_tier")
        assert corpus._png_gen_partitions(spark, missing) == 16
    finally:
        corpus.log.removeHandler(handler)
    assert len(handler.buffer) == 1
    assert corpus._png_gen_partitions(spark, sf_dir) >= 1
