"""Arrow-batched media stages over ``mapInPandas``.

Each stage is a vectorized Pandas transform with an explicit output
``StructType`` — the shape a real decode pipeline has on a cluster:
binary payloads arrive per Arrow batch, numpy does the per-batch work,
and multi-row outputs (frame sampling) stream out without ever
materializing a whole partition.

Codec support is a REGISTRY: the deterministic ``raw-text`` fake
(payload bytes ARE the samples — the oracle-checked path) is always
present, and real image codecs register themselves by availability —
``image/png``+``image/jpeg`` via Pillow when importable, and
``image/png`` via the vendored pure-Python codec
(:mod:`big_data_lab_three_spark.multimodal.png`) otherwise, so the
real decode path (parse → inflate → unfilter → grayscale pixels) runs
in every environment.  A codec with no registered decoder raises
``NotImplementedError`` loudly rather than pretending.  The
Spark-side plumbing — schemas, Arrow batch iteration, multi-row
emission, partitioning — is identical whichever decoder runs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pandas only imported inside executors at runtime
    import pandas as pd

_FAKE_CODEC = "raw-text"
_PIL_CODECS = ("image/png", "image/jpeg")


def available_decoders() -> "dict[str, Callable]":
    """codec → (payload bytes → 1-D uint8 sample array).

    Built at call time INSIDE the executor task (mapInPandas workers
    call this per batch-iterator), so codec availability reflects the
    worker's environment, not the driver's.  ``raw-text`` is the
    always-present deterministic fake; PNG/JPEG decode to grayscale
    pixels when Pillow is importable, and PNG alone falls back to the
    vendored pure-Python codec (``multimodal/png.py``) so the real
    decode path is never environment-gated."""
    import numpy as np

    reg: dict[str, Callable] = {
        _FAKE_CODEC: lambda p: np.frombuffer(p, dtype=np.uint8)
    }
    try:
        import io

        from PIL import Image

        def _pil_decode(p: bytes):
            with Image.open(io.BytesIO(p)) as im:
                return np.asarray(im.convert("L"), dtype=np.uint8).ravel()

        for c in _PIL_CODECS:
            reg[c] = _pil_decode
    except ImportError:
        from big_data_lab_three_spark.multimodal.png import (
            decode_png,
            to_gray,
        )

        reg["image/png"] = lambda p: to_gray(decode_png(bytes(p))).ravel()
    return reg


def _require_codec(codecs: "pd.Series", decoders: "dict | None" = None) -> None:
    have = set(decoders or available_decoders())
    bad = set(codecs.unique()) - have
    if bad:
        raise NotImplementedError(
            f"no decoder for codec(s) {sorted(bad)}; available: "
            f"{sorted(have)} (install Pillow to enable "
            f"{list(_PIL_CODECS)})"
        )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("mean_level", T.DoubleType(), False),
    ]
)


def decode_media(df: DataFrame) -> DataFrame:
    """Decode payloads to sample statistics: (media_id, media_type,
    n_samples, mean sample level).  The ``raw-text`` fake treats payload
    bytes as 8-bit samples; the Pillow codecs (when available) produce
    grayscale pixel samples through the identical batch structure."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        decoders = available_decoders()
        for b in batches:
            if len(b) == 0:
                continue
            _require_codec(b["codec"], decoders)
            samples = [
                decoders[c](p) for c, p in zip(b["codec"], b["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "media_type": b["media_type"],
                    "n_samples": pd.Series(
                        [len(s) for s in samples], index=b.index
                    ).astype("int32"),
                    "mean_level": pd.Series(
                        [float(s.mean()) for s in samples], index=b.index
                    ),
                }
            )

    flat = df.select(
        "media_id", "media_type", "payload", F.col("meta.codec").alias("codec")
    )
    return flat.mapInPandas(run, DECODED_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash) per image through the REAL
    decode path: payload → codec-registry decode → 8×8 grayscale grid →
    horizontal-gradient sign bits — bit ``r·7+c`` is 1 iff
    ``p[r,c] < p[r,c+1]`` — packed little-endian into one int64 (56
    bits, comfortably inside the sign bit).

    dHash is the standard perceptual near-dup signature (the image
    twin of simhash): a local pixel edit flips at most the two
    comparisons that touch it, so near-identical images differ in
    O(edits) bits and the banded-Hamming machinery the text family
    uses (`dedup_simhash`'s Manku-style pigeonhole) applies verbatim.
    One vectorized pass per Arrow batch; the per-image work is a
    reshape + one elementwise compare + one dot with the bit-weight
    vector."""
    height = width = 8

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        decoders = available_decoders()
        weights = (
            np.int64(1) << np.arange(height * (width - 1), dtype=np.int64)
        )
        for b in batches:
            if len(b) == 0:
                continue
            _require_codec(b["codec"], decoders)
            out = np.empty(len(b), dtype=np.int64)
            for n, (c, p) in enumerate(zip(b["codec"], b["payload"])):
                s = decoders[c](p)
                if s.size != height * width:
                    raise ValueError(
                        f"image_dhash expects {height}x{width} grayscale "
                        f"({height * width} samples), got {s.size}"
                    )
                g = s.reshape(height, width).astype(np.int16)
                bits = (g[:, :-1] < g[:, 1:]).reshape(-1)
                out[n] = int(bits @ weights)
            yield pd.DataFrame(
                {"media_id": b["media_id"].astype("int64"), "dhash": out}
            )

    flat = df.select(
        "media_id", "payload", F.col("meta.codec").alias("codec")
    )
    return flat.mapInPandas(run, DHASH_SCHEMA)


def phash_q() -> list[list[int]]:
    """The integer-quantized 8×8 DCT-II basis shared by the Spark
    ``image_phash`` stage and the DuckDB oracle's VALUES table:
    ``q[x][u] = round(cos((2x+1)·u·π/16) · 1e6)`` — ONE source of
    truth, so the two engines' DCTs are the SAME exact-integer
    arithmetic (float cosines would differ in last-bit rounding
    between numpy expressions and SQL)."""
    import math

    return [
        [
            round(math.cos((2 * x + 1) * u * math.pi / 16) * 1_000_000)
            for u in range(8)
        ]
        for x in range(8)
    ]


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def image_phash(df: DataFrame) -> DataFrame:
    """Perceptual DCT hash (pHash) per 8×8 grayscale image through the
    REAL decode path: payload → codec-registry decode → integer DCT-II
    (the shared :func:`phash_q` quantized basis — exact int64
    arithmetic, |c| ≤ 64·255·1e12 < 2⁶³) → drop the DC term → each of
    the 63 AC coefficients compares against their lower median →
    63 bits packed into one int64.

    pHash keys on low-frequency STRUCTURE: a uniform brightness shift
    moves only the DC coefficient (every AC basis row sums to zero),
    so brightness-shifted re-encodes are PROVABLY Hamming 0 — the
    perceptual-dup class digest dedup cannot see.  Complements
    ``image_dhash`` (local-gradient hash) the way the text family
    pairs simhash with minhash."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        decoders = available_decoders()
        q = np.asarray(phash_q(), dtype=np.int64)
        weights = np.int64(1) << np.arange(63, dtype=np.int64)
        for b in batches:
            if len(b) == 0:
                continue
            _require_codec(b["codec"], decoders)
            out = np.empty(len(b), dtype=np.int64)
            for n, (c, p) in enumerate(zip(b["codec"], b["payload"])):
                s = decoders[c](p)
                if s.size != 64:
                    raise ValueError(
                        f"image_phash expects 8x8 grayscale (64 "
                        f"samples), got {s.size}"
                    )
                g = s.reshape(8, 8).astype(np.int64)
                coef = q.T @ g @ q
                ac = np.delete(coef.reshape(-1), 0)
                med = np.sort(ac, kind="stable")[31]  # lower median of 63
                out[n] = int((ac > med).astype(np.int64) @ weights)
            yield pd.DataFrame(
                {"media_id": b["media_id"].astype("int64"), "phash": out}
            )

    flat = df.select(
        "media_id", "payload", F.col("meta.codec").alias("codec")
    )
    return flat.mapInPandas(run, PHASH_SCHEMA)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Per-media feature vector: `dim`-bucket byte histogram, L1
    normalized — the deterministic stand-in for an embedding model, with
    the batch shape (binary in, fixed-size float array out) of the real
    thing."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField(
                "features", T.ArrayType(T.DoubleType(), False), False
            ),
        ]
    )

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        decoders = available_decoders()
        for b in batches:
            if len(b) == 0:
                continue
            _require_codec(b["codec"], decoders)
            feats = []
            for c, p in zip(b["codec"], b["payload"]):
                s = decoders[c](p)
                feats.append(
                    (
                        np.bincount(
                            # int32 first: uint8 * dim would wrap at 256
                            s.astype(np.int32) * dim // 256,
                            minlength=dim,
                        ).astype("float64")
                        / max(len(s), 1)
                    ).tolist()
                )
            yield pd.DataFrame(
                {"media_id": b["media_id"], "features": feats}
            )

    flat = df.select(
        "media_id", "payload", F.col("meta.codec").alias("codec")
    )
    return flat.mapInPandas(run, schema)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize image rows to ``width``×``height``, meta rewritten;
    non-image rows pass through untouched, so the stage is safe to run
    on a mixed-modality table.

    Per-codec semantics: ``raw-text`` payloads are tiled/truncated to
    w·h bytes (the deterministic fake for pixel interpolation —
    oracle-checked); ``image/png``/``image/jpeg`` payloads are really
    decoded, bilinear-resampled, and re-encoded as PNG — via Pillow
    when importable, else the vendored PNG codec (PNG only) — the meta
    codec flips to ``image/png`` and ``n_bytes`` to the encoded
    size."""
    schema = df.schema

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        decoders = available_decoders()
        target = width * height

        def resize_one(codec: str, p: bytes) -> tuple[str, bytes]:
            if codec == _FAKE_CODEC:
                return codec, bytes(
                    np.resize(np.frombuffer(p, dtype=np.uint8), target)
                )
            try:
                import io

                from PIL import Image
            except ImportError:
                from big_data_lab_three_spark.multimodal.png import (
                    bilinear_resize,
                    decode_png,
                    encode_png,
                )

                resized = bilinear_resize(decode_png(bytes(p)), width, height)
                return "image/png", encode_png(resized)

            with Image.open(io.BytesIO(p)) as im:
                out = io.BytesIO()
                im.resize(
                    (width, height), Image.Resampling.BILINEAR
                ).save(out, format="PNG")
                return "image/png", out.getvalue()

        for b in batches:
            if len(b) == 0:
                continue
            img = b["media_type"] == "image"
            if img.any():
                _require_codec(
                    pd.Series([m["codec"] for m in b.loc[img, "meta"]]),
                    decoders,
                )
            out = b.copy()
            resized = {
                i: resize_one(out.at[i, "meta"]["codec"], out.at[i, "payload"])
                for i in out.index[img]
            }
            out.loc[img, "payload"] = pd.Series(
                {i: pb for i, (_, pb) in resized.items()}
            )
            out.loc[img, "meta"] = pd.Series(
                {
                    i: {
                        **out.at[i, "meta"],
                        "codec": codec,
                        "width": width,
                        "height": height,
                        "n_bytes": len(pb),
                    }
                    for i, (codec, pb) in resized.items()
                }
            )
            yield out

    return df.mapInPandas(run, schema)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.IntegerType(), False),
        T.StructField("frame_bytes", T.IntegerType(), False),
    ]
)


def frame_sample(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """Sample video frames every ``every_ms``: one output row per frame
    at t = 0, every_ms, … < duration_ms.  Demonstrates the 1→N row
    fan-out of a real frame extractor (which would attach pixel buffers
    where this emits per-frame byte offsets).  Non-video rows are
    filtered Spark-side so the scan prunes them before Python."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            _require_codec(b["codec"])
            rows = {
                "media_id": [],
                "frame_idx": [],
                "ts_ms": [],
                "frame_bytes": [],
            }
            for mid, dur, nb in zip(
                b["media_id"], b["duration_ms"], b["n_bytes"]
            ):
                n = int((int(dur) + every_ms - 1) // every_ms)
                per = int(nb) // max(n, 1)
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["frame_bytes"].append(per)
            yield pd.DataFrame(rows).astype(
                {
                    "media_id": "int64",
                    "frame_idx": "int32",
                    "ts_ms": "int32",
                    "frame_bytes": "int32",
                }
            )

    vids = df.where(F.col("media_type") == "video").select(
        "media_id",
        F.col("meta.codec").alias("codec"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return vids.mapInPandas(run, FRAME_SCHEMA)
