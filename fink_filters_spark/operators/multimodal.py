"""Multimodal (binary) column operators.

The reference's precedent is image-cutout processing: each ZTF alert carries
``cutout{Science,Template,Difference}.stampData: binary`` stamps analyzed by
KS-statistics inside a pandas UDF (``ztf/livestream/filter_new_hostless/
utils.py:87-142``). Generalized here: media ride as opaque ``binary`` columns
with typed metadata; byte-level ops (length, digest, magic sniffing, header
slicing) are native Catalyst; content decode / feature extraction runs as an
Arrow-batched ``mapInPandas`` kernel with an explicit output schema.

The actual decoders (PIL/ffmpeg-class libs) are NOT in this container, so
``decode_image_batch`` computes a deterministic fake feature vector from the
raw bytes (clearly marked); the Spark-side plumbing — schema, batch shape,
partition sizing — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAGIC_PREFIXES = {
    "89504e47": "png",
    "ffd8ff": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi container
    "664c6143": "flac",
    "00000020667479706d7034": "mp4",
}


def binary_meta(df: DataFrame, bin_col: str) -> DataFrame:
    """Native byte-level metadata: size, md5 digest, sniffed format."""
    hexhead = F.lower(F.hex(F.expr(f"substring({bin_col}, 1, 12)")))
    fmt = F.lit(None).cast("string")
    # build the when-chain inside-out: each iteration wraps the previous
    # chain in .otherwise(), so the LAST prefix iterated is tested FIRST —
    # iterate shortest-first so the longest (most specific) prefix wins
    # when prefixes overlap (round-7 review: the -len sort had it inverted)
    for prefix, name in sorted(MAGIC_PREFIXES.items(), key=lambda kv: len(kv[0])):
        fmt = F.when(hexhead.startswith(prefix), name).otherwise(fmt)
    return df.withColumns(
        {
            "media_bytes": F.length(F.col(bin_col)).cast("long"),
            "media_md5": F.md5(F.col(bin_col)),
            "media_format": fmt,
        }
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
        StructField("status", StringType()),
    ]
)


def decode_image_batch(df: DataFrame, id_col: str, bin_col: str, feature_dim: int = 8) -> DataFrame:
    """Decode/feature-extract stage over a binary column via mapInPandas.

    DETERMINISTIC FAKE decode: real image libs are unavailable in this
    environment, so the 'feature vector' is byte-histogram moments of the
    raw payload. The Arrow batch shape, output schema and partition-level
    parallelism are exactly what a real decoder kernel would use — swap the
    body for PIL/torchvision and keep the plumbing.
    """

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats, sizes, status = [], [], []
            for payload in pdf[bin_col]:
                if payload is None:
                    feats.append([0.0] * feature_dim)
                    sizes.append(0)
                    status.append("null")
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                sizes.append(len(arr))
                if len(arr) == 0:
                    feats.append([0.0] * feature_dim)
                    status.append("empty")
                    continue
                hist = np.bincount(arr % feature_dim, minlength=feature_dim)
                feats.append((hist / len(arr)).tolist())
                status.append("ok")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media_bytes": sizes,
                    "feature": feats,
                    "status": status,
                }
            )

    return df.select(id_col, bin_col).mapInPandas(kernel, DECODE_SCHEMA)


KS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kstest", DoubleType()),
    ]
)


def image_kstest(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Kolmogorov-Smirnov statistic of the payload's byte distribution vs
    uniform — the engine-side analogue of the reference's ELEPHANT cutout
    statistics (``ztf/livestream/filter_new_hostless/utils.py:87-142``, there
    a KS test on sigma-clipped pixel values via fink-science).

    The KS math (max |ECDF - CDF|) is computed exactly in the kernel with
    numpy (scipy-free); on real image data the byte payload would first be
    decoded to pixels — this operator supplies the ``kstest_*`` columns the
    hostless topic filters consume.
    """

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_ids, stats = [], []
            for i, payload in zip(pdf[id_col], pdf[bin_col]):
                out_ids.append(i)
                if payload is None or len(payload) == 0:
                    stats.append(None)
                    continue
                arr = np.sort(np.frombuffer(payload, dtype=np.uint8).astype(np.float64))
                n = len(arr)
                # uniform CDF on [0, 255]; ECDF step just after each point
                cdf = (arr + 1.0) / 256.0
                ecdf_hi = np.arange(1, n + 1) / n
                ecdf_lo = np.arange(0, n) / n
                ks = float(np.max(np.maximum(np.abs(ecdf_hi - cdf), np.abs(ecdf_lo - cdf))))
                stats.append(ks)
            yield pd.DataFrame({"doc_id": out_ids, "kstest": stats})

    return df.select(id_col, bin_col).mapInPandas(kernel, KS_SCHEMA)


STAMP_KS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kstest_science", DoubleType()),
        StructField("kstest_template", DoubleType()),
    ]
)


def stamp_kstest(
    df: DataFrame,
    id_col: str,
    science_col: str,
    template_col: str,
    sigma: float = 3.0,
) -> DataFrame:
    """REAL cutout-stamp KS statistics: per row, gunzip + FITS-decode both
    stamps (pure-numpy codec, ``operators/fits.py``), sigma-clip the pixel
    values and compute the one-sample KS statistic vs a fitted normal —
    the decode-to-score path the reference runs inside
    ``ztf/livestream/filter_new_hostless/utils.py:87-142`` (ELEPHANT,
    arXiv:2404.18165), here as one Arrow ``mapInPandas`` kernel so each
    stamp is decoded exactly where its bytes live (no shuffle, no driver).

    Undecodable/None payloads yield NULL statistics (the downstream
    hostless predicates then reject the row, matching the reference's
    score-range gate ``0 <= ks <= threshold``).
    """
    from fink_filters_spark.operators.fits import stamp_ks

    def kernel(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        def one(payload):
            if payload is None:
                return None
            try:
                ks = stamp_ks(payload, sigma=sigma)
            except (ValueError, OSError, EOFError, zlib.error):
                # not FITS / corrupt gzip framing / corrupt deflate body —
                # a bad stamp must NULL out, never fail the task
                return None
            # a decodable stamp whose pixels all sigma-clip away (fully
            # masked cutout) yields NaN from the KS statistic — fold it to
            # NULL so the documented bad-stamp contract holds (Spark sorts
            # NaN above everything and NaN == NaN, unlike NULL)
            import math

            return None if (ks is not None and math.isnan(ks)) else ks

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "kstest_science": [one(p) for p in pdf[science_col]],
                    "kstest_template": [one(p) for p in pdf[template_col]],
                }
            )

    return df.select(id_col, science_col, template_col).mapInPandas(
        kernel, STAMP_KS_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def fake_frames(payload: bytes, frame_bytes: int = 64) -> list[bytes]:
    """DETERMINISTIC FAKE video decoder: treats the payload as fixed-size
    raw 'frames' (``frame_bytes`` each, tail dropped). Stands in for an
    ffmpeg-class decoder so the exploding plumbing is testable."""
    return [
        payload[i : i + frame_bytes]
        for i in range(0, len(payload) - frame_bytes + 1, frame_bytes)
    ]


def frame_sample(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    every_n: int = 30,
    decoder=fake_frames,
) -> DataFrame:
    """Video frame-sampling: one input row -> one output row per kept frame
    (every ``every_n``-th). The 1->N explosion happens INSIDE the Arrow
    kernel, so a 2-hour video never materializes as a single task row list;
    at scale, repartition upstream so one task holds few videos.

    ``decoder: bytes -> list[bytes]`` is injectable; the default is the
    clearly-marked deterministic fake (no media libs in this container).
    """
    if every_n < 1:
        raise ValueError(
            f"frame_sample: every_n must be >= 1, got {every_n} (0 would "
            "crash range() in the kernel, negatives silently sample nothing)"
        )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as _pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, payload in zip(pdf["__id"], pdf["__bin"]):
                if payload is None:
                    continue
                all_frames = decoder(bytes(payload))
                for j in range(0, len(all_frames), every_n):
                    ids.append(i)
                    idxs.append(j)
                    frames.append(all_frames[j])
            yield _pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    src = df.select(F.col(id_col).alias("__id"), F.col(bin_col).alias("__bin"))
    return src.mapInPandas(kernel, FRAME_SCHEMA)


def fake_image(payload: bytes, width: int, height: int):
    """DETERMINISTIC FAKE image decoder: bytes -> uint8 grid, truncated or
    zero-padded to (height, width). Stands in for PIL-class decoding."""
    import numpy as np

    need = width * height
    buf = np.frombuffer(payload[:need], dtype=np.uint8)
    if len(buf) < need:
        buf = np.concatenate([buf, np.zeros(need - len(buf), dtype=np.uint8)])
    return buf.reshape(height, width)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixels", BinaryType()),
    ]
)


def image_resize(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    out_w: int = 16,
    out_h: int = 16,
    src_w: int = 64,
    src_h: int = 64,
    decoder=fake_image,
) -> DataFrame:
    """Image resize stage: decode (injectable; fake here) then REAL
    nearest-neighbor resampling with vectorized NumPy indexing. Output is
    the resized raw grid as binary + dimensions (typed metadata)."""
    import numpy as np

    ys = (np.arange(out_h) * src_h) // out_h
    xs = (np.arange(out_w) * src_w) // out_w

    def kernel(batches: Iterator) -> Iterator:
        import pandas as _pd

        for pdf in batches:
            ids, pix = [], []
            for i, payload in zip(pdf["__id"], pdf["__bin"]):
                if payload is None:
                    continue
                img = decoder(bytes(payload), src_w, src_h)
                ids.append(i)
                pix.append(img[np.ix_(ys, xs)].tobytes())
            yield _pd.DataFrame(
                {"doc_id": ids, "width": out_w, "height": out_h, "pixels": pix}
            )

    src = df.select(F.col(id_col).alias("__id"), F.col(bin_col).alias("__bin"))
    return src.mapInPandas(kernel, RESIZE_SCHEMA)


def fake_pcm(payload: bytes):
    """DETERMINISTIC FAKE audio decoder: bytes -> int16 PCM samples
    (tail byte dropped). Stands in for a codec library."""
    import numpy as np

    n = (len(payload) // 2) * 2
    return np.frombuffer(payload[:n], dtype="<i2").astype(np.float64)


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", DoubleType()),
        StructField("zcr", DoubleType()),
        StructField("centroid", DoubleType()),
    ]
)


def audio_features(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    decoder=fake_pcm,
) -> DataFrame:
    """Audio feature extraction: decode (injectable; fake PCM here) then
    REAL vectorized DSP — RMS energy, zero-crossing rate, FFT spectral
    centroid — per row inside one Arrow batch."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["__id"], pdf["__bin"]):
                if payload is None:
                    continue
                x = decoder(bytes(payload))
                n = len(x)
                if n == 0:
                    rows.append((i, 0, 0.0, 0.0, 0.0))
                    continue
                rms = float(np.sqrt(np.mean(x * x)))
                zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
                spec = np.abs(np.fft.rfft(x))
                tot = float(spec.sum())
                freqs = np.fft.rfftfreq(n)
                centroid = float((freqs * spec).sum() / tot) if tot > 0 else 0.0
                rows.append((i, n, rms, zcr, centroid))
            yield _pd.DataFrame(rows, columns=["doc_id", "n_samples", "rms", "zcr", "centroid"])

    src = df.select(F.col(id_col).alias("__id"), F.col(bin_col).alias("__bin"))
    return src.mapInPandas(kernel, AUDIO_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def image_phash(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    src_w: int = 16,
    src_h: int = 16,
) -> DataFrame:
    """64-bit average-hash over the (fake-)decoded image: decode to a
    src_w x src_h grid, block-mean down to 8x8, set bit i where cell i is
    above the global mean. The decode is the deterministic stand-in
    (``fake_image``); the hashing math, Arrow batching and output shape
    are the production kernel. Bit order: row-major, MSB first.
    ``src_w``/``src_h`` must be multiples of 8 (validated at plan time —
    the 8x8 block-mean reshape would otherwise die mid-task with an
    opaque executor traceback)."""
    if src_w % 8 or src_h % 8 or src_w < 8 or src_h < 8:
        raise ValueError(
            f"image_phash: src_w/src_h must be positive multiples of 8, "
            f"got {src_w}x{src_h}"
        )

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                ids.append(doc_id)
                if payload is None:
                    hashes.append(None)
                    continue
                img = fake_image(bytes(payload), src_w, src_h).astype(np.float64)
                bh, bw = src_h // 8, src_w // 8
                small = img.reshape(8, bh, 8, bw).mean(axis=(1, 3))
                bits = (small > small.mean()).flatten()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # store as signed int64 (two's complement) for LongType
                if h >= 1 << 63:
                    h -= 1 << 64
                hashes.append(h)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return df.select(id_col, bin_col).mapInPandas(kernel, PHASH_SCHEMA)


def phash_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs by banded hamming join (the simhash
    scheme applied to perceptual hashes): split the 64-bit hash into
    ``n_bands`` near-equal bands; candidates share at least one exact band;
    verify candidates with an exact popcount of the XOR. No all-pairs
    comparison — the join is an equi-join on (band_index, band_value).

    Recall guarantee: ``n_bands`` defaults to ``max_hamming + 1``, so by
    pigeonhole ``max_hamming`` differing bits cannot touch every band and
    the banded join is LOSSLESS — the result is exactly the full
    ``hamming <= max_hamming`` pair set. Passing a smaller ``n_bands``
    trades recall for fewer candidates: only pairs whose differing bits
    fall in fewer than ``n_bands`` bands are guaranteed (complete only up
    to ``hamming <= n_bands - 1``)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError("phash_pairs: n_bands must be in [1, 64]")
    # near-equal band widths covering all 64 bits (64 need not divide evenly)
    base, rem = divmod(64, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    banded = hashes.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "__h", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)
