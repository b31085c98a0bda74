"""Approximate-nearest-neighbor search over an embedding column.

- ``knn_bruteforce``  — exact top-k for a (small) query set: broadcast the
  queries, scan the corpus once, per-query top-k via window. Linear in
  corpus size, embarrassingly parallel — the correct *baseline* even at
  100 TB when the query set is small.
- ``ivf_assign`` / ``ivf_search`` — IVF (inverted-file) scale path: corpus
  rows are assigned to their nearest coarse centroid (the partition key);
  a query probes only ``nprobe`` nearest centroids' partitions. Centroids
  here are caller-provided (e.g. a fixed seed subset or k-means output), so
  assignment is deterministic and oracle-checkable.
- ``lsh_search`` — sign-random-projection LSH scale path: every vector gets
  a P-bit signature (sign of the dot product against P fixed ±1
  hyperplanes), split into bands; candidates are pairs sharing any band
  value (an equi join on ``(band, signature)``), then exact cosine within
  candidates. Hyperplanes come from ``sign_planes`` (hash-derived, so both
  engines see the same literals). Unlike IVF this needs no training step
  and the bucket join needs no broadcast of corpus state.

All cosine math uses the quantized-integer convention (functions/vectors.py)
for cross-engine bit parity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.vectors import VEC_SCALE, dot_q, norm_sq_q, quantize_vec


def _quantized(df: DataFrame, id_col: str, vec_col: str, id_alias: str, vec_alias: str, nsq_alias: str) -> DataFrame:
    """(id, quantized vec, squared norm) — norms precomputed once per row so
    the O(pairs) stage folds only the dot product (1 fold/pair, not 3)."""
    q = df.select(F.col(id_col).alias(id_alias), quantize_vec(vec_col).alias(vec_alias))
    return q.select(
        id_alias, vec_alias, norm_sq_q(F.col(vec_alias)).cast("double").alias(nsq_alias)
    )


def _cos(av, bv, ansq, bnsq) -> "F.Column":
    # same expression tree as cosine_sim_q: dot / sqrt(na) / sqrt(nb).
    # Zero-norm guard via when(): under ANSI mode (Spark 4 default) 0/0 is
    # a hard DIVIDE_BY_ZERO error, and when() is the only form guaranteed
    # not to evaluate the division for guarded rows (a separate filter
    # conjunct may be reordered). Zero vectors get NULL cosine: excluded by
    # >= tau filters, ordered last by desc sorts.
    return F.when(
        (F.col(ansq) > 0) & (F.col(bnsq) > 0),
        dot_q(F.col(av), F.col(bv)).cast("double")
        / F.sqrt(F.col(ansq))
        / F.sqrt(F.col(bnsq)),
    )


def _nearest_centroids(
    side: DataFrame, cents: DataFrame, id_col: str, vec: str, nsq: str, n: int = 1
) -> DataFrame:
    """Every row of ``side`` (all its columns ride through) with its ``n``
    max-cosine centroids among ``cents`` (centroid_id, __kv, __kn), ties to
    the smaller centroid id, plus the unrounded ``cosine``. A broadcast
    nested-loop join and one rank window partitioned by ``id_col``, so the
    side's vectors are quantized once and shuffled once."""
    scored = side.join(F.broadcast(cents)).select(
        *side.columns, "centroid_id", _cos(vec, "__kv", nsq, "__kn").alias("cosine")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cosine"), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def _topk(cand: DataFrame, k: int, score: Column, *out: Column) -> DataFrame:
    """Shared top-k tail: score the candidate pairs (``__qid``/``__cid``
    and their quantized sides) as ``__s``, rank per query by score desc
    with neighbor_id asc as the tie-break, keep the top ``k``, and project
    ``out`` between the ids and the rank."""
    pairs = cand.select(
        F.col("__qid").alias("q_id"), F.col("__cid").alias("neighbor_id"), score.alias("__s")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("__s"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", *out, "rank")
    )


def _topk_by_cosine(cand: DataFrame, k: int) -> DataFrame:
    """Top-k by quantized cosine, rounded to 6 places for display."""
    return _topk(
        cand, k, _cos("__qv", "__cv", "__qn", "__cn"), F.round("__s", 6).alias("cosine")
    )


def _topk_by_dot(cand: DataFrame, k: int) -> DataFrame:
    """MIPS top-k by the exact-integer dot product, divided back to float
    once for display."""
    return _topk(
        cand,
        k,
        dot_q(F.col("__qv"), F.col("__cv")),
        F.round(F.col("__s").cast("double") / (VEC_SCALE * VEC_SCALE), 6).alias("dot"),
        # exact integer dot in scale^2 units — the hash-stable column
        # the query layer exposes (hash-stability, DESIGN.md)
        F.col("__s").cast("long").alias("dot_q12"),
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excludes self-matches by id)."""
    q = _quantized(queries, q_id, q_vec, "__qid", "__qv", "__qn")
    c = _quantized(corpus, c_id, c_vec, "__cid", "__cv", "__cn")
    return _topk_by_cosine(c.join(F.broadcast(q), F.col("__qid") != F.col("__cid")), k)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    c_id: str = "vec_id",
    cent_id: str = "centroid_id",
    c_vec: str = "embedding",
    cent_vec: str = "centroid_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    ties by centroid id). Output: (vec_id, centroid_id, cosine)."""
    c = _quantized(corpus, c_id, c_vec, "vec_id", "__cv", "__cn")
    cents = _quantized(centroids, cent_id, cent_vec, "centroid_id", "__kv", "__kn")
    return _nearest_centroids(c, cents, "vec_id", "__cv", "__cn").select(
        "vec_id", "centroid_id", F.round("cosine", 6).alias("cosine")
    )


def ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid_vec",
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest centroid partitions per query,
    exact top-k within the probed subset.

    At scale the corpus is stored partitioned/bucketed by ``centroid_id``
    (partition pruning makes the probe a targeted scan, not a full pass).
    The corpus assignment carries the quantized vectors through its rank
    window, so the corpus is quantized once and shuffled once."""
    c = _quantized(corpus, c_id, c_vec, "__cid", "__cv", "__cn")
    q = _quantized(queries, q_id, q_vec, "__qid", "__qv", "__qn")
    cents = _quantized(centroids, cent_id, cent_vec, "centroid_id", "__kv", "__kn")
    assigned = _nearest_centroids(c, cents, "__cid", "__cv", "__cn").drop("cosine")
    probes = _nearest_centroids(q, cents, "__qid", "__qv", "__qn", nprobe).drop("cosine")
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("__qid") != F.col("__cid")
    )
    return _topk_by_cosine(cand, k)


def sign_planes(n_planes: int, dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from SHA-256 parity — generated once in
    Python and embedded as literals in both the Spark plan and any SQL
    oracle, so every engine hashes identically."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{i}".encode()).digest()
            row.append(1 if h[-1] & 1 else -1)
        planes.append(row)
    return planes


def _band_signatures(df: DataFrame, vec_col: str, planes: list[list[int]],
                     band_bits: int) -> DataFrame:
    """Add ``band`` / ``sig`` columns, one row per (input row, band): the
    pure-Catalyst reference for ``_band_signatures_arrow``.

    Per-plane bit = sign of an exact integer dot product (quantized
    vector × ±1 literal array), band signature = bit-packed sum."""
    n_bands = len(planes) // band_bits
    bits = [
        F.when(dot_q(F.col(vec_col), F.array(*[F.lit(s) for s in plane])) >= 0, 1).otherwise(0)
        for plane in planes
    ]
    bands = F.array(*[
        sum(bits[b * band_bits + j] * (1 << j) for j in range(band_bits))
        for b in range(n_bands)
    ])
    return (
        df.withColumn("__bands", bands)
        .select("*", F.posexplode("__bands").alias("band", "sig"))
        .drop("__bands")
    )


def _half_up(y: np.ndarray) -> np.ndarray:
    """BigDecimal-HALF_UP on non-negative doubles, bit-for-bit. The
    fractional part y - floor(y) is EXACT for y < 2^52, so comparing it to
    0.5 reproduces HALF_UP; ``floor(y + 0.5)`` does not (adding 0.5 can
    itself round up, e.g. y = 0.5 - 2^-54 gives 1), and ``np.round`` ties
    to even."""
    fl = np.floor(y)
    return fl + ((y - fl) >= 0.5)


def _quantize_np(mat: np.ndarray) -> np.ndarray:
    """NumPy twin of ``quantize_vec``: ``round(x * VEC_SCALE)`` as int64,
    HALF_UP like Spark's ``round``, element for element."""
    return (np.sign(mat) * _half_up(np.abs(mat) * VEC_SCALE)).astype(np.int64)


def _band_signatures_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[int]],
    band_bits: int,
    id_alias: str,
    aug_m2_col: str | None = None,
) -> DataFrame:
    """``(id_alias, band, sig)``, one row per (input row, band): quantize
    and sign-project a batch as one NumPy int64 matmul instead of P
    interpreted ``aggregate`` folds per row, bit-identical to
    ``_band_signatures`` over ``_quantized``. Only ids leave the kernel:
    callers re-attach vectors after their id-level dedup, so the widest
    column is not shuffled once per band.

    Input contract (validated, matching the Catalyst path's ANSI
    behavior of failing loudly): embeddings must be non-NULL, rectangular
    and NaN-free — a NaN would otherwise cast to INT64_MIN silently.

    ``aug_m2_col``: MIPS norm-augmentation. Names a column holding the
    corpus-max quantized norm-square M2 (a broadcast scalar); the planes
    must then span dim+1 coordinates, and the signature matmul appends
    ``half_up(sqrt(M2 - |q|^2))`` to each quantized vector (HALF_UP, as
    the oracle's round(): a correctly-rounded sqrt can land exactly on
    k+0.5 once magnitudes exceed ~2^25)."""
    from collections.abc import Iterator

    from .grams import _spread

    if band_bits > 31:
        raise ValueError(
            f"band_bits={band_bits} overflows the int32 band signature "
            "(bit 31 would wrap negative and split from the literal-sum "
            "path); use band_bits <= 31"
        )
    if len(planes) % band_bits:
        raise ValueError(
            f"{len(planes)} sign planes do not split into bands of "
            f"band_bits={band_bits}; n_planes must be a multiple of band_bits"
        )
    pmat = np.asarray(planes, dtype=np.int64)
    n_bands = len(planes) // band_bits
    weights = (np.int64(1) << np.arange(band_bits, dtype=np.int64))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"__i": pdf["__id"], "__s": []})
                continue
            if pdf["__v"].isna().any():
                raise ValueError(
                    f"_band_signatures_arrow: NULL embedding in {vec_col!r} "
                    "(the Catalyst path fails here too; drop or impute "
                    "upstream)"
                )
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            except ValueError as e:
                raise ValueError(
                    f"_band_signatures_arrow: ragged embeddings in "
                    f"{vec_col!r} — all vectors must share one dimension"
                ) from e
            if np.isnan(mat).any():
                raise ValueError(
                    f"_band_signatures_arrow: NaN embedding element in "
                    f"{vec_col!r} (would quantize to INT64_MIN silently)"
                )
            q = _quantize_np(mat)
            if aug_m2_col is not None:
                m2 = pdf["__m2"].to_numpy().astype(np.int64)
                aug = _half_up(np.sqrt((m2 - (q * q).sum(axis=1)).astype(np.float64)))
                q = np.concatenate([q, aug.astype(np.int64)[:, None]], axis=1)
            if q.shape[1] != pmat.shape[1]:
                # clear message instead of an opaque matmul shape error —
                # the natural misuse is dim-wide lsh_search planes passed
                # to the MIPS path, which needs dim+1 (norm augmentation)
                raise ValueError(
                    f"sign planes span {pmat.shape[1]} coordinates but "
                    f"vectors have {q.shape[1]} "
                    f"({'dim+1, norm-augmented' if aug_m2_col else 'dim'})"
                )
            bits = (q @ pmat.T >= 0).astype(np.int64)
            sigs = (bits.reshape(len(q), n_bands, band_bits) @ weights).astype(np.int32)
            yield pd.DataFrame({"__i": pdf["__id"].to_numpy(), "__s": list(sigs)})

    cols = [F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")]
    if aug_m2_col is not None:
        cols.append(F.col(aug_m2_col).alias("__m2"))
    # id passes through untouched — declare ITS type, not a hardcoded long
    id_type = df.schema[id_col].dataType.simpleString()
    out = _spread(df).select(*cols).mapInPandas(kernel, f"__i {id_type}, __s array<int>")
    return out.select(F.col("__i").alias(id_alias), F.posexplode("__s").alias("band", "sig"))


def _band_candidates(
    qsig: DataFrame,
    csig: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
) -> DataFrame:
    """The narrow band probe: distinct (``__qid``, ``__cid``) pairs that
    share a ``(band, sig)`` bucket, self-matches dropped, then each side's
    quantized vector and norm re-attached by id from one ``_quantized``
    pass — so vectors cross one join, not one shuffle per band.

    Input contract: ids must be UNIQUE per side and the id→vector mapping
    DETERMINISTIC across plan branches. Each side is evaluated twice
    (signature kernel + re-attach), so a duplicate id multiplies candidate
    rows, and an id from ``rand()`` / ``monotonically_increasing_id`` over
    an uncached source can differ between the branches. Cache (or
    checkpoint) such inputs first; an expensive uncached source also pays
    its scan twice."""
    return (
        csig.join(qsig, ["band", "sig"])
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid")
        .dropDuplicates(["__qid", "__cid"])
        .join(_quantized(corpus, c_id, c_vec, "__cid", "__cv", "__cn"), "__cid")
        .join(_quantized(queries, q_id, q_vec, "__qid", "__qv", "__qn"), "__qid")
    )


def lsh_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    planes: list[list[int]],
    band_bits: int = 8,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Sign-projection LSH ANN: candidates share at least one band signature
    with the query; exact cosine + top-k within candidates.

    Scale: corpus signatures are one Arrow matmul pass; the candidate join
    is a plain equi join on ``(band, sig)`` — shuffle-partitioned by
    bucket, no all-pairs stage, and at rest the corpus can be stored
    bucketed by ``(band, sig)`` so probes prune partitions. More planes
    per band → fewer, more precise candidates; more bands → higher recall.
    Input contract: see ``_band_candidates``."""
    cand = _band_candidates(
        _band_signatures_arrow(queries, q_id, q_vec, planes, band_bits, "__qid"),
        _band_signatures_arrow(corpus, c_id, c_vec, planes, band_bits, "__cid"),
        queries, corpus, q_id, c_id, q_vec, c_vec,
    )
    return _topk_by_cosine(cand, k)


def _pq_subvectors(
    df: DataFrame, id_col: str, vec_col: str, n_sub: int, id_alias: str
) -> DataFrame:
    """(id, m, sv) — every vector quantized and split into ``n_sub`` equal
    contiguous subvectors (PQ's subspace decomposition). Narrow: one
    transform + posexplode, no shuffle. Dimension must divide evenly —
    enforced per row (a flooring split would silently drop the trailing
    ``dim % n_sub`` coordinates from training, encoding, and ADC
    distances)."""
    qv = quantize_vec(vec_col)
    sublen = F.when(
        F.size(qv) % n_sub == 0, (F.size(qv) / n_sub).cast("int")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"_pq_subvectors: dimension must divide n_sub={n_sub}, got "),
                F.size(qv).cast("string"),
            )
        ).cast("int")
    )
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda j: F.slice(qv, j * sublen + F.lit(1), sublen),
    )
    # scan_floor: the quantize/slice/posexplode pipeline (and everything
    # pipelined above it — codebook distance math in pq_encode, the
    # training aggregate's map side) otherwise runs inside the file scan's
    # task layout; a single-row-group corpus file serializes all of it on
    # one core. No-op when the scan is already at cluster parallelism.
    from ..tables import scan_floor

    return scan_floor(df).select(
        F.col(id_col).alias(id_alias), F.posexplode(slices).alias("m", "sv")
    )


def pq_train(
    corpus: DataFrame,
    n_sub: int,
    c_vec: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011): per subspace
    ``m``, one codeword per ``label_col`` value — the element-wise mean
    subvector of that label's members (a single k-means update step with
    the label as the initial assignment, the same deterministic training
    convention as ``sim_centroid_train``; loop it for full k-means).

    Output: (code, m, cw array<long>). Means are floored exact-integer
    math (sum and count are exact; the double quotient of a <2^53 sum is
    correctly rounded, so floor is stable) — bit-identical to the SQL
    oracle. Scale: one narrow subvector pass + one groupBy of
    (labels x n_sub x sublen) rows — codebook-sized output, corpus-sized
    scan, exactly one shuffle."""
    sub = _pq_subvectors(corpus, label_col, c_vec, n_sub, "code")
    elem = sub.select("code", "m", F.posexplode("sv").alias("pos", "v"))
    cbe = elem.groupBy("code", "m", "pos").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1))).cast("long").alias("cv")
    )
    return cbe.groupBy("code", "m").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("cw")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    n_sub: int,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """PQ encoding: per vector and subspace, the code of the nearest
    codeword by exact-integer squared L2 (ties to the smallest code).
    Output: (vec_id, m, code) — the compressed corpus representation
    (``n_sub`` small ints per vector instead of the full embedding).

    Scale: corpus-sized narrow pass joined against the BROADCAST codebook
    (codebook rows = codes x subspaces — always tiny), then one partial
    min-aggregate keyed by (vec, m); no corpus shuffle beyond the agg."""
    from ..functions.vectors import sq_l2_q

    sub = _pq_subvectors(corpus, c_id, c_vec, n_sub, "vec_id")
    d2 = sq_l2_q("sv", "cw")
    scored = sub.join(F.broadcast(codebook), "m").select(
        "vec_id", "m", d2.alias("__d2"), "code"
    )
    # min(struct) = lexicographic (d2 asc, code asc): deterministic argmin
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("__d2"), F.col("code"))).alias("__b"))
        .select("vec_id", "m", F.col("__b.code").alias("code"))
    )


def pq_adc_search(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int,
    n_sub: int,
    q_id: str = "q_id",
    q_vec: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: per query, build the per-
    (subspace, code) distance table against the raw query subvectors
    (queries x subspaces x codes rows — tiny), broadcast it onto the
    ENCODED corpus, and rank by the summed approximate squared L2.

    This is the PQ scale shape: the corpus is touched only through its
    ``n_sub``-byte codes (RAM-resident at billions of rows), the scan is
    one broadcast hash join + one partial-aggregated sum keyed by
    (query, vector), and nothing corpus-sized ever shuffles except the
    (query x vector) partial-distance stream that the map-side combine
    collapses to one row per pair. Output: (q_id, neighbor_id, adc_d2,
    rank); self-matches excluded."""
    from ..functions.vectors import sq_l2_q

    qsub = _pq_subvectors(queries, q_id, q_vec, n_sub, "q_id")
    d2 = sq_l2_q("sv", "cw")
    dtable = qsub.join(F.broadcast(codebook), "m").select(
        "q_id", "m", "code", d2.alias("__d2")
    )
    part = codes.join(
        F.broadcast(dtable), ["m", "code"]
    ).filter(F.col("q_id") != F.col("vec_id"))
    adc = part.groupBy("q_id", "vec_id").agg(F.sum("__d2").alias("adc_d2"))
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), "adc_d2", "rank"
        )
    )


def kmeans_lloyd(
    corpus: DataFrame,
    seeds: DataFrame,
    n_iter: int,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid_vec",
) -> DataFrame:
    """``n_iter`` full Lloyd iterations of k-means from deterministic seed
    centroids: assign every vector to its max-cosine centroid (ties to the
    smallest id, zero-norm vectors order last), update each centroid to
    the element-wise FLOORED mean of its members' quantized vectors (exact
    integer math, same convention as ``pq_train``), empty clusters keep
    their previous centroid. Returns the final assignment
    (vec_id, centroid_id, cosine).

    Like MLlib's k-means (and unlike the plan-only operators here), each
    iteration MATERIALIZES the k centroids on the driver — centroids are
    model state, not data, and keeping them lazy would nest the previous
    iteration's whole plan inside the next one (O(2^n_iter) plan growth).
    They come back NOT as a joined table but as literal arrays inside the
    assignment expression: best-centroid is ``array_max`` over k
    (cosine, -centroid_id) structs, a pure per-row map — so assignment
    adds ZERO shuffle and no corpus x k row blowup (the previous
    broadcast-NLJ + per-vector rank window shuffled k copies of the
    corpus per iteration — the term that dominates at 100 TB). The mean
    update aggregates the d element columns directly (map-side partial
    combine: each task emits k x (d+1) cells, not its row count), and the
    floored mean runs on the driver over exact int64 sums with the SAME
    double-division semantics as the SQL oracle. Each iteration is
    exactly one job and one k x (d+1)-cell shuffle; every step stays
    deterministic, so the whole trajectory remains oracle-replayable."""
    # cached: every Lloyd iteration's sums job AND the final assignment
    # re-scan the quantized corpus (n_iter+1 jobs) — without the cache the
    # Arrow quantization kernel and the input scan re-execute per job.
    # Unpersisted before returning; the returned assignment is a narrow
    # map over the (re-)scan, not the cache.
    cents: list[tuple[int, list[int]]] = [
        (r["centroid_id"], list(r["__kv"]))
        for r in _quantized(seeds, cent_id, cent_vec, "centroid_id", "__kv", "__kn")
        .select("centroid_id", "__kv")
        .collect()
    ]
    if not cents:
        # empty seeds: degrade to an empty assignment (the pre-literal
        # implementation's behavior) instead of building array_max(array())
        # — an analysis error — and a dim=0 update loop
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, centroid_id long, cosine double"
        )
    dim = len(cents[0][1])
    q = _quantized(corpus, c_id, c_vec, "vec_id", "__v", "__nsq")
    # dimension guard: a corpus vector LONGER than the
    # seed dim makes zip_with pad with NULL -> NULL cosine against every
    # centroid -> array_max's tiebreak silently collapses the whole corpus
    # into the smallest centroid id; a SHORTER one dies mid-job with an
    # opaque INVALID_ARRAY_INDEX from the update loop's element_at. Fail
    # per-row with a clear message instead (same policy as
    # _pq_subvectors' divisibility guard).
    q = q.filter(
        F.when(F.size("__v") == dim, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"kmeans_lloyd: corpus vector dim != seed dim {dim} (got "),
                    F.size("__v").cast("string"),
                    F.lit(")"),
                )
            ).cast("boolean")
        )
    ).cache()

    def assign_cols(cent_list: list[tuple[int, list[int]]]):
        """(centroid_id, cosine) columns: array_max over k literal-centroid
        structs — ties to the smaller id via the negated-id field, NULL
        cosine (zero norm on either side) structs order below any non-NULL
        cosine, matching the rank-window semantics this replaced. Built as
        ONE parsed SQL expression: element-by-element Column construction
        costs a py4j round trip per literal (k x d of them — seconds of
        driver time per iteration before any job runs)."""
        entries = []
        for cid, kv in cent_list:
            kn = sum(x * x for x in kv)  # exact python int
            if kn == 0:
                cos = "CAST(NULL AS DOUBLE)"
            else:
                arr = ",".join(f"{int(x)}L" for x in kv)
                cos = (
                    "CASE WHEN __nsq > 0 THEN "
                    "CAST(aggregate(zip_with(__v, array({arr}), (x, y) -> x * y), "
                    "0L, (acc, v) -> acc + v) AS DOUBLE) "
                    "/ sqrt(__nsq) / sqrt(CAST({kn!r} AS DOUBLE)) END"
                ).format(arr=arr, kn=float(kn))
            entries.append(f"struct({cos} AS c, {-cid}L AS nid)")
        best = F.expr(f"array_max(array({', '.join(entries)}))")
        return (-best["nid"]).alias("centroid_id"), best["c"].alias("cosine")

    import math

    for _ in range(n_iter):
        cid_col, _ = assign_cols(cents)
        sums = (
            q.select(
                cid_col,
                *[F.element_at("__v", i + 1).alias(f"__e{i}") for i in range(dim)],
            )
            .groupBy("centroid_id")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(f"__e{i}").alias(f"__s{i}") for i in range(dim)],
            )
            .collect()
        )
        new_means = {
            r["centroid_id"]: [
                int(math.floor(float(r[f"__s{i}"]) / r["__n"])) for i in range(dim)
            ]
            for r in sums
        }
        # empty clusters keep their previous centroid
        cents = [(cid, new_means.get(cid, kv)) for cid, kv in cents]
    cid_col, cos_col = assign_cols(cents)
    out = q.select("vec_id", cid_col, F.round(cos_col, 6).alias("cosine"))
    # the iterations' jobs are done; don't pin the corpus past return
    # (unpersist is lazy-safe: the returned plan re-reads the source)
    q.unpersist()
    return out


def maxdot_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product search (MIPS): top-k corpus vectors per
    query by RAW dot product — the recommender/two-tower retrieval
    objective, where a vector's norm carries signal (popularity, recency)
    that cosine deliberately discards. Same broadcast-queries shape as
    ``knn_bruteforce``; the score is an exact integer over the shared
    1e6 quantization (sum of i64 products — order-independent), divided
    back to float once for display. The classic norm-augmentation
    reduction (append sqrt(M^2 - |x|^2) so MIPS becomes cosine ANN) then
    reuses ``lsh_ann``/IVF unchanged as the approximate path at scale."""
    q = queries.select(
        F.col(q_id).alias("__qid"), quantize_vec(q_vec).alias("__qv")
    )
    c = corpus.select(
        F.col(c_id).alias("__cid"), quantize_vec(c_vec).alias("__cv")
    )
    return _topk_by_dot(c.join(F.broadcast(q), F.col("__qid") != F.col("__cid")), k)


def mips_lsh_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    planes: list[list[int]],
    band_bits: int = 8,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate MIPS via the norm-augmentation reduction: append
    ``sqrt(M^2 - |x|^2)`` to every corpus vector (M = max corpus norm) and
    0 to every query, and maximum-inner-product search becomes angular
    search — the asymmetric transform of Bachrach et al. 2014 / Neyshabur
    & Srebro 2015 — so the existing sign-projection band machinery probes
    candidates unchanged. Because the query's augmented coordinate is 0,
    the augmented dot product IS the original dot product: candidate
    scoring needs no un-augmentation and stays an exact integer.

    ``planes`` must span ``dim + 1`` coordinates. The augmented coordinate
    is quantized on the shared 1e6 grid: ``round(sqrt(M2q - nsq))`` where
    both operands are exact integers, and sqrt of an exact integer-valued
    double is correctly rounded — deterministic across engines.

    Scale: one extra max-aggregate (broadcast back as a 1-row scalar) on
    top of ``lsh_search``'s shape — signatures via the Arrow matmul
    kernel (the 60-plane x 65-dim expression tree was ~10x slower as
    interpreted per-row folds), the candidate probe a plain equi join on
    (band, sig), scored on the un-augmented vectors. Input contract: see
    ``_band_candidates``."""
    dim = len(planes[0]) - 1
    c = corpus.select(F.col(c_id).alias("__cid0"), F.col(c_vec).alias("__cv0"))
    m2 = c.groupBy().agg(
        F.max(norm_sq_q(quantize_vec("__cv0")).cast("long")).alias("__m2s")
    )
    cand = _band_candidates(
        _band_signatures_arrow(queries, q_id, q_vec, [p[:dim] for p in planes],
                               band_bits, "__qid"),
        _band_signatures_arrow(c.crossJoin(F.broadcast(m2)), "__cid0", "__cv0", planes,
                               band_bits, "__cid", aug_m2_col="__m2s"),
        queries, corpus, q_id, c_id, q_vec, c_vec,
    )
    return _topk_by_dot(cand, k)
