"""Deduplication operators for large-scale training-data pipelines.

Set math (joins, aggregations, band generation) is native Catalyst; the
Python stages are the block-pair cosine matmul and the Arrow-vectorized
gram kernels of ``operators/grams.py``, because per-character polynomial
hashing is where interpreted higher-order lambdas lose to a NumPy batch
kernel. Pure-Catalyst references (``_hashed_shingled_native``,
``winnowing_fingerprints_native``, ``simhash_agg``) keep a bit-identical
no-Python path. Every text operator accepts any id type; only
``sparse_cosine_pairs`` and ``embedding_pairs`` need integer ids (anything
else raises ``TypeError`` up front) and return them in the input's type.

- exact — normalize + hash-groupBy; one shuffle on the text hash.
- shingle pairs — word n-gram shingle sets. ``jaccard_pairs`` and
  ``containment_pairs`` are exact, by an inverted-index co-occurrence join
  (pairs only for docs sharing a shingle). ``minhash_lsh_pairs`` and
  ``minhash_lookup`` bucket MinHash signatures into bands and verify the
  candidates by exact Jaccard; integer-only math, so the DuckDB oracles
  reproduce them bit for bit.
- winnowing — MOSS fingerprints, the pairs sharing them and the positions
  where they overlap.
- spans — ExactSubstr: token spans shared by >= 2 documents, profiled
  (``duplicated_spans``) or cut out (``trim_duplicated_spans``).
- decontamination — drop or score training documents by their n-gram
  overlap with an evaluation set.
- SimHash — 48-bit fingerprints; near-dup = Hamming distance <= k, with
  candidates from a 4 x 12-bit band join, lossless for Hamming <= 3 by
  pigeonhole.
- cosine — embedding cosine, sparse TF-IDF cosine and SemDeDup over one
  block-pair int64 matmul kernel (``_block_cosine_pairs``) or a posting
  join; LSH/IVF variants live in operators/similarity.py.
- components — connected components of a pair graph.

The shingle-set pair joins share one band-bucket join (``_band_pairs``),
one exact verification (``_verified_jaccard``) and one representative
collapse (``_representatives``), decided from the data (DESIGN.md, Dedup).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegralType

from ..functions.text import FP_MOD
from ..functions.vectors import quantize_vec
from .grams import _map_text, _ngrams, _positional_grams, _segments, _shingle_flat, _spread

#: Default boilerplate gate for the exact-pair operators: shingles whose
#: document frequency exceeds this fraction of all SHINGLED documents are
#: removed from the shingle universe (see ``_cooccurrence``). Shared with
#: the SQL oracles (queries/dedup) — edit in lockstep.
MAX_DF_FRAC = 0.5
#: The gate only arms on corpora of at least this many SHINGLED documents:
#: below it a FRACTION cap degenerates (at N=3, frac*N=1.5 calls every
#: shared shingle boilerplate) and all-pairs cost is trivial anyway.
GATE_MIN_DOCS = 50


# Fixed MinHash permutation parameters (a odd, < 2^26; b < 2^26).
# H=16 hash functions, banded r=2 x b=8 (catches Jaccard>=0.5 with p~0.9,
# >=0.9 with p~0.9999).
MINHASH_AB: list[tuple[int, int]] = [
    (40503559, 23411011), (61201223, 9182477), (33550337, 51328141),
    (54018521, 2873599), (22801763, 44930087), (17624813, 60752743),
    (48271349, 13597331), (28644091, 35082101), (65011493, 7776901),
    (36700159, 58102393), (12890393, 27244159), (59604643, 4485277),
    (20132659, 63167743), (44739241, 16777213), (31622777, 39916801),
    (57885161, 11184811),
]
MINHASH_BANDS = 8
MINHASH_ROWS = 2  # per band

SIMHASH_BITS = 48
SIMHASH_BAND_BITS = 12  # 4 bands -> lossless for Hamming <= 3

# Per-bit affine rehash constants: fingerprint bit j is the low bit of
# (h * a_j + b_j) % FP_MOD, NOT raw bit j of h. Raw bits are unusable:
# shingle hashes live in [0, FP_MOD) with FP_MOD ~ 6.7e10 < 2^36, so raw
# bits 36-47 are 0 for EVERY shingle, the majority vote fixes the top 12
# fingerprint bits to 0 for every document, and the top LSH band becomes
# one bucket holding the whole corpus — a quadratic candidate join that a
# 100x token-shifted stress exposed (1.25e11 candidate pairs at 500k
# docs; replicated-text stress had masked it via the representative
# collapse). Affine-mod rehashes give every bit ~uniform signal; a < 1.3e8
# keeps h*a + b < 2^63 (same overflow discipline as MINHASH_AB).
SIMHASH_AB: list[tuple[int, int]] = [
    (
        (40503559 + 2_000_003 * j) % 99_999_989 or 1,
        (23411011 + 1_000_003 * j) % 99_999_989,
    )
    for j in range(SIMHASH_BITS)
]


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: survivor = min id per group.

    Reference precedent: ``dropDuplicates`` / ``drop_duplicates(['objectId'])``
    (``ztf/filter_anomaly_notification/filter.py:182``), made deterministic
    (min-id survivor instead of arbitrary first row).
    """
    norm = F.lower(F.trim(F.col(text_col)))
    return df.groupBy(norm.alias("__norm")).agg(
        F.min(id_col).alias("survivor_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ).drop("__norm").select("survivor_id", "n_dups")


def _hashed_shingled_native(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Pure-Catalyst variant of ``_hashed_shingled`` (HOF char-folds), the
    no-Python reference path; slower than the Arrow kernel because the
    per-character fold runs as interpreted higher-order lambdas.
    """
    from ..functions.text import combine_word_hashes, word_hashes

    # the cache() is an optimizer barrier: without it projection collapse
    # inlines word_hashes into every element_at of the combine stage and
    # re-hashes all words per shingle position (an exchange does not block
    # it)
    wh = _spread(df).select(F.col(id_col).alias("__id"), word_hashes(text_col).alias("__wh"))
    wh = wh.cache()
    return wh.select("__id", combine_word_hashes("__wh", n).alias("__sh")).filter(
        F.size("__sh") > 0
    )


def _set_columns(flat, with_key: bool) -> dict:
    """The per-document ``(__id, __sh[, __k])`` columns of one
    ``_shingle_flat`` batch."""
    import hashlib

    ids, dd, ss, starts, ends = flat
    sets = [ss[s:e] for s, e in zip(starts, ends)]
    out = {"__id": ids[dd[starts]], "__sh": sets}
    if with_key:
        out["__k"] = [hashlib.sha256(sh.tobytes()).digest() for sh in sets]
    return out


def _hashed_shingled(
    df: DataFrame, id_col: str, text_col: str, n: int, with_key: bool = False
) -> DataFrame:
    """(__id, __sh: array<long>) — distinct hashed word n-gram shingles.

    ``with_key=True`` adds ``__k``: the 32-byte sha256 of the sorted
    shingle array's raw int64 bytes — a fixed-width content key for the
    representative collapse, so grouping documents by shingle-SET identity
    shuffles and compares 32-byte keys instead of full arrays. Using a
    collision-resistant hash keeps the collapse EXACT in practice even
    against adversarially constructed corpora (a collision would merge two
    distinct sets into one duplicate group).

    Arrow-vectorized kernel over ``grams._shingle_flat``: per batch,
    tokenize, hash each DISTINCT word once (vocab ≪ token count), combine
    n-grams and dedupe with flat NumPy int64 ops — bit-identical integers
    to the native path (``_hashed_shingled_native``) and the DuckDB
    oracle. Downstream set math (Jaccard, MinHash, SimHash) runs on longs
    — narrower shuffles, cheaper equality; hash collisions (P ~ 6.7e10)
    are part of the operator's defined semantics.
    """

    def body(pdf):
        flat = _shingle_flat(pdf, n)
        return None if flat is None else _set_columns(flat, with_key)

    schema = "__id {id}, __sh array<long>" + (", __k binary" if with_key else "")
    return _map_text(df, id_col, text_col, body, schema)


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(__id, __sim): ``SIMHASH_BITS``-bit SimHash fingerprints in ONE
    fused Arrow pass — the shingle-hash kernel's flat arrays feed a
    vectorized bit-majority (per-bit affine rehashes ``((ss*a_j+b_j) % P) &
    1`` summed per doc via ``np.add.reduceat``; see SIMHASH_AB for why raw
    hash bits are NOT usable), so no explode, no shuffle, no per-bit
    aggregate. Identical integer semantics to ``simhash_agg`` (majority rule
    2·bitsum > n_shingles) and the DuckDB oracle."""
    ab = np.array(SIMHASH_AB, dtype=np.int64)
    weights = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)

    def body(pdf):
        flat = _shingle_flat(pdf, n)
        if flat is None:
            return None
        ids, dd, ss, starts, ends = flat
        # h < FP_MOD and a < 1.3e8 keep h*a+b < 2^63: exact int64
        bitmat = ((ss[:, None] * ab[None, :, 0] + ab[None, :, 1]) % FP_MOD) & 1
        counts = np.add.reduceat(bitmat, starts, axis=0)
        sim = ((counts * 2 > (ends - starts)[:, None]) * weights).sum(axis=1)
        return {"__id": ids[dd[starts]], "__sim": sim}

    return _map_text(df, id_col, text_col, body, "__id {id}, __sim long")


def _jaccard(inter: Column, na: Column, nb: Column) -> Column:
    """|A∩B| / |A∪B| as a double, from the intersection and the set sizes:
    the one Jaccard expression of the pair operators (the SQL oracles spell
    the same division)."""
    return inter.cast("double") / (na + nb - inter).cast("double")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau: float = 0.5,
    max_df_frac: float | None = MAX_DF_FRAC,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= tau)
    via inverted-index join: the co-occurrence count IS |A∩B|, so Jaccard
    falls out of one pair aggregate with no separate verification pass.

    ``shingled``: optional caller-cached ``(__id, __sh[, __k])`` table
    bit-identical to ``_hashed_shingled`` output (``minhash_signatures``'
    is), so a query that also runs the MinHash pipeline tokenizes once. It
    is collapsed to representatives exactly when it carries ``__k``.

    ``max_df_frac`` (default 0.5): shingles in more than that fraction of
    all documents are dropped from the shingle universe (``_cooccurrence``),
    which caps the Σ df(s)² join cost of a boilerplate-heavy corpus. On a
    corpus of >= ``GATE_MIN_DOCS`` documents where some shingle's df exceeds
    the cap, the emitted similarity is the exact Jaccard over the FILTERED
    universe; ``None`` keeps the raw contract over all shingles.

    .. note:: NOT a pure lazy plan: the collapse probe and the pair-key
       range probe run small eager jobs at call time, and the plan holds a
       ``cache()``; long-lived sessions should ``spark.catalog.clearCache()``
       between corpus passes (DESIGN.md, "Caches are scoped").
    """
    # prefix filtering (AllPairs/SSJoin) loses to counting on corpora
    # without a Zipfian df tail (DESIGN.md, Dedup; OPTIMIZATION_r11.md);
    # minhash_lsh_pairs is the sub-quadratic path
    grp, co, kept = _cooccurrence(
        df, id_col, text_col, n, max_df_frac, shingled=shingled, min_size_ratio=tau
    )
    verified = (
        co.withColumn("jaccard", _jaccard(F.col("__inter"), F.col("__na"), F.col("__nb")))
        .filter(F.col("jaccard") >= tau)
        .select("__ra", "__rb", "jaccard")
    )
    return _expand_rep_pairs(grp, verified, self_keep=kept)


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprints (Schleimer/Wilkerson/Aiken
    SIGMOD'03, the MOSS local-fingerprinting scheme): positional word
    k-gram hashes slide under a w-gram window, each window keeps its
    rightmost minimum.

    Returns ``(id_col, pos, fp)`` — one row per selected occurrence
    (``pos`` = 1-based gram index, ``fp`` = the k-gram hash). Selection
    density is 2/(w+1), so the output is ~0.4x the gram count at w=4 —
    the compact sketch the pair join (``winnowing_pairs``) and external
    plagiarism/near-dup indexes consume. Docs with fewer than k tokens
    yield no rows.

    Arrow-vectorized kernel over ``grams._ngrams``: positional k-gram
    hashes and a sliding-window rightmost-argmin via
    ``sliding_window_view`` + reversed ``argmin`` — bit-identical integers
    and positions to the native HOF path
    (``winnowing_fingerprints_native``, kept as the no-Python reference),
    which evaluates the per-window fold as interpreted lambdas. A doc's
    grams are contiguous in the flat arrays, so windows never cross
    documents.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    def body(pdf):
        grams = _ngrams(pdf, k)
        if grams is None:
            return None
        ids, dd, g = grams
        at, pos = [], []
        for s, e in zip(*_segments(dd)):
            win = sliding_window_view(g[s:e], min(w, e - s))
            # argmin over the REVERSED window = rightmost minimum
            j = win[:, ::-1].argmin(axis=1)
            sel = np.unique(np.arange(len(win)) + (win.shape[1] - 1 - j))
            at.append(s + sel)
            pos.append(sel + 1)  # 1-based gram index
        at = np.concatenate(at)
        return {"__id": ids[dd[at]], "pos": np.concatenate(pos), "fp": g[at]}

    out = _map_text(df, id_col, text_col, body, "__id {id}, pos long, fp long")
    return out.withColumnRenamed("__id", id_col)


def winnowing_fingerprints_native(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Pure-Catalyst reference path for ``winnowing_fingerprints`` (HOF
    folds via ``functions.text.winnow_select``) — no Python workers, kept
    for parity testing and non-ASCII-whitespace corpora; the interpreted
    per-window lambda fold makes it several times slower than the Arrow
    kernel."""
    from ..functions.text import combine_word_hashes, winnow_select, word_hashes

    wh = df.select(F.col(id_col), word_hashes(text_col).alias("__wh"))
    g = wh.select(
        id_col, combine_word_hashes("__wh", n=k, distinct=False).alias("__g")
    )
    sel = F.transform(
        winnow_select("__g", w),
        lambda p: F.struct(
            p.cast("long").alias("pos"), F.element_at("__g", p).alias("fp")
        ),
    )
    return g.select(id_col, F.explode(sel).alias("__s")).select(
        id_col, F.col("__s.pos").alias("pos"), F.col("__s.fp").alias("fp")
    )


def _winnow_postings(fps: DataFrame, id_col: str, max_df: int | None):
    """``(postings, fps)``: the distinct ``(id_col, fp)`` postings of a
    ``winnowing_fingerprints`` table (cached: both sides of the pair join
    read them) and the table itself, both purged of fingerprints found in
    more than ``max_df`` documents. Document frequency counts distinct
    postings, so a purged span row is exactly one that could not count
    towards its pair's ``shared_fps``."""
    postings = fps.select(id_col, "fp").distinct().cache()
    if max_df is None:
        return postings, fps
    keep = (
        postings.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp")
    )
    return postings.join(keep, "fp"), fps.join(keep, "fp")


def _winnow_pair_join(postings: DataFrame, id_col: str, min_shared: int) -> DataFrame:
    """``(id_a < id_b, shared_fps >= min_shared)`` over distinct
    ``(id_col, fp)`` postings: the posting self-join and pair count."""
    a = postings.select(F.col(id_col).alias("id_a"), "fp")
    b = postings.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs sharing winnowed fingerprints
    (id_a < id_b, ``shared_fps`` = count of common distinct fingerprint
    VALUES): the MOSS pair stage. Any pair of documents sharing a token
    run of >= w+k-1 tokens is guaranteed a shared fingerprint, so with
    ``min_shared=1`` this is a complete candidate set for that overlap
    length; higher ``min_shared`` trades recall for precision.

    Plan: row-local winnow -> distinct (doc, fp) postings -> equi-join on
    fp -> pair groupBy, costing Σ df(fp)² like every inverted-index join
    here. ``max_df`` drops fingerprints found in more than that many
    documents before the join: boilerplate dominates that sum while
    separating nothing.
    """
    fps = winnowing_fingerprints(df, id_col, text_col, k=k, w=w)
    return _winnow_pair_join(_winnow_postings(fps, id_col, max_df)[0], id_col, min_shared)


def winnowing_overlap_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Localize WHERE candidate near-dup pairs overlap — the MOSS report
    stage: for every pair passing ``winnowing_pairs``'s gate, emit one row
    per shared fingerprint OCCURRENCE pair ``(id_a, id_b, fp, pos_a,
    pos_b)`` (1-based gram positions; a shared token run of >= w+k-1
    tokens is guaranteed at least one row, and runs longer than w+k-1
    produce position-aligned chains that downstream span-merging can
    stitch).

    Plan: the gated pair list (id_a, id_b) is output-sized, so joining it
    back to the two position postings is two equi-joins on (doc, fp)-shaped
    keys — no quadratic stage beyond the pair join. ``max_df`` purges the
    pair postings and the span postings with one gate, so the span join
    does not re-pay the Σ df(fp)² cost the purge removed.
    """
    # one cached kernel run feeds the pair gate and the span postings
    fps = winnowing_fingerprints(df, id_col, text_col, k=k, w=w).cache()
    postings, fps = _winnow_postings(fps, id_col, max_df)
    pairs = _winnow_pair_join(postings, id_col, min_shared).select("id_a", "id_b")
    a = fps.select(
        F.col(id_col).alias("id_a"), F.col("fp"), F.col("pos").alias("pos_a")
    )
    b = fps.select(
        F.col(id_col).alias("id_b"), F.col("fp"), F.col("pos").alias("pos_b")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "fp"])
        .select("id_a", "id_b", "fp", "pos_a", "pos_b")
    )


def _cooccurrence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df_frac: float | None = None,
    shingled: DataFrame | None = None,
    min_size_ratio: float | None = None,
):
    """Shared inverted-index core of ``jaccard_pairs`` / ``containment_pairs``:
    ``(grp, co, kept)`` — the collapse table of ``_representatives``, the
    per-rep-pair co-occurrence counts (__ra < __rb, set sizes __na/__nb,
    |A∩B| __inter) and the per-rep filtered set sizes.

    ``max_df_frac``: shingles whose DOCUMENT frequency exceeds
    ``max_df_frac * N`` are removed from the shingle universe — from the
    co-occurrence counts AND the set sizes — so the similarity is exact
    over the informative shingles and the Σ df(s)² join cost is bounded.
    The purged list is tiny by construction and broadcast; the posting
    stream is not reshuffled. ``kept`` (``__rid``, ``__n``) lets callers
    drop identical-set self-pairs whose surviving set is empty (they
    share only boilerplate; the SQL oracles have no row for them either).

    ``shingled``: a caller-cached table, see ``jaccard_pairs``.

    ``min_size_ratio``: a Jaccard caller keeping ``J >= tau`` passes tau,
    and co-posting rows with ``least(na,nb)/greatest(na,nb) < tau`` are
    dropped inside the posting self-join. Exact: ``J = inter/union <=
    min/max`` (inter <= min, union >= max) and correctly-rounded division
    is monotone, so no ``J >= tau`` pair is lost, including pairs on tau.
    Not valid for containment (``inter/min`` has no size-ratio bound).

    The returned frames embed eager probe results (collapse, purge list,
    id range), frozen to the data at call time.
    """
    grp, base = _representatives(df, id_col, text_col, n, shingled, _hashed_shingled, "__sh")
    postings = base.select(
        "__rid", F.size("__sh").alias("__n"), "__gsz",
        F.explode("__sh").alias("__s"),
    )
    # id min/max/count of the collapse/kernel table: the pair-key range
    # probe, and the broadcast bound of the size re-join
    id_stats = [
        F.min("__rid").alias("mn"),
        F.max("__rid").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ]
    kept = None
    if max_df_frac is None:
        stats = base.agg(*id_stats).collect()[0]
    else:
        # document-weighted df (a rep stands for __gsz identical docs)
        tot = base.agg(F.sum("__gsz").alias("__N"))
        purged = (
            postings.groupBy("__s")
            .agg(F.sum("__gsz").alias("__df"))
            .crossJoin(F.broadcast(tot))
            .filter(
                (F.col("__df") > F.col("__N") * F.lit(max_df_frac))
                & (F.col("__N") >= GATE_MIN_DOCS)
            )
            .select("__s")
        )
        # one job answers both the purge-emptiness decision and the id
        # range probe: the data decides the plan shape
        stats = (
            base.agg(*id_stats)
            .crossJoin(F.broadcast(purged.agg(F.count(F.lit(1)).alias("np"))))
            .collect()[0]
        )
        # with nothing above the cap (every packaged corpus) the gate is
        # the identity, and the ungated plan below is bit-identical
        if stats["np"] > 0:
            cut = (
                postings.select("__rid", "__s")
                .join(F.broadcast(purged), "__s")
                .groupBy("__rid")
                .agg(F.count(F.lit(1)).alias("__cut"))
            )
            # cache the gated postings: both co-occurrence sides, the kept
            # sizes and the self-pair gate read them, and each would
            # otherwise re-run the purge subtree
            postings = (
                postings.join(F.broadcast(purged), "__s", "left_anti")
                .join(F.broadcast(cut), "__rid", "left")
                .withColumn("__n", F.col("__n") - F.coalesce("__cut", F.lit(0)))
                .drop("__cut", "__gsz")
                .cache()
            )
            # per-rep surviving set sizes; a rep whose shingles were all
            # purged has no postings left, so it is absent here
            kept = postings.select("__rid", "__n").distinct()
    postings = postings.drop("__gsz")
    a, b = postings.alias("a"), postings.alias("b")
    ida, idb = F.col("a.__rid"), F.col("b.__rid")
    join_cond = (F.col("a.__s") == F.col("b.__s")) & (ida < idb)
    if min_size_ratio is not None:
        # exact prefilter (docstring): min/max upper-bounds J
        join_cond = join_cond & (
            F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
            / F.greatest(F.col("a.__n"), F.col("b.__n")).cast("double")
            >= F.lit(float(min_size_ratio))
        )
    joined = a.join(b, join_cond)
    # the set sizes re-attach after the pair aggregate, one narrow row per
    # representative; the re-join broadcasts while the table is small
    # (~8M rows ≈ 100 MB) and stays a shuffle join above that
    sizes = kept if kept is not None else base.select(
        "__rid", F.size("__sh").alias("__n")
    )
    if stats["n"] <= 8_000_000:
        sizes = F.broadcast(sizes)
    id_type = base.schema["__rid"].dataType
    co = (
        _pair_aggregate(joined, ida, idb, F.count(F.lit(1)).alias("__inter"), id_type, stats)
        .join(sizes.select(F.col("__rid").alias("__ra"), F.col("__n").alias("__na")), "__ra")
        .join(sizes.select(F.col("__rid").alias("__rb"), F.col("__n").alias("__nb")), "__rb")
        .select("__ra", "__rb", "__na", "__nb", "__inter")
    )
    return grp, co, kept


def _pair_aggregate(
    joined: DataFrame, a: Column, b: Column, agg: Column, id_type, stats
) -> DataFrame:
    """``(__ra, __rb, agg)``: a co-posting self-join aggregated per id pair
    ``(a, b)``, ids in ``id_type``.

    The aggregate shuffles one row per co-posting (Σ df(s)² rows), so its
    key width dominates the pair pipelines. Integral ids inside
    [0, 2^31) — ``stats`` holds their ``mn``/``mx`` — pack into ONE int64
    key ``a << 32 | b`` (49.4 → 17.1 s on the 100x stress co-occurrence
    step, OPTIMIZATION_r10.md); any other ids group on the pair itself."""
    if not (
        isinstance(id_type, IntegralType)
        and stats["mn"] is not None and stats["mn"] >= 0 and stats["mx"] < 2**31
    ):
        return joined.groupBy(a.alias("__ra"), b.alias("__rb")).agg(agg)
    # explicit long casts: shiftleft on an int column masks the shift
    # distance to 0 (32 & 31), which would merge unrelated pairs
    out = joined.groupBy(
        (F.shiftleft(a.cast("long"), 32) + b.cast("long")).alias("__pk")
    ).agg(agg)
    return out.select(
        F.shiftright("__pk", 32).cast(id_type).alias("__ra"),
        F.col("__pk").bitwiseAND(F.lit((1 << 32) - 1)).cast(id_type).alias("__rb"),
        *out.columns[1:],
    )


def _collapse(sh: DataFrame, key: str, *payload: str) -> DataFrame:
    """The representative collapse: one cached row per distinct ``key``
    with the min id ``__rid``, the member ids ``__members``, the group
    size ``__gsz`` and the ``payload`` columns of one member (functions
    of the key, so any member's). g copies of a document would otherwise
    put g entries in every posting or band and square the candidate join."""
    return (
        sh.groupBy(key)
        .agg(
            F.min("__id").alias("__rid"),
            F.collect_list("__id").alias("__members"),
            F.count(F.lit(1)).alias("__gsz"),
            *[F.first(c).alias(c) for c in payload],
        )
        .cache()
    )


def _representatives(
    df: DataFrame, id_col: str, text_col: str, n: int,
    table: DataFrame | None, kernel: Callable, *payload: str,
):
    """``(grp, reps)`` of a shingle-set pair join: ``reps`` holds one row
    per representative (``__rid``, ``__gsz`` and the ``payload`` columns),
    and ``grp`` is the ``_collapse`` table, or None when every document is
    its own representative.

    A caller-cached ``table`` (``kernel`` output) is collapsed exactly when
    it carries the set-identity key ``__k``. Without one, ``kernel`` runs
    here and emits the key only when ``_duplicate_fraction`` reaches
    ``COLLAPSE_DUP_FRAC``: the collapse shuffles every shingle array, which
    pays only on a duplicate-heavy corpus (DESIGN.md, Dedup). Both branches
    emit the same pairs: identical sets share every shingle and band."""
    if table is None:
        keyed = _duplicate_fraction(df, text_col) >= COLLAPSE_DUP_FRAC
        table = kernel(df, id_col, text_col, n, with_key=keyed)
        if not keyed:
            # several branches read the kernel output: run it once
            table = table.cache()
    if "__k" in table.columns:
        grp = _collapse(table, "__k", *payload)
        return grp, grp
    return None, table.withColumnRenamed("__id", "__rid").withColumn("__gsz", F.lit(1))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau: float = 0.8,
    max_df_frac: float | None = MAX_DF_FRAC,
) -> DataFrame:
    """Shingle-set CONTAINMENT near-dup pairs (id_a < id_b, containment >=
    tau): containment = |A∩B| / min(|A|, |B|) — the asymmetric-duplication
    signal Jaccard misses. A short document quoted wholesale inside a long
    one has tiny Jaccard (the union is dominated by the long doc) but
    containment ~1; curation pipelines drop the contained copy. The
    min-side normalization makes the value symmetric in (a, b), so member
    expansion through the shared representative collapse is direction-free
    (identical sets expand at containment exactly 1).

    Scale: identical to ``jaccard_pairs`` — same collapse, inverted index,
    expansion and ``max_df_frac`` gate; only the verification expression
    differs, and there is no size-ratio prefilter. No reference parity
    claim: fink-filters has no text-dedup surface."""
    grp, co, kept = _cooccurrence(df, id_col, text_col, n, max_df_frac)
    verified = (
        co.withColumn(
            "containment",
            F.col("__inter").cast("double")
            / F.least("__na", "__nb").cast("double"),
        )
        .filter(F.col("containment") >= tau)
        .select("__ra", "__rb", "containment")
    )
    return _expand_rep_pairs(grp, verified, value_col="containment", self_keep=kept)


def _expand_rep_pairs(
    grp: DataFrame | None,
    verified: DataFrame,
    value_col: str = "jaccard",
    self_value: Column | None = None,
    round_digits: int | None = 6,
    self_keep: DataFrame | None = None,
) -> DataFrame:
    """Expand representative-level verified pairs back to member pairs.

    ``grp`` is the collapse table (``_collapse``), or None when nothing
    was collapsed: every rep is then a document and the verified pairs
    are emitted as they are. ``verified`` holds (__ra, __rb,
    <value_col>) over representative ids with __ra < __rb. Identical-key groups (size >= 2) contribute member pairs
    at ``self_value`` (Jaccard exactly 1 for identical shingle sets;
    Hamming 0 for identical fingerprints), built by a within-group double
    explode — narrow, no shuffle, output-sized. Cross-group pairs expand
    through two LEFT joins against the MULTI-member groups only
    (``__gsz >= 2``): in a real corpus the overwhelming majority of
    distinct-content groups are singletons, so the join payload is tiny
    (AQE broadcasts it and the expansion adds ZERO exchanges), and a
    singleton rep falls through ``coalesce(members, array(rep))`` without
    touching the join state. Member pairs inherit the rep pair's value (it
    depends only on the grouped content); cross-group combinations are
    ordered with least/greatest (ids are not ordered by group). Per-task
    memory stays O(group), never O(group^2) — explodes stream.

    ``self_keep``: optional (__rid, ...) frame restricting which
    identical-set groups emit their within-group pairs — the boilerplate
    gate passes reps whose FILTERED shingle set is non-empty, so an
    identical pair sharing only purged boilerplate is dropped exactly
    like its cross-group dual (and like the SQL oracle's filtered
    posting join, which has no row for it)."""
    out_val = (
        F.round(value_col, round_digits) if round_digits is not None
        else F.col(value_col)
    )
    if grp is None:
        return verified.select(
            F.col("__ra").alias("id_a"), F.col("__rb").alias("id_b"),
            out_val.alias(value_col),
        )
    if self_value is None:
        self_value = F.lit(1.0)
    multi = grp.filter(F.col("__gsz") >= 2).select("__rid", "__members")
    if self_keep is not None:
        multi = multi.join(self_keep.select("__rid"), "__rid", "left_semi")
    # identical-content pairs: unordered member pairs within each multi
    # group, a < b keeps each once (members explode against themselves)
    selfp = (
        multi.select(F.explode("__members").alias("__ida"),
                     F.col("__members").alias("__mb"))
        .select("__ida", F.explode("__mb").alias("__idb"))
        .filter(F.col("__ida") < F.col("__idb"))
        .select("__ida", "__idb", self_value.alias(value_col))
    )
    ea = multi.select(F.col("__rid").alias("__ra"), F.col("__members").alias("__ma"))
    eb = multi.select(F.col("__rid").alias("__rb"), F.col("__members").alias("__mb"))
    cross = (
        verified.join(ea, "__ra", "left")
        .join(eb, "__rb", "left")
        .select(
            F.explode(F.coalesce("__ma", F.array("__ra"))).alias("__ida"),
            F.coalesce("__mb", F.array("__rb")).alias("__mb"),
            value_col,
        )
        .select("__ida", F.explode("__mb").alias("__idb"), value_col)
        .select(
            F.least("__ida", "__idb").alias("__ida"),
            F.greatest("__ida", "__idb").alias("__idb"),
            F.col(value_col),
        )
    )
    return cross.unionByName(selfp).select(
        F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"),
        out_val.alias(value_col),
    )


def _shingle_postings(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id, __s): one row per distinct hashed shingle of each document."""
    return _hashed_shingled(df, id_col, text_col, n).select(
        "__id", F.explode("__sh").alias("__s")
    )


def _eval_shingles(eval_df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__s): the distinct shingles of the evaluation set, broadcast — an
    eval suite is benchmark-sized, so the corpus side never shuffles."""
    return F.broadcast(_shingle_postings(eval_df, id_col, text_col, n).select("__s").distinct())


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing at
    least one word-``n``-gram with the evaluation set (the standard
    pretraining-corpus hygiene step; exact n-gram overlap, the strictest
    variant).

    Scale: the eval side is a benchmark suite — thousands of documents
    against a ~100 TB corpus — so its distinct shingles are broadcast and
    the whole pass is one corpus scan + broadcast semi join + anti join on
    the id; no shuffle of corpus text ever happens.
    """
    contaminated = (
        _shingle_postings(df, id_col, text_col, n)
        .join(_eval_shingles(eval_df, id_col, text_col, n), "__s", "left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return df.join(contaminated, id_col, "left_anti")


def contamination_fraction(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document contamination score: the fraction of a training doc's
    DISTINCT word-``n``-gram shingles that also occur anywhere in the
    evaluation set. The graded companion to ``decontaminate`` — pipelines
    that can't afford to drop every 1-shingle brush with a benchmark
    threshold on this fraction instead (e.g. drop if >= 0.8 overlap).

    Output: (id, n_shingles, n_hit, contamination) per training doc that
    has at least one shingle.

    Scale: same shape as ``decontaminate`` — eval shingles are benchmark-
    sized and broadcast; the corpus is scanned once, exploded shingles are
    flagged by a broadcast LEFT join (no shuffle of corpus text), and the
    per-doc re-aggregation partial-aggregates map-side before the one
    shuffle on the doc id.
    """
    eval_sh = _eval_shingles(eval_df, id_col, text_col, n).withColumn("__hit", F.lit(1))
    flagged = _shingle_postings(df, id_col, text_col, n).join(eval_sh, "__s", "left")
    return (
        flagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_hit"),  # count of non-null = hits
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("contamination"),
        )
    )


def _span_flags(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id, __pos, __dup) — every length-``n`` token-span start position,
    flagged with whether the identical span occurs in >= 2 distinct docs.

    The dup flag is computed as a bounded aggregate — groupBy(gram) with
    count_distinct(id) >= 2, one row per distinct gram — and joined back
    onto the posting stream on the gram hash. No per-gram posting ARRAY is
    ever materialized: a boilerplate span shared by millions of documents
    (license headers, templates — the expected input of ExactSubstr dedup
    at corpus scale) is a hot GROUP here, which partial aggregation and
    AQE skew handling absorb, where a collect_list posting list would
    accumulate millions of structs in one task. Both sides of the rejoin
    hash-partition on the same gram key, and the flag side is
    gram-distinct-sized (AQE broadcasts it when small). Shared core of
    ``duplicated_spans`` (the profile) and ``trim_duplicated_spans`` (the
    rewrite)."""
    spans = _positional_grams(df, id_col, text_col, n)
    # two consumers re-run the (cheap) gram kernel rather than share one
    # exchange: the flag aggregate keeps its map-side partial aggregation
    # (OPTIMIZATION_r11.md)
    dup_grams = spans.groupBy("__g").agg(
        (F.count_distinct("__id") >= 2).alias("__dup")
    )
    return spans.join(dup_grams, "__g").select("__id", "__pos", "__dup")


def _covered_positions(flags: DataFrame, n: int) -> DataFrame:
    """(__id, __pos): every token position covered by a duplicated span of
    ``_span_flags`` output, once per covering span."""
    return flags.filter(F.col("__dup")).select(
        "__id", F.explode(F.sequence(F.col("__pos"), F.col("__pos") + (n - 1))).alias("__pos")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Exact substring-level duplication profile (the fixed-window form of
    Lee et al. 2022's ExactSubstr dedup): a length-``n`` token span is
    *duplicated* when the identical span occurs in >= 2 distinct documents.
    Per doc, report how many of its spans are duplicated and how many token
    positions are covered by at least one duplicated span — the quantity a
    span-trimming rewrite would remove.

    Output: (id, n_spans, n_dup_spans, covered_tokens) per doc with >= n
    tokens.

    Scale: positional span hashes aggregate once on the span hash to a
    gram-distinct dup-flag table (bounded rows — never per-gram posting
    arrays, so a boilerplate span shared by millions of docs is a hot
    group absorbed by partial aggregation, not an OOM; see
    ``_span_flags``), rejoined onto the posting stream. The flagged
    stream feeds two codegen'd aggregations — per-doc span/dup counts,
    and the exact interval union via explode + count_distinct (positions,
    not pairs: O(n x spans)) — whose shared flagged-postings exchange
    executes once through Spark's runtime exchange reuse, so nothing is
    cached and nothing recomputes. A per-doc array-HOF union would run as
    interpreted lambdas; the codegen path stays linear.
    """
    # The explicit hash exchange on __id is the ONE subtree both per-doc
    # aggregations consume: runtime exchange reuse executes the upstream
    # kernel + flag join once, and every aggregation below — the span
    # counts, the (id, pos) distinct, the final counts-cov join — is
    # partition-local because hash(id) satisfies their clustering.
    flat = _span_flags(df, id_col, text_col, n).repartition("__id")
    counts = flat.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0)).alias("n_dup_spans"),
    )
    cov = (
        _covered_positions(flat, n)
        .groupBy("__id")
        .agg(F.count_distinct("__pos").alias("covered_tokens"))
    )
    return counts.join(cov, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_spans",
        "n_dup_spans",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
    )


def trim_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """The ExactSubstr REWRITE: remove every token covered by a cross-doc
    duplicated ``n``-token span and reassemble the document — the step a
    training pipeline actually ships after profiling with
    ``duplicated_spans``. Returns (id, n_tokens, kept_tokens, trimmed_md5)
    where trimmed_md5 pins every byte of the reconstructed text (single
    spaces, original token order) without shipping the text through the
    result set; a fully-trimmed doc hashes the empty string. The
    reconstruction is over the engine's dedup normalization —
    ``split(lower(trim(text)), '\\s+')`` tokens — so the hash pins the
    case-folded, whitespace-collapsed rewrite, NOT the original bytes;
    a pipeline shipping a case-preserving rewrite must re-tokenize
    without ``lower()`` and hash that output instead.

    Scale: covered positions come from the shared span-flag pipeline (one
    shuffle on the span hash); the rewrite is a positional anti join of
    the token stream against covered positions (shuffle on (id, pos)) and
    one per-doc reassembly aggregate — sort-by-position inside a small
    per-doc array, never a global sort.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__pos", "__tok"),
    )
    cov = _covered_positions(_span_flags(df, id_col, text_col, n), n)
    kept = toks.join(cov, ["__id", "__pos"], "left_anti")
    agg = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda x: x["__tok"],
            ),
            " ",
        ).alias("__trimmed"),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        # NULL text -> 0 tokens (split(NULL) is NULL), keeping the row
        # internally consistent with its coalesced kept_tokens=0; empty
        # text stays at the engine-wide split('') == [''] convention (1)
        F.coalesce(
            F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).cast("long"),
            F.lit(0),
        ).alias("n_tokens"),
    )
    return base.join(agg, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        F.md5(F.coalesce("__trimmed", F.lit(""))).alias("trimmed_md5"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    tau: float,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid_vec",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings by nearest centroid,
    then within each cluster drop every vector whose cosine to a LOWER-id
    cluster-mate reaches ``tau`` (greedy keep-lowest-id, same survivor rule
    as the text near-dup rewrites). Output: (vec_id, centroid_id, kept
    0/1) for the whole corpus.

    .. note:: The returned plan holds a ``cache()`` on the corpus-sized
       assignment table (it feeds three consumers). Spark keeps plan-keyed
       caches until the session drops them, so long-lived sessions calling
       this repeatedly must ``spark.catalog.clearCache()`` (or unpersist)
       between corpus passes — as bench/stress do — or the assignments pin
       executor storage indefinitely.

    Scale: this is the semantic-dedup shape that makes all-pairs tractable
    at 100 TB — the O(N^2) comparison is confined to within-cluster pairs
    (expected cluster size N/k), expressed as a self equi-join keyed by the
    centroid id: one shuffle on ``centroid_id``, no broadcast of corpus
    state, AQE splits skewed clusters. Centroid assignment is
    ``ivf_assign``'s (``similarity._nearest_centroids``), with the
    quantized vector and norm riding through its window, so the corpus is
    scanned and quantized ONCE. Quantized-integer cosine keeps the math
    bit-identical to the DuckDB oracle; zero-norm vectors get NULL cosine
    (see ``_cos``), so they neither error under ANSI nor mark anything as
    duplicate.
    """
    from .similarity import _cos, _nearest_centroids, _quantized

    q = _quantized(corpus, c_id, c_vec, "vec_id", "__v", "__nsq")
    cents = _quantized(centroids, cent_id, cent_vec, "centroid_id", "__kv", "__kn")
    j = _nearest_centroids(q, cents, "vec_id", "__v", "__nsq").drop("cosine")
    # cache barrier: j feeds both sides of the pair self-join AND the final
    # verdict join — without it the scan+quantize+assign subtree executes
    # three times (same precedent as jaccard_pairs' grp cache). The cache
    # lives until the session clears it (plan-keyed caches are not GC'd):
    # long-lived sessions invoking this repeatedly should
    # spark.catalog.clearCache() between corpus passes, as bench/stress do.
    j = j.cache()
    a = j.select(
        "centroid_id",
        F.col("vec_id").alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__nsq").alias("__na"),
    )
    b = j.select(
        "centroid_id",
        F.col("vec_id").alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__nsq").alias("__nb"),
    )
    dup = (
        a.join(b, "centroid_id")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(_cos("__va", "__vb", "__na", "__nb") >= tau)
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return j.join(dup, "vec_id", "left").select(
        "vec_id",
        "centroid_id",
        F.when(F.col("__dup").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("kept"),
    )


def _band_key_cols() -> list[Column]:
    """The canonical MinHash band keys over signature columns m0..m15:
    one string key per band, "<band>_<m..>_<m..>". SINGLE source of truth
    for the band layout — the LSH pair join, the incremental lookup, and
    the SQL oracles (queries/dedup._minhash_band_sql) must all agree."""
    cols = []
    for j in range(MINHASH_BANDS):
        parts = [F.col(f"m{j * MINHASH_ROWS + r}").cast("string")
                 for r in range(MINHASH_ROWS)]
        cols.append(F.concat_ws("_", F.lit(str(j)), *parts))
    return cols


#: ``_representatives`` collapses a corpus whose probed duplicate fraction
#: reaches this. 5% sits well above the probe's ~1% estimation error and
#: well below the duplication level where the collapse shuffle pays for
#: itself (duplicate groups shrink the band self-join quadratically).
COLLAPSE_DUP_FRAC = 0.05


def _duplicate_fraction(df: DataFrame, text_col: str) -> float:
    """Probed fraction of rows whose text duplicates another row's.

    One narrow JVM-only aggregate over the text column (xxhash64 +
    HyperLogLog++ at rsd=0.02, whose error stays far inside the decision
    threshold): no shuffle of document bodies, no Python worker, and
    Catalyst prunes the scan to the single column. Identical text implies
    an identical shingle set, so this lower-bounds the collapse
    opportunity (normalization can only merge more sets, never fewer)."""
    row = df.agg(
        F.count(text_col).alias("__n"),
        F.approx_count_distinct(F.xxhash64(text_col), rsd=0.02).alias("__d"),
    ).collect()[0]
    n = row["__n"] or 0
    if n == 0:
        return 0.0
    return max(0.0, (n - row["__d"]) / n)


def _band_pairs(a: DataFrame, b: DataFrame | None, keys: list[Column], *payload: str) -> DataFrame:
    """The band-bucket join: distinct ``(__ra, __rb)`` pairs of an ``a`` row
    and a ``b`` row (ids ``__rid``) sharing at least one band key of
    ``keys``, with each side's ``payload`` columns as ``<col>_a`` /
    ``<col>_b``. ``b=None`` joins ``a`` with itself and keeps
    ``__ra < __rb``. A pair sharing several bands is emitted once."""

    def bands(t: DataFrame) -> DataFrame:
        return t.select("__rid", *payload, F.explode(F.array(*keys)).alias("__bk"))

    x, y = bands(a).alias("a"), bands(a if b is None else b).alias("b")
    cond = F.col("a.__bk") == F.col("b.__bk")
    if b is None:
        cond = cond & (F.col("a.__rid") < F.col("b.__rid"))
    return x.join(y, cond).select(
        F.col("a.__rid").alias("__ra"),
        F.col("b.__rid").alias("__rb"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in payload],
    ).distinct()


def _verified_jaccard(cand: DataFrame, a: DataFrame, b: DataFrame, tau: float) -> DataFrame:
    """``(__ra, __rb, jaccard)``: the candidate pairs whose exact Jaccard
    over the ``__sh`` arrays of ``a`` and ``b`` (ids ``__rid``) reaches tau."""
    sh_a = a.select(F.col("__rid").alias("__ra"), F.col("__sh").alias("__sha"))
    sh_b = b.select(F.col("__rid").alias("__rb"), F.col("__sh").alias("__shb"))
    return (
        cand.join(sh_a, "__ra")
        .join(sh_b, "__rb")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn("jaccard", _jaccard(F.col("__inter"), F.size("__sha"), F.size("__shb")))
        .filter(F.col("jaccard") >= tau)
        .select("__ra", "__rb", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Returns (id_a < id_b, jaccard) for candidate pairs sharing >=1 LSH band
    whose true Jaccard >= tau. Semantics are the *algorithm* (candidates may
    miss sub-threshold-probability pairs); the exact operator is
    ``jaccard_pairs``.

    ``signatures``: optional caller-cached ``minhash_signatures`` table, so
    an audit query running this next to the exact pipeline runs the fused
    kernel once. It is collapsed exactly when it carries ``__k``.

    Documents with an identical shingle set have identical bands and
    Jaccard 1, so ``_representatives`` may run the band join over one
    representative per set and expand members at the output; the pairs are
    the same either way. Cache-lifetime note on ``jaccard_pairs``.
    """
    grp, reps = _representatives(
        df, id_col, text_col, n, signatures, minhash_signatures,
        "__sh", *[f"m{i}" for i in range(len(MINHASH_AB))],
    )
    cand = _band_pairs(reps, None, _band_key_cols())
    return _expand_rep_pairs(grp, _verified_jaccard(cand, reps, reps, tau))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, with_key: bool = False
) -> DataFrame:
    """(__id, __sh, m0..m15): hashed shingles + MinHash signature in one
    fused Arrow pass. Permutation math is exact int64 ((h·a+b) mod P with
    h < 2^36, a < 2^26 — products < 2^62), identical to
    ``array_min(transform(shingles, h -> (h*a+b) % P))`` over the native
    shingle path and the DuckDB oracle. ``with_key=True`` adds the same
    fixed-width set-identity key ``__k`` as ``_hashed_shingled``."""
    ab = np.array(MINHASH_AB, dtype=np.int64)

    def body(pdf):
        flat = _shingle_flat(pdf, n)
        if flat is None:
            return None
        out = _set_columns(flat, with_key)
        _ids, _dd, ss, starts, _ends = flat
        perms = (ss[:, None] * ab[None, :, 0] + ab[None, :, 1]) % FP_MOD
        mins = np.minimum.reduceat(perms, starts, axis=0)
        for i in range(len(ab)):
            out[f"m{i}"] = mins[:, i]
        return out

    schema = "__id {id}, __sh array<long>, " + ("__k binary, " if with_key else "")
    schema += ", ".join(f"m{i} long" for i in range(len(MINHASH_AB)))
    return _map_text(df, id_col, text_col, body, schema)


def _bit_of(h, j: int):
    """Fingerprint bit j of a feature hash: low bit of the affine rehash
    (h * a_j + b_j) % FP_MOD — see SIMHASH_AB for why raw bits of h are
    NOT usable (top bits carry no signal below FP_MOD)."""
    from ..functions.text import FP_MOD

    a, b = SIMHASH_AB[j]
    return (
        (h * F.lit(a).cast("long") + F.lit(b).cast("long")) % F.lit(FP_MOD)
    ).bitwiseAND(F.lit(1))


def simhash_agg(hashed: DataFrame, hashes_col: str = "__hs") -> DataFrame:
    """(__id, __sim): SimHash via explode + codegen hash aggregate, the
    all-Catalyst reference of ``simhash_fingerprints``.

    An array fold would evaluate ``SIMHASH_BITS`` interpreted higher-order
    lambdas per row. Exploding the shingle hashes and summing the AFFINE
    REHASH low bits (``_bit_of``; see SIMHASH_AB) as ordinary aggregate
    expressions keeps the pass inside one codegen'd HashAggregate whose
    map-side partials shrink it to one row per doc before the shuffle.
    Identical integer semantics (majority rule 2*bitsum > n_shingles).
    """
    ex = hashed.select("__id", F.explode(hashes_col).alias("__h"))
    agg = ex.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__nw"),
        *[
            F.sum(_bit_of(F.col("__h"), j)).alias(f"__b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    sim = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sim = sim + F.when(
            F.col(f"__b{j}") * 2 > F.col("__nw"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("__id", sim.alias("__sim"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, n: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Features are word n-gram shingles (unigrams are useless on small-vocab
    corpora: every doc's bit-majorities agree and all pairs collapse to
    Hamming 0). Candidates via 4 x 12-bit band equi-join (lossless for
    Hamming <= 3: 3 differing bits cannot touch all 4 bands), then exact
    popcount verify.

    Scale lever: with uniform fingerprint bits (see SIMHASH_AB) random
    band collisions run at the birthday bound ~N^2/2^band_bits per band, so
    band_bits must grow ~2*log2(N): at larger corpora widen the bands (e.g.
    60 bits as 4 x 15, still lossless for Hamming <= 3; stay <= 63 bits,
    bit 63 being the int64 sign) or require 2-of-4 band agreement
    (DESIGN.md, Dedup). ``simhash_agg`` is the all-Catalyst alternative to
    the fused fingerprint kernel (equality-tested).

    Documents with an IDENTICAL fingerprint are collapsed first (keyed on
    the fixed-width fingerprint itself): the band join runs over one
    representative per fingerprint and member pairs expand afterward, at
    Hamming 0 within a group. Cache-lifetime note on ``jaccard_pairs``.
    """
    grp = _collapse(simhash_fingerprints(df, id_col, text_col, n), "__sim")
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(str(j)),
            F.shiftright(F.col("__sim"), j * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
            .cast("string"),
        )
        for j in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
    ]
    verified = (
        _band_pairs(grp, None, band_cols, "__sim")
        .withColumn("hamming", F.bit_count(F.col("__sim_a").bitwiseXOR(F.col("__sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("__ra", "__rb", "hamming")
    )
    return _expand_rep_pairs(
        grp, verified, value_col="hamming",
        self_value=F.lit(0).cast("integer"), round_digits=None,
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
    state_dir: str | None = None,
    on_round=None,
) -> DataFrame:
    """(node, component) over an undirected pair graph; component = min node
    id in the connected set — the clustering step between near-dup pair
    generation and survivor selection. Both columns keep the input's id
    type; a node seen only in self-loop pairs is its own component. A pair
    with a null endpoint is dropped before either path runs, so a node seen
    only in such pairs is absent from the output.

    Adaptive execution (both paths produce identical rows and schema):

    - edge list <= ``driver_threshold``: collect + union-find on the driver.
      The pair graph is the OUTPUT of near-dup detection — orders of
      magnitude smaller than the corpus — so this is the common case even
      at large scale, and it avoids paying ~1s of scheduler overhead per
      distributed round on a graph that fits in memory.
    - larger: alternating large-star / small-star rounds (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC 2014) over the
      canonical edge set: each edge is stored once as ``src > dst``, and a
      ``(v, v)`` row marks a star root (or a self-loop-only node). With
      ``m(u)`` the minimum of ``u`` and its smaller neighbours, large-star
      rewires each edge ``(v, u)`` to ``(v, m(u))``; small-star then links
      ``v`` and every smaller neighbour of ``v`` to ``m(v)``. Every component
      contracts to a star rooted at its minimum in O(log² n) rounds, with
      no trigger and no tuning. Each round also measures, in the same job,
      how many rows of its input are not yet in star form (a row whose
      target is not a marked root, or a node's second row); at 0 the edge
      set IS the (node, component) table, so the loop stops and returns it.
      A graph that has not converged after ``max_iter`` rounds RAISES
      instead of returning silently-split components (resume from
      ``state_dir`` with a higher budget). Each round's edge set is
      CHECKPOINTED eagerly to truncate lineage: reliably when
      ``spark.sparkContext.setCheckpointDir(...)`` is configured
      (recoverable on executor loss — set it on a real cluster, with
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` to reap
      superseded files), else with ``localCheckpoint``, which is NOT
      recoverable if an executor dies mid-run.

    ``on_round(i, n)`` (distributed path only) is called after each round
    with its 0-based index and the count ``n`` of rows not yet in star
    form; it reads 0 on the converging round.

    ``state_dir`` (distributed path only) makes the loop RESTARTABLE
    across driver crashes: the canonical edge set and each round's edge
    set are written to ``state_dir/gen=N`` parquet (the atomic
    ``_SUCCESS`` marker commits it) and read back — serving as the
    round's lineage-truncation checkpoint AND as durable state. On entry
    the loop resumes from the highest COMPLETE generation (a
    partially-written directory without ``_SUCCESS`` — a mid-generation
    crash — is ignored and overwritten), so kill/resume at any point
    yields labels identical to an uninterrupted run: every generation is
    an edge set with the same components, and the loop converges from any
    of them to the same min-id stars. The state is GUARDED BY AN INPUT
    FINGERPRINT (edge count + order-independent xxhash64 xor, stored in
    ``state_dir/_meta``): resuming with a DIFFERENT pair graph — e.g. a
    nightly job reusing yesterday's dir — clears the stale generations and
    starts fresh instead of silently returning the old graph's labels. The
    fingerprint costs one extra pass over the edge list, only on the
    opt-in durable path.
    """
    from pyspark.sql import Observation, Window
    from pyspark.sql.types import StructField, StructType

    # cache BEFORE the size probe: the pair graph's lineage is typically the
    # expensive part (near-dup pair generation, ER match scoring) — without
    # the cache an over-threshold graph re-runs that whole pipeline for the
    # distributed edge build after already running it for the probe
    # (measured: ~18s of redundant ER match scoring at the 100x stress).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .dropna()
        .cache()
    )
    spark = pairs.sparkSession
    # the id type the distributed path computes in; the driver path matches it
    id_type = edges.select(F.greatest("src", "dst")).schema[0].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    try:
        if driver_threshold > 0:
            # one-action size probe: collect at most threshold+1 edges — if
            # they all fit, that IS the edge list (no separate count pass)
            rows = edges.limit(driver_threshold + 1).collect()
            if len(rows) <= driver_threshold:
                parent: dict = {}

                def find(x):
                    root = x
                    while parent[root] != root:
                        root = parent[root]
                    while parent[x] != root:  # path compression
                        parent[x], x = root, parent[x]
                    return root

                for r in rows:
                    a, b = r["src"], r["dst"]
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    if ra != rb:  # union by min id keeps label = component min
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra
                if not parent:
                    return spark.createDataFrame([], schema)
                # Arrow-path conversion (pandas) — ~4x faster than the
                # row-at-a-time list-of-tuples serializer for 10^4+ labels
                import pandas as _pd

                nodes = list(parent)
                return spark.createDataFrame(
                    _pd.DataFrame(
                        {"node": nodes, "component": [find(n) for n in nodes]}
                    ),
                    schema,
                )
        elif edges.isEmpty():
            # the round loop's Observations need rows: Spark prunes an
            # empty subtree together with its observer
            return spark.createDataFrame([], schema)
        sc = spark.sparkContext
        reliable = sc.getCheckpointDir() is not None

        def _gen_path(n: int) -> str:
            return f"{state_dir.rstrip('/')}/gen={n}"

        def _fs():
            jvm = sc._jvm
            root = jvm.org.apache.hadoop.fs.Path(state_dir)
            return jvm, root.getFileSystem(sc._jsc.hadoopConfiguration()), root

        def _complete_gens() -> list[int]:
            """Committed generations under state_dir (Hadoop FS — works on
            any cluster filesystem, not just local)."""
            jvm, fs, root = _fs()
            if not fs.exists(root):
                return []
            gens = []
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if not name.startswith("gen="):
                    continue
                ok = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
                if fs.exists(ok):  # no _SUCCESS = mid-generation crash, ignore
                    gens.append(int(name.split("=", 1)[1]))
            return sorted(gens)

        def _check_fingerprint(canon: DataFrame) -> None:
            """Resume only onto state produced from the SAME pair graph:
            mismatch clears gen dirs (meta last, so a crash mid-clear is
            re-detected next run) and a fresh meta is committed."""
            # bit_xor: order-independent, overflow-free (sum of hashes would
            # overflow int64 under ANSI); edges are distinct so xor can't
            # self-cancel a duplicate
            row = canon.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
            ).collect()[0]
            fp = f"{row['n']}:{row['h']}"
            jvm, fs, root = _fs()
            meta = jvm.org.apache.hadoop.fs.Path(f"{state_dir.rstrip('/')}/_meta")
            stored = None
            if fs.exists(meta):
                # a kill mid-write can leave a torn _meta (dir with no
                # committed part file): read defensively and treat torn or
                # unreadable state as a mismatch, never as a permanent brick
                try:
                    rows = spark.read.text(f"{state_dir.rstrip('/')}/_meta").collect()
                    stored = rows[0][0] if rows else None
                except Exception:  # noqa: BLE001 — torn/garbled meta
                    stored = None
                if stored is None:
                    stored = "__torn__"
            if stored is not None and stored != fp:
                # unknown or different input: clear every generation (torn
                # ones included) BEFORE the meta, so a crash mid-clear is
                # re-detected and finished on the next run
                for st in fs.listStatus(root):
                    if st.getPath().getName().startswith("gen="):
                        fs.delete(st.getPath(), True)
                fs.delete(meta, True)
                stored = None
            if stored is None:
                spark.createDataFrame([(fp,)], "value string").coalesce(1).write.mode(
                    "overwrite"
                ).text(f"{state_dir.rstrip('/')}/_meta")

        def ckpt(df: DataFrame, gen: int) -> DataFrame:
            if state_dir is not None:
                # parquet generation = durable, resumable checkpoint
                df.write.mode("overwrite").parquet(_gen_path(gen))
                return spark.read.parquet(_gen_path(gen))
            return df.checkpoint(eager=True) if reliable else df.localCheckpoint()

        def distinct(df: DataFrame) -> DataFrame:
            # exchange on src, then dedup partition-local on that layout —
            # which is also the layout the next round's groupBy(src) needs
            return df.repartition("src").dropDuplicates()

        # canonical edge set: a self-loop pair (v, v) stays as v's root marker
        state = distinct(
            edges.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
        )
        gen = 0
        if state_dir is not None:
            _check_fingerprint(state)
            done = _complete_gens()
            gen = done[-1] if done else 0
            state = spark.read.parquet(_gen_path(gen)) if done else ckpt(state, 0)
        n = None  # max_iter <= 0: the error message must still format
        for i in range(max_iter):
            # m(u) = min over u's rows = u or its smallest neighbour; u has
            # no row until small-star marks it, so m(u) falls back to u
            groups, rows = Observation(), Observation()
            mins = (
                state.groupBy(F.col("src").alias("__u"))
                .agg(F.min("dst").alias("__m"))
                .observe(groups, F.count(F.lit(1)).alias("g"))
            )
            joined = state.join(mins, F.col("dst") == F.col("__u"), "left").observe(
                rows,
                F.count(F.lit(1)).alias("r"),
                # rows whose target is not a marked root (its only row is
                # its own marker)
                F.count(F.when(~F.col("__m").eqNullSafe(F.col("dst")), 1)).alias("a"),
            )
            m = F.coalesce("__m", "dst")
            # large-star: (v, u) -> (v, m(u)); a marker survives only on a
            # node with no smaller neighbour
            large = joined.filter((F.col("src") != F.col("dst")) | (m == F.col("dst")))
            large = large.select("src", m.alias("dst"))
            # small-star: v, each target of v, and their minimum all link to it
            m = F.min("dst").over(Window.partitionBy("src"))
            small = large.select("src", "dst", m.alias("__m")).select(
                F.explode(F.array("src", "dst", "__m")).alias("src"),
                F.col("__m").alias("dst"),
            )
            state = ckpt(distinct(small), gen + i + 1)
            r = rows.get
            # rows off a marked root, plus every node's rows beyond its first
            n = r["a"] + r["r"] - groups.get["g"]
            if on_round is not None:
                on_round(i, n)
            if n == 0:  # the round's input was already the star forest
                break
        else:
            # a non-converged edge set would SILENTLY split components
            # (entity resolution would fragment entities with no error);
            # with a state_dir the generations are durable for a resume
            raise RuntimeError(
                f"connected_components: not converged after {max_iter} rounds "
                f"({n} edges not yet in star form); raise max_iter "
                "(resume from state_dir if set)"
            )
        return state.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        )
    finally:
        edges.unpersist()


#: Block-pair cosine layout: rows go to ``_N_BLOCKS`` blocks by id, and
#: each block pair's matmul runs in ``_TILE_A`` x ``_TILE_B`` tiles, so
#: peak task memory is one tile of doubles whatever the block size.
_N_BLOCKS = 16
_TILE_A, _TILE_B = 1024, 4096


def _block_cosine_pairs(vecs: DataFrame, tau: float) -> DataFrame:
    """All pairs (id_a < id_b, cosine >= tau, unrounded) over
    ``vecs`` = (__id integral, __q array<long>) as a distributed block
    matmul — no driver collect, no corpus broadcast. Rows are packed into
    ``_N_BLOCKS`` block rows by ``pmod(id)``; the B(B+1)/2 unordered block
    pairs come from a nested-loop join over B rows per side, and each pair
    is one tiled int64 NumPy matmul. Every unordered row pair lands in
    exactly one block pair, so the result is complete and duplicate-free.

    Exactness: dot products and squared norms are exact int64; the cosine
    is the SQL oracles' double expression ``dot / sqrt(n_lo) / sqrt(n_hi)``
    with the SMALLER id's norm first, chosen per pair because block order
    is not id order (the two division orders can differ by one ulp at
    tau). A zero norm gives NaN, which fails ``>= tau`` — the pairs the
    oracles' ``na > 0 AND nb > 0`` guards drop."""
    from collections.abc import Iterator

    blocks = (
        vecs.withColumn("__b", F.pmod(F.col("__id"), F.lit(_N_BLOCKS)))
        .groupBy("__b")
        .agg(F.collect_list(F.struct("__id", "__q")).alias("__rows"))
    )
    a = blocks.select(F.col("__b").alias("__ba"), F.col("__rows").alias("__ra"))
    b = blocks.select(F.col("__b").alias("__bb"), F.col("__rows").alias("__rb"))
    # B x B rows: trivially small; the heavy work is the per-pair kernel
    joined = a.join(b, F.col("__ba") <= F.col("__bb")).repartition(
        max(vecs.sparkSession.sparkContext.defaultParallelism, _N_BLOCKS)
    )

    def _unpack(cell):
        ids = np.array([r["__id"] for r in cell], dtype=np.int64)
        mat = np.stack([np.asarray(r["__q"], dtype=np.int64) for r in cell])
        # sqrt of the int64 norm cast to double, as sqrt(CAST(n AS DOUBLE))
        return ids, mat, np.sqrt((mat * mat).sum(axis=1).astype(np.float64))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for ba, bb, ra, rb in zip(pdf["__ba"], pdf["__bb"], pdf["__ra"], pdf["__rb"]):
                if len(ra) == 0 or len(rb) == 0:
                    continue
                a_ids, a_mat, a_sq = _unpack(ra)
                b_ids, b_mat, b_sq = _unpack(rb)
                for lo in range(0, len(a_ids), _TILE_A):
                    hi = lo + _TILE_A
                    for blo in range(0, len(b_ids), _TILE_B):
                        bhi = blo + _TILE_B
                        lt = a_ids[lo:hi, None] < b_ids[None, blo:bhi]
                        sa, sb = a_sq[lo:hi, None], b_sq[None, blo:bhi]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            cos = (
                                (a_mat[lo:hi] @ b_mat[blo:bhi].T).astype(np.float64)
                                / np.where(lt, sa, sb)
                                / np.where(lt, sb, sa)
                            )
                        mask = cos >= tau
                        if ba == bb:  # diagonal block: each pair once, no self-pairs
                            mask &= lt
                        ii, jj = np.nonzero(mask)
                        if len(ii) == 0:
                            continue
                        ida, idb = a_ids[lo:hi][ii], b_ids[blo:bhi][jj]
                        yield pd.DataFrame(
                            {
                                "id_a": np.minimum(ida, idb),
                                "id_b": np.maximum(ida, idb),
                                "cosine": cos[ii, jj],
                            }
                        )

    return joined.mapInPandas(kernel, "id_a long, id_b long, cosine double")


def _integral_id_type(df: DataFrame, id_col: str, op: str):
    """The id column's type; the block and pair-key packing need integers."""
    id_type = df.select(id_col).schema[0].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"{op}: id column {id_col!r} must be an integer "
            f"type, got {id_type.simpleString()}"
        )
    return id_type


def embedding_pairs(df: DataFrame, id_col: str, vec_col: str, tau: float) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cosine >= tau)
    over quantized vectors, by the block-pair kernel
    ``_block_cosine_pairs``. The cosine is rounded with
    ``floor(x*1e6 + 0.5)``, which is DuckDB's round() for positive doubles.

    ``id_col`` must be an integer column; ``id_a``/``id_b`` come back in
    its type. Any other type raises ``TypeError`` up front.

    Scale: one block holds ~N/16 rows x dim x 8 bytes and the work is
    136 matmul tasks — the all-pairs FLOPs spread over the cluster. For
    sub-quadratic candidate generation use operators/similarity.py
    (IVF / LSH blocking)."""
    id_type = _integral_id_type(df, id_col, "embedding_pairs")
    q = _spread(df).select(F.col(id_col).alias("__id"), quantize_vec(vec_col).alias("__q"))
    return _block_cosine_pairs(q, tau).select(
        F.col("id_a").cast(id_type).alias("id_a"),
        F.col("id_b").cast(id_type).alias("id_b"),
        (F.floor(F.col("cosine") * 1e6 + 0.5) / 1e6).alias("cosine"),
    )


#: Dense-gate bounds for ``sparse_cosine_pairs`` (see its probe): the
#: vocabulary must fit a per-document array column, and the whole dense
#: matrix must spread across block tasks without oversized rows
#: (2^26 cells x 8 B = 512 MB total; <= 33 MB per block at 16 blocks).
_DENSE_MAX_VOCAB = 1024
_DENSE_MAX_CELLS = 1 << 26


def _dense_int_cosine_pairs(wt: DataFrame, vocab: list[int], tau: float) -> DataFrame:
    """All-pairs cosine over a SMALL-VOCABULARY exact-integer TF-IDF index
    (``wt``: __id, __w, __wgt) — the dense dual of the inverted-index
    posting join: documents become dense int64 weight vectors over the
    sorted ``vocab`` slots and go through ``_block_cosine_pairs`` instead
    of shuffling Σ df(t)² co-posting rows. Same int64 dots and norms, same
    double cosine, same ``>= tau`` as the posting branch; the rounding is
    the caller's ``F.round``."""
    slot_args = []
    for i, w in enumerate(vocab):
        slot_args += [F.lit(w), F.lit(i)]
    slot = F.create_map(*slot_args)
    vecs = (
        wt.select("__id", slot[F.col("__w")].alias("__slot"), "__wgt")
        .groupBy("__id")
        .agg(F.map_from_entries(F.collect_list(F.struct("__slot", "__wgt"))).alias("__m"))
        .select(
            "__id",
            F.transform(
                F.sequence(F.lit(0), F.lit(len(vocab) - 1)),
                lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0).cast("long")),
            ).alias("__q"),
        )
    )
    return _block_cosine_pairs(vecs, tau)


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float,
    max_df_frac: float = 1.0,
    idf_scale: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: pairs (id_a < id_b, cosine >=
    tau) where each document is the sparse vector of its word TF-IDF
    weights — the bag-of-words similarity that complements shingle
    Jaccard (robust to word REORDERING, which destroys n-grams).

    Weights are exact integers (tf x round(ln(N/df) * idf_scale)), so the
    per-term posting join + sum is order-free and bit-identical to the
    SQL oracle; the one double expression is the final normalized cosine.
    Residual cross-libm caveat (the engine-wide ln note, cf.
    ``text_tfidf``): Java Math.log and DuckDB ln may differ by 1 ulp,
    which flips a weight only when ln(N/df)*idf_scale lands within 1 ulp
    of a .5 rounding boundary (~1e-13 per distinct term; none in the
    gate corpora).

    Scale: this is the inverted-index self-join — cost is sum over terms
    of df(t)^2. The lever at corpus scale is ``max_df_frac``: terms in
    more than that fraction of documents (stopwords — precisely the ones
    with quadratic postings and near-zero idf) are dropped from the
    vectors BEFORE the join, which bounds posting lengths; production
    deployments add prefix filtering on top. On the synthetic word-soup
    tables every word is ubiquitous, so the gate query leaves
    max_df_frac=1 and restricts the corpus instead — the operator's
    pruning path is unit-tested separately.

    ``id_col`` must be an integer column (both paths pack and order ids as
    int64); ``id_a``/``id_b`` come back in its type. Any other type raises
    ``TypeError`` up front."""
    from ..functions.text import word_hashes

    id_type = _integral_id_type(df, id_col, "sparse_cosine_pairs")
    toks = _spread(df).select(
        F.col(id_col).alias("__id"), F.explode(word_hashes(text_col)).alias("__w")
    )
    tf = toks.groupBy("__id", "__w").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__w").agg(F.count(F.lit(1)).alias("__df"))
    n = tf.select(F.count_distinct("__id").alias("__n"))
    wt = (
        tf.join(dfreq, "__w")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("__df").cast("double")
            <= F.col("__n").cast("double") * F.lit(max_df_frac)
        )
        .select(
            "__id", "__w",
            (
                F.col("__tf")
                * F.round(
                    F.log(F.col("__n").cast("double") / F.col("__df").cast("double"))
                    * idf_scale
                ).cast("long")
            ).alias("__wgt"),
        )
    )
    # wt (the TF-IDF index, ~terms-per-doc rows) feeds three branches
    # (norms + both posting sides); cache it so tokenize/tf/df run once.
    # Same cache-lifetime note as jaccard_pairs.
    #
    # Overflow envelope: the norm/dot products square and
    # sum __wgt in int64 to stay inside codegen on the hot posting join —
    # safe while |__wgt| <= ~3.0e9 (sqrt(2^63)/sqrt(2), margin for the
    # sum). A pathological doc repeating a rare term ~10^5+ times at web
    # scale can exceed that, so the bound is ENFORCED per row: fail loudly
    # with the remedies (cap tf upstream, lower idf_scale) instead of an
    # ANSI abort deep in the aggregate or a silent non-ANSI wrap to a
    # negative norm.
    wgt_cap = 3_000_000_000
    wt = wt.withColumn(
        "__wgt",
        F.when(F.abs(F.col("__wgt")) <= wgt_cap, F.col("__wgt")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "sparse_cosine_pairs: |tf*idf weight| > "
                        f"{wgt_cap} would overflow the int64 norm/dot "
                        "(cap tf upstream or lower idf_scale); got "
                    ),
                    F.col("__wgt").cast("string"),
                )
            ).cast("long")
        ),
    )
    wt = wt.cache()
    # DENSE GATE: when the surviving vocabulary is small, the TF-IDF
    # matrix is effectively DENSE and the inverted-index self-join is the
    # wrong algorithm — it shuffles one row per co-posting (Σ df(t)², 8.9M
    # rows on the packaged gate corpus, OPTIMIZATION_r11.md) to compute
    # what is one small exact int64 matmul. The probe (one narrow
    # aggregate over the cached index) takes the dense path when the
    # vocabulary fits a per-row array (<= {_DENSE_MAX_VOCAB}) and the
    # matrix fits comfortably across block tasks (<= 2^26 cells); real
    # corpora (Heaps-law vocabularies) keep the posting path, where
    # ``max_df_frac`` remains the scale lever. Exactness: same int64 dot
    # products in a different order, same double cosine expression, same
    # tau comparison — see ``_dense_int_cosine_pairs``.
    # tau > 0 is part of the gate: at tau <= 0 the posting join's output
    # includes zero-dot pairs that share only a zero-weight (idf = 0) term
    # — information a dense weight vector cannot represent (the zero slot
    # is indistinguishable from term absence), and an all-pairs result at
    # tau <= 0 is output-quadratic anyway. For tau > 0 every emitted pair
    # has dot > 0, where both algorithms agree exactly (unit-pinned).
    probe = wt.agg(
        F.count_distinct("__w").alias("nw"), F.count_distinct("__id").alias("nd")
    ).collect()[0]
    nw, nd = probe["nw"] or 0, probe["nd"] or 0
    if tau > 0 and 0 < nw <= _DENSE_MAX_VOCAB and nw * nd <= _DENSE_MAX_CELLS:
        vocab = sorted(r["__w"] for r in wt.select("__w").distinct().collect())
        dense = _dense_int_cosine_pairs(wt, vocab, tau)
        return dense.select(
            F.col("id_a").cast(id_type).alias("id_a"),
            F.col("id_b").cast(id_type).alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    nrm = wt.groupBy("__id").agg(F.sum(F.col("__wgt") * F.col("__wgt")).alias("__nn"))
    a, b = wt.alias("a"), wt.alias("b")
    joined = a.join(
        b, (F.col("a.__w") == F.col("b.__w")) & (F.col("a.__id") < F.col("b.__id"))
    )
    # The pair-key range probe reads min/max of the SOURCE id column (one
    # pruned scan): an eager probe of the cached index would materialize
    # the cache in its own job, and the main plan would then reprint the
    # cached subtree's exchanges per branch, tripping the plan-budget lint.
    # wt's ids are a subset of the source ids, so the bound holds.
    stats = df.agg(
        F.min(F.col(id_col)).alias("mn"), F.max(F.col(id_col)).alias("mx")
    ).collect()[0]
    dot = _pair_aggregate(
        joined, F.col("a.__id"), F.col("b.__id"),
        F.sum(F.col("a.__wgt") * F.col("b.__wgt")).alias("__dot"), id_type, stats,
    )
    na = nrm.select(F.col("__id").alias("__ra"), F.col("__nn").alias("__na"))
    nb = nrm.select(F.col("__id").alias("__rb"), F.col("__nn").alias("__nb"))
    cos = (
        dot.join(na, "__ra")
        .join(nb, "__rb")
        .withColumn(
            "cosine",
            F.when(
                (F.col("__na") > 0) & (F.col("__nb") > 0),
                F.col("__dot").cast("double")
                / F.sqrt(F.col("__na").cast("double"))
                / F.sqrt(F.col("__nb").cast("double")),
            ),
        )
        .filter(F.col("cosine") >= tau)
    )
    return cos.select(
        F.col("__ra").alias("id_a"),
        F.col("__rb").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def minhash_lookup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup lookup: match a (small) new batch against an
    existing corpus through the MinHash-LSH band index — the daily-ingest
    shape, where the corpus index is persisted (bands bucketed by key at
    rest) and only the new batch is shingled fresh; the band probe is an
    equi join that prunes to matching buckets. Returns (new_id, match_id,
    jaccard) for band-sharing pairs with exact Jaccard >= tau.

    Both sides run the same fused signature kernel here (the persisted form
    of the corpus side is exactly ``minhash_signatures`` output). Each
    signature table feeds its band explode and the verification join, so
    both are cached (cache-lifetime note on ``jaccard_pairs``)."""
    new = minhash_signatures(new_df, id_col, text_col, n).cache()
    old = minhash_signatures(corpus_df, id_col, text_col, n).cache()
    new, old = (t.withColumnRenamed("__id", "__rid") for t in (new, old))
    cand = _band_pairs(new, old, _band_key_cols())
    return _verified_jaccard(cand, new, old, tau).select(
        F.col("__ra").alias("new_id"),
        F.col("__rb").alias("match_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )
