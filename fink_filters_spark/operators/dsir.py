"""DSIR-style importance-weighted data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The published recipe: estimate target and raw data distributions over
HASHED n-gram buckets (cheap, fixed-width features), weight every raw
document by the log-likelihood ratio of its features under the two
distributions, and keep the highest-weighted documents — selecting raw
data that "looks like" the target domain without training a classifier.

Engine mapping, 100 TB shape: bucket counting is one partial-agg'd
groupBy per side over the exploded token stream; the weight table is
BUCKETS rows (1024 here — always broadcastable); scoring is a broadcast
equi-join of the candidate token stream against it plus one per-doc sum.
No all-pairs stage, no model, no iteration.

Cross-engine determinism: the per-bucket log-ratio is quantized ONCE to
an integer micro-log (``round(ln(ratio) * 1e6)``) computed from exact
integer counts, so each document's score is an order-independent integer
SUM — the float appears only in the final ``score = micro_sum / 1e6``
display division (the repo-wide oracle-parity convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .grams import _map_text, _ngrams, _positional_grams

DSIR_BUCKETS = 1024
MICRO = 1_000_000


def hashed_token_buckets(df: DataFrame, id_col: str, text_col: str,
                         n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Map each token of the engine-standard token stream to its char-fold
    hash bucket (one row per token OCCURRENCE — DSIR counts occurrences,
    not distinct types). Returns (id, bucket). Hashing runs in the shared
    Arrow gram kernel (``grams._positional_grams`` at n=1 — bit-identical
    integers to the native ``word_hashes`` expression)."""
    return _positional_grams(df, id_col, text_col, 1).select(
        F.col("__id").alias("id"), (F.col("__g") % n_buckets).alias("bucket")
    )


def _weights_from_counts(joined: DataFrame, n_buckets: int) -> DataFrame:
    """Shared tail of the weight fit: smoothed log-ratio per bucket from a
    ``(bucket, tc, rc)`` table carrying one row per possible bucket."""
    tot = joined.groupBy().agg(
        F.sum("tc").alias("T"), F.sum("rc").alias("R")
    )
    ratio = (
        (F.col("tc") + 1).cast("double") / (F.col("T") + n_buckets)
    ) / ((F.col("rc") + 1).cast("double") / (F.col("R") + n_buckets))
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(F.log(ratio) * MICRO).cast("long").alias("w_micro"),
    )


def dsir_bucket_weights(target: DataFrame, raw: DataFrame, id_col: str,
                        text_col: str, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-bucket integer micro-log importance weights
    ``w_b = round(ln( ((t_b+1)/(T+B)) / ((r_b+1)/(R+B)) ) * 1e6)``
    with add-one smoothing over ``B`` buckets (both unseen-bucket cases
    finite). Exact integer counts feed one double ``ln`` per bucket.
    The result is EXACTLY ``n_buckets`` rows — one per possible bucket,
    including buckets unseen in both corpora (their smoothed weight
    ln((R+B)/(T+B)) is finite and well-defined) — so a persisted weight
    table scores ANY later candidate corpus without dropping tokens that
    hash to buckets the fit never saw. Broadcast it.

    When target and raw are two slices of ONE table, prefer
    ``dsir_bucket_weights_flagged`` — it fits both histograms from a
    single Arrow tokenize/hash pass instead of two."""
    t = (
        hashed_token_buckets(target, id_col, text_col, n_buckets)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))
    )
    r = (
        hashed_token_buckets(raw, id_col, text_col, n_buckets)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    )
    spine = target.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = spine.join(t, "bucket", "left").join(r, "bucket", "left").select(
        "bucket",
        F.coalesce("tc", F.lit(0)).alias("tc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    return _weights_from_counts(joined, n_buckets)


def bucket_occurrences_flagged(df: DataFrame, id_col: str, text_col: str,
                               flag, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """``(id, bucket, __f)`` — one row per token OCCURRENCE of the whole
    table, tagged with the boolean ``flag`` column/expression (True =
    target slice). ONE Arrow flat-kernel pass where the two-sided fit
    paid one per slice; tokenization/hashing is per-row independent, so
    the (id, bucket) multiset per slice is bit-identical to running
    ``hashed_token_buckets`` on the filtered slice."""

    def body(pdf):
        grams = _ngrams(pdf, 1)
        if grams is None:
            return None
        ids, d, wh = grams
        return {"id": ids[d], "bucket": wh % n_buckets, "__f": pdf["__x"].to_numpy()[d]}

    flag_col = F.col(flag) if isinstance(flag, str) else flag
    return _map_text(
        df, id_col, text_col, body, "id {id}, bucket long, __f boolean", extra=flag_col
    )


def dsir_bucket_weights_flagged(df: DataFrame, id_col: str, text_col: str,
                                flag, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """``dsir_bucket_weights`` for the common case where target and raw
    are two slices of ONE table, selected by the boolean ``flag``: both
    bucket histograms come out of a single tokenize/hash pass and ONE
    conditional aggregation (map-side combined), halving the kernel cost
    of the fit. Same ``n_buckets``-row output, same integers."""
    occ = bucket_occurrences_flagged(df, id_col, text_col, flag, n_buckets)
    counts = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("__f"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(F.col("__f"), 0).otherwise(1)).alias("rc"),
    )
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = spine.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("tc", F.lit(0)).alias("tc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    return _weights_from_counts(joined, n_buckets)


def dsir_scores(raw: DataFrame, weights: DataFrame, id_col: str,
                text_col: str, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-document importance score: SUM of its tokens' bucket
    micro-weights (integer, order-independent) — returned as
    ``(id, n_tok, micro_sum)``. The score IS ``micro_sum``, kept in exact
    integer micro-units (no derived double column — DESIGN.md "integer
    micro-units"); divide by ``n_tok`` downstream if a per-token rate is
    wanted."""
    occ = hashed_token_buckets(raw, id_col, text_col, n_buckets)
    # inner join is lossless: the weight table carries every possible
    # bucket (see dsir_bucket_weights), and bucket = hash % n_buckets
    # always lands inside it
    return (
        occ.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("w_micro").alias("micro_sum"),
        )
        # hash-stability: micro_sum IS the score in exact integer micro
        # units; no derived double column (DESIGN.md "integer micro-units")
        .select("id", "n_tok", "micro_sum")
    )
