"""Byte-pair-encoding vocabulary training + tokenization at corpus scale.

The split of work follows how production tokenizer training actually runs
(Sennrich et al. 2016; GPT-2/HF trainers): the CORPUS pass — word counting —
is the big-data stage and runs distributed (one shuffle, map-side partial
aggregation); the merge LOOP runs over the aggregated word-frequency dict,
which is vocabulary-sized (capped to the top ``top_words`` — standard
practice, the count tail contributes no merges), so it is driver-side by
design, not by accident. Tokenization then redistributes: merges broadcast
to executors, words segmented once per DISTINCT word per Arrow batch.

No reference parity claim: fink-filters has no tokenizer (its text surface
is ``functions/text.py``'s counting heuristics, cf. ``bpe_ish_count``);
this operator serves the engine's LLM-training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

END = "</w>"  # end-of-word marker (Sennrich convention)


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over ``split(lower(trim(text)), '\\s+')`` — the engine's
    dedup/text normalization. One explode + one count shuffle."""
    words = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return (
        df.select(words.alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 200,
    top_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus. Returns the ordered
    merge list [(left, right), ...] (rank = position).

    Distributed stage: word counts, truncated to the ``top_words`` most
    frequent (count desc, word asc — deterministic) before collect; the
    merge loop is classic frequency-greedy BPE with a deterministic
    tie-break (highest pair count, then lexicographically smallest pair),
    so training reproduces bit-identically across runs and partitionings.
    Stops early when no pair occurs twice.
    """
    wc = (
        word_counts(df, text_col)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(top_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]) + (END,): r["cnt"] for r in wc
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for seq, cnt in vocab.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        # highest count wins; ties break to the lexicographically smallest
        # pair — fully deterministic training
        (a, b), best_cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_cnt < 2:
            break
        merged = a + b
        nxt: dict[tuple[str, ...], int] = {}
        for seq, cnt in vocab.items():
            out = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + cnt
        vocab = nxt
        merges.append((a, b))
    return merges


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word, lowest-rank pair first (the GPT-2
    application order — equivalent to replaying training merges)."""
    seq = list(word) + [END]
    while len(seq) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(seq, seq[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        seq[best_i: best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """(id, n_words, n_tokens): tokenize every document with the learned
    merges. Merge table broadcast once; inside each Arrow batch every
    DISTINCT word is segmented once (vocab ≪ token count, same skew the
    shingle kernel exploits) and per-document token counts come from a
    numpy aggregation — no per-token Python loop over the corpus.

    Tokenization matches the TRAINER's ``split(lower(trim(text)), '\\s+')``
    exactly for ASCII text: the kernel splits on the ASCII whitespace
    class (Java's ``\\s`` is ASCII-only, Python's ``str.split`` is not —
    a NBSP-joined pair would otherwise be one trained word but two
    applied words) and lowercases with ``str.lower`` (locale-free; agrees
    with the JVM on ASCII, the engine-wide caveat of ``grams``
    applies to exotic casings). Integer and string id columns keep their
    input type; other id types are rejected up front (the kernel builds
    the id Series with a fixed dtype)."""
    import re
    from collections.abc import Iterator

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast({tuple(m): i for i, m in enumerate(merges)})
    ws_re = re.compile("[ \\t\\n\\x0b\\f\\r]+")

    def kernel(batches: Iterator) -> Iterator:
        import numpy as _np
        import pandas as _pd

        ranks = bc.value
        seg_cache: dict[str, int] = {}
        for pdf in batches:
            # an integral id column with NULLs reaches pandas as float64 +
            # NaN; pd.Series(ids, dtype='int64') below would then die with
            # an opaque executor TypeError — reject it up front instead
            # (string ids pass NULL through as None, consistent contract)
            if id_dtype == "int64" and pdf["__id"].isna().any():
                raise ValueError(
                    "bpe_token_stats: NULL id in an integral id column — "
                    "drop or fill ids upstream"
                )
            ids, n_words, n_tokens = [], [], []
            for did, text in zip(pdf["__id"], pdf["__t"]):
                toks = [t for t in ws_re.split(text.strip(" \t\n\x0b\f\r").lower())
                        if t] if text else []
                total = 0
                for w in toks:
                    n = seg_cache.get(w)
                    if n is None:
                        n = len(segment_word(w, ranks))
                        seg_cache[w] = n
                    total += n
                ids.append(did)
                n_words.append(len(toks))
                n_tokens.append(total)
            yield _pd.DataFrame(
                {"__id": _pd.Series(ids, dtype=id_dtype),
                 "n_words": _np.asarray(n_words, dtype="int64"),
                 "n_tokens": _np.asarray(n_tokens, dtype="int64")}
            )

    from .grams import _spread

    src = _spread(df).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    id_type = src.schema["__id"].dataType.simpleString()
    if id_type == "string":
        id_dtype = "object"
    elif id_type in ("tinyint", "smallint", "int", "bigint"):
        id_dtype = "int64"
    else:
        raise ValueError(
            f"bpe_token_stats: unsupported id column type {id_type!r} "
            "(integer or string required)"
        )
    out = src.mapInPandas(
        kernel, f"__id {id_type}, n_words long, n_tokens long"
    )
    return out.withColumnRenamed("__id", id_col)
