"""Arrow gram kernels shared by the text-dedup family.

One copy of each mechanism the dedup, near-duplicate, span, DSIR and
corpus-statistics operators run inside Python workers:

- ``_flat_word_hashes`` — tokenize one Arrow batch and hash every token;
- ``_ngrams`` — every positional word n-gram hash of a batch;
- ``_shingle_flat`` — the distinct sorted n-gram set of each document;
- ``_map_text`` — the one ``mapInPandas`` wrapper over ``(__id, __t)``;
- ``_spread`` — repartition before a CPU-heavy per-row stage.

Every kernel is bit-identical to the native expressions
(``functions.text.word_hashes`` + ``combine_word_hashes``) and to the DuckDB
oracles: the char fold ``h = (h*31 + ord(c)) % P`` and the n-gram combine
``g = (g*WB + w) % P`` stay below 2^63 in int64. Tokenization is
``split(lower(trim(text)), '\\s+')`` for ASCII whitespace (Java's ``\\s``
is ASCII-only); non-ASCII-whitespace corpora should use the native paths.

Ids pass through untouched, so every kernel accepts any id type: the
wrapper declares the input id column's own type in the output schema.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import FP_MOD as P, WORD_COMBINE_BASE as WB


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's parallelism before CPU-heavy per-row
    stages. Document corpora often arrive as few large files; inheriting
    file-partitioning would run the expensive shingle/hash expressions on a
    handful of cores regardless of cluster size. At a parallelism of 1
    there is nothing to spread, so the input is returned as it is."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df if par <= 1 else df.repartition(par)


def _map_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    body: Callable,
    schema: str,
    extra: Column | None = None,
) -> DataFrame:
    """``mapInPandas`` over the ``(__id, __t[, __x])`` batches of ``df``
    (``__x`` is the optional ``extra`` column). ``body(pdf)`` returns a
    dict of output columns, or None when the batch yields no rows; a batch
    with no rows never reaches it. ``{id}`` in ``schema`` stands for the
    id column's own type."""
    cols = [F.col(id_col).alias("__id"), F.col(text_col).alias("__t")]
    if extra is not None:
        cols.append(extra.alias("__x"))
    src = _spread(df).select(*cols)

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = body(pdf) if len(pdf) else None
            if out is not None:
                yield pd.DataFrame(out)

    id_type = src.schema["__id"].dataType.simpleString()
    return src.mapInPandas(kernel, schema.format(id=id_type))


def _flat_word_hashes(pdf, n: int):
    """Tokenize one Arrow batch and hash every token, flat: returns
    ``(ids, d, wh)`` — per-row ids, token->row index, token hash — or
    None if no row has >= ``n`` tokens. A NULL text yields no tokens, as
    the native expressions propagate NULL and explode nothing."""
    import re

    import pandas as pd

    ws_re = re.compile(r"\s+")
    all_words: list[str] = []
    doc_idx: list[int] = []
    for i, t in enumerate(pdf["__t"]):
        if t is None:
            continue
        # strip(' ') trims spaces only, as F.trim does: a bare strip() also
        # eats tabs and newlines, which shifts the windows of padded text
        toks = ws_re.split(t.strip(" ").lower())
        if len(toks) < n:
            continue
        all_words.extend(toks)
        doc_idx.extend([i] * len(toks))
    if not all_words:
        return None
    # Hash each distinct word once, vectorized over a flat codepoint buffer:
    # one masked numpy op per char position. utf-32-le decodes to exactly
    # the ord() codepoints; h < P and cp < 2^21 keep h*31+cp < 2^63.
    inv, uniq = pd.factorize(np.asarray(all_words, dtype=object), sort=False)
    uniq = np.asarray(uniq, dtype=object)
    lens = np.fromiter((len(w) for w in uniq), dtype=np.int64, count=len(uniq))
    cps = np.frombuffer("".join(uniq).encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    starts = np.concatenate(([np.int64(0)], np.cumsum(lens)[:-1]))
    uh = np.zeros(len(uniq), dtype=np.int64)
    for j in range(int(lens.max())):
        act = lens > j
        uh[act] = (uh[act] * 31 + cps[starts[act] + j]) % P
    return pdf["__id"].to_numpy(), np.asarray(doc_idx, dtype=np.int64), uh[inv]


def _ngrams(pdf, n: int):
    """``(ids, dd, g)``: every positional word ``n``-gram hash of one batch
    (``g``) with its row index (``dd``), in token order, or None. A gram
    never crosses documents, and a row with fewer than ``n`` tokens has
    none; at ``n = 1`` the grams are the token hashes."""
    flat = _flat_word_hashes(pdf, n)
    if flat is None:
        return None
    ids, d, wh = flat
    m = len(wh) - (n - 1)  # not wh[:-(n-1)], which is empty at n = 1
    g = wh[:m].copy()
    for off in range(1, n):
        g = (g * WB + wh[off: off + m]) % P
    valid = d[:m] == d[n - 1:]
    return ids, d[:m][valid], g[valid]


def _segments(dd):
    """(starts, ends) of each row's contiguous run in ``dd``."""
    starts = np.flatnonzero(np.r_[True, dd[1:] != dd[:-1]])
    return starts, np.r_[starts[1:], len(dd)]


def _shingle_flat(pdf, n: int):
    """``(ids, dd, ss, starts, ends)``: the distinct word ``n``-gram hashes
    of each row of one batch, sorted, as flat arrays with one
    ``[starts, ends)`` run per row that has any; or None."""
    grams = _ngrams(pdf, n)
    if grams is None:
        return None
    ids, dd, ss = grams
    order = np.lexsort((ss, dd))
    dd, ss = dd[order], ss[order]
    keep = np.r_[True, (dd[1:] != dd[:-1]) | (ss[1:] != ss[:-1])]
    dd, ss = dd[keep], ss[keep]
    return (ids, dd, ss, *_segments(dd))


def _positional_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id, __pos, __g) — every positional word ``n``-gram hash with its
    0-based start position: the ``posexplode(combine_word_hashes(
    word_hashes(t), n, distinct=False))`` contract. Docs with fewer than
    ``n`` tokens yield nothing."""

    def body(pdf):
        grams = _ngrams(pdf, n)
        if grams is None:
            return None
        ids, dd, g = grams
        starts, ends = _segments(dd)
        pos = np.arange(len(dd), dtype=np.int64) - np.repeat(starts, ends - starts)
        return {"__id": ids[dd], "__pos": pos, "__g": g}

    return _map_text(df, id_col, text_col, body, "__id {id}, __pos long, __g long")


def _adjacent_hash_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(wa, wb) — one row per adjacent token-hash pair occurrence (the PMI
    collocation stream); pairs never cross documents."""

    def body(pdf):
        flat = _flat_word_hashes(pdf, 2)
        if flat is None:
            return None
        _ids, d, wh = flat
        valid = d[:-1] == d[1:]
        return {"wa": wh[:-1][valid], "wb": wh[1:][valid]}

    return _map_text(df, id_col, text_col, body, "wa long, wb long")
