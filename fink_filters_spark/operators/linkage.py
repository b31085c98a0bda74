"""Entity resolution / record linkage: multi-pass blocking, banded edit-
distance scoring, transitive entity clustering, survivorship.

The record-matching counterpart of the text near-dup family
(operators/dedup.py): dedup asks "are these two DOCUMENTS the same
content", linkage asks "are these two RECORDS the same real-world entity"
— dirty copies with typos, field drift, and partial agreement. The
classic pipeline (Fellegi & Sunter 1969; Christen, *Data Matching* 2012)
is blocking -> pairwise comparison -> classification -> clustering ->
survivorship, and every stage maps onto a scale-correct Spark shape:

- **multi-pass blocking** (``multi_pass_candidates``): each pass is a
  self equi-join on a cheap derived key (phonetic code, attribute pair,
  name suffix) — a hash join shuffled on the block key, NEVER a cross
  join. Multiple passes catch pairs a single dirty key would miss; the
  union is deduplicated so each candidate is scored exactly once. At
  100 TB the candidate set, not the corpus, is the working set — block
  sizes bound the pair explosion and AQE splits skewed blocks (a
  too-frequent key is the classic ER hot spot).
- **banded scoring** (``levenshtein_matches``): ``levenshtein(a, b,
  threshold)`` — Spark's bounded-band DP (O(threshold * len), not
  O(len^2)) evaluated JVM-side inside codegen; candidates above the
  threshold report -1 and drop without computing the full matrix.
- **clustering**: match pairs feed ``dedup.connected_components`` (the
  same adaptive union-find / large-star-small-star loop used by the near-dup
  graph) — matching is not transitive but entities are, so the component
  closure IS the entity.
- **survivorship** (``golden_records``): one aggregate per entity with a
  deterministic keep rule (longest value, ties broken lexicographically,
  encoded as an order-preserving padded sort key so the rule is a plain
  ``max``) — the "golden record" a downstream consumer reads.

No reference parity claim: fink-filters has no record-linkage surface
(its crossmatch family, operators/crossmatch.py, is the spatial analogue
— nearest-neighbour within a radius); this family serves the engine's
large-scale data-curation mandate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# Block-purging default (Christen, *Data Matching* 2012 §4.7: drop blocks
# whose size makes them uninformative — a key value shared by hundreds of
# records discriminates nothing and contributes O(size^2) candidate pairs).
# 100 caps any single block at 4,950 pairs, bounding total candidates to
# ~50 * n_blocked_rows regardless of corpus size, while sitting far above
# the block sizes selective keys produce (the customer-fixture max is 22 at
# sf0.1; a block only reaches 100 when its key has effectively collapsed).
DEFAULT_MAX_BLOCK_SIZE = 100


def multi_pass_candidates(
    records: DataFrame,
    id_col: str,
    passes: dict[str, list[str]],
    max_block_size: int | None = DEFAULT_MAX_BLOCK_SIZE,
) -> DataFrame:
    """(id_a, id_b, n_passes) — unordered candidate pairs (id_a < id_b)
    from the union of one blocking pass per entry of ``passes``
    (pass name -> list of key column names). A pair is a candidate when
    ALL key columns of at least one pass agree; ``n_passes`` counts how
    many independent passes proposed it (a cheap confidence prior).

    Records with a NULL in any key column of a pass sit out that pass
    (standard ER practice — a missing key blocks with nothing), falling
    through to the other passes.

    ``max_block_size`` is the block-purging guard: within each pass, any
    block larger than the cap is dropped from THAT pass before the
    self-join (its records still block normally in every other pass).
    Oversized blocks are the quadratic failure mode of blocking — block
    sizes grow with the corpus, so without a cap a key that is selective
    at 1 GB goes O(n^2) at 100 TB (measured: the customer fixture's
    (seg, suf3) pass grows 80.7k -> 931M candidates for 100x data; see
    STRESS100.md). A purged block is also an UNINFORMATIVE block — a key
    value shared by > cap records separates nothing — so the standard
    remedies are equivalent here: dropping it (this guard) or extending
    the key until it splits (choose more selective ``passes`` keys, which
    this function takes as data). Pass ``None`` to disable. Use
    ``oversized_blocks`` to inspect what a cap would purge.

    Scale: each pass shuffles on its block key; the purge is one narrow
    per-key aggregate whose OVERSIZED output (tiny by construction — only
    keys shared by > cap records qualify) broadcast-anti-joins back onto
    the pass, so no sort of the keyed table ever happens (round 9: this
    replaced a window count that re-sorted the full table per join side).
    The final dedup is one aggregation on the pair. With the cap in place
    nothing is quadratic in the corpus — per-block work is bounded at
    cap^2/2 pairs by construction (uncapped round-6 measurement: 931M
    candidates / 149x wall at 100x; capped: see STRESS100.md).
    """
    if not passes:
        raise ValueError(
            "multi_pass_candidates: `passes` must contain at least one "
            "blocking pass (got an empty dict)"
        )
    if len(passes) > 62:
        raise ValueError(
            "multi_pass_candidates: more than 62 blocking passes — the "
            "n_passes bitmask accumulator is int64"
        )
    per_pass = []
    for pass_idx, (pass_name, key_cols) in enumerate(passes.items()):
        keyed = records.select(
            F.col(id_col).alias("__id"), *[F.col(c) for c in key_cols]
        ).dropna(subset=key_cols)
        if max_block_size is not None:
            # purge via aggregate + broadcast ANTI-join on the OVERSIZED key
            # list, not a window: the window form re-sorts the full keyed
            # table per join side, while the oversized list is tiny by
            # construction (only keys shared by > cap records qualify —
            # 7.5k rows at the 100x ER stress vs 2.5M records), so the
            # anti-join is a broadcast probe and the purge costs one
            # narrow aggregate
            oversized = (
                keyed.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("__bs"))
                .filter(F.col("__bs") > max_block_size)
                .select(*key_cols)
            )
            keyed = keyed.join(F.broadcast(oversized), list(key_cols), "left_anti")
        a, b = keyed.alias("a"), keyed.alias("b")
        same_keys = reduce(
            lambda x, y: x & y,
            [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols],
        )
        per_pass.append(
            a.join(b, same_keys & (F.col("a.__id") < F.col("b.__id"))).select(
                F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"),
                # one BIT per pass: the dedup aggregate below is then a
                # plain bit_or + popcount instead of count_distinct over a
                # pass-name string — count_distinct rewrites into a
                # two-phase expand aggregate (an extra full shuffle of the
                # candidate stream, 37M rows at the 100x ER stress) while
                # bit_or is a single 8-byte partial-aggregating pass
                F.lit(1 << pass_idx).alias("__pbit"),
            )
        )
    candidates = reduce(DataFrame.unionByName, per_pass)
    return candidates.groupBy("id_a", "id_b").agg(
        F.bit_count(F.bit_or("__pbit")).cast("long").alias("n_passes")
    )


def choose_adaptive_passes(
    records: DataFrame,
    pass_ladders: dict[str, list[list[str]]],
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE,
    max_purged_frac: float = 0.5,
) -> tuple[dict[str, list[str]], list[tuple[str, int, float]]]:
    """Pick, per blocking pass, the first key set on its escalation ladder
    whose block-size cap would sit out at most ``max_purged_frac`` of the
    pass's rows — the cardinality-adaptive answer to a blocking key going
    degenerate with corpus growth (round-9 verdict: at 100x the fixed
    default keys left the cap purging 70% / 98.5% of rows per pass, an
    O(n) bound bought by silently discarding most of a pass's signal).

    ``pass_ladders`` maps pass name -> list of key-column lists, ordered
    least to most selective (e.g. ``[["seg", "suf3"], ["seg", "suf5"]]``).
    Later rungs should SUBDIVIDE earlier ones (extend the key), so
    escalating trades a bounded per-pair recall cost (pairs disagreeing
    on the longer key) for not discarding whole blocks — Christen 2012
    §4.7's "extend the key until it splits" remedy, chosen by measurement.

    Returns ``(passes, audit)``: the chosen ``passes`` dict (feed to
    ``multi_pass_candidates``) and ``(pass_name, ladder_index,
    purged_frac)`` per pass for observability.

    Scale: the probe is ONE narrow groupBy-count per probed rung —
    map-side combined, key-domain-sized shuffle, 2-row collect. Rung 0 is
    probed for every pass in a single unioned job; later rungs only run
    for passes that failed the threshold, so a healthy corpus (every
    declared oracle scale) pays exactly one tiny probe job. Driver state
    is one (rows, purged) pair per pass.
    """
    if not pass_ladders:
        raise ValueError("choose_adaptive_passes: empty pass_ladders")
    for name, ladder in pass_ladders.items():
        if not ladder:
            raise ValueError(f"choose_adaptive_passes: empty ladder for {name!r}")

    def _probe(levels: dict[str, list[str]]) -> dict[str, float]:
        """purged-row fraction per pass for the given key sets, one job."""
        per = []
        for name, key_cols in levels.items():
            sizes = (
                records.dropna(subset=key_cols)
                .groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("__bs"))
            )
            per.append(
                sizes.agg(
                    F.lit(name).alias("__pass"),
                    F.sum("__bs").alias("__rows"),
                    F.sum(
                        F.when(F.col("__bs") > max_block_size, F.col("__bs"))
                        .otherwise(F.lit(0))
                    ).alias("__purged"),
                )
            )
        rows = reduce(DataFrame.unionByName, per).collect()
        return {
            r["__pass"]: (r["__purged"] or 0) / r["__rows"] if r["__rows"] else 0.0
            for r in rows
        }

    chosen: dict[str, list[str]] = {}
    audit: list[tuple[str, int, float]] = []
    pending = {name: 0 for name in pass_ladders}
    while pending:
        fracs = _probe(
            {name: pass_ladders[name][idx] for name, idx in pending.items()}
        )
        nxt: dict[str, int] = {}
        for name, idx in pending.items():
            frac = fracs[name]
            if frac <= max_purged_frac or idx == len(pass_ladders[name]) - 1:
                chosen[name] = pass_ladders[name][idx]
                audit.append((name, idx, frac))
            else:
                nxt[name] = idx + 1
        pending = nxt
    return chosen, audit


def oversized_blocks(
    records: DataFrame,
    passes: dict[str, list[str]],
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE,
) -> DataFrame:
    """(pass_name, block_key, block_size) — the blocks a
    ``multi_pass_candidates(..., max_block_size=...)`` call purges, for
    observability: a deployment monitors this (count / total purged rows)
    to detect a blocking key going degenerate before recall silently
    drops. One aggregation per pass, unioned; block_key is the
    stringified key tuple so heterogeneous passes union cleanly."""
    if not passes:
        raise ValueError(
            "oversized_blocks: `passes` must contain at least one blocking "
            "pass (got an empty dict)"
        )
    per_pass = []
    for pass_name, key_cols in passes.items():
        per_pass.append(
            records.dropna(subset=key_cols)
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("block_size"))
            .filter(F.col("block_size") > max_block_size)
            .select(
                F.lit(pass_name).alias("pass_name"),
                F.concat_ws(
                    "|", *[F.col(c).cast("string") for c in key_cols]
                ).alias("block_key"),
                "block_size",
            )
        )
    return reduce(DataFrame.unionByName, per_pass)


def levenshtein_matches(
    records: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
) -> DataFrame:
    """Candidate pairs scored by edit distance on ``text_col``, kept when
    ``distance <= max_dist``: (id_a, id_b, <carried candidate cols>,
    name_dist).

    The distance runs through ``levenshtein(l, r, threshold)`` — the
    banded early-exit form: cost O(max_dist * len) per pair instead of
    O(len^2), evaluated in the JVM inside whole-stage codegen (no Python
    in the hot path). Two broadcast-or-hash joins pull the strings onto
    the candidate stream; at scale the candidate set is far smaller than
    the record table, so the joins shuffle the candidates, not the
    corpus.
    """
    txt = records.select(F.col(id_col).alias("__rid"), F.col(text_col).alias("__t"))
    scored = (
        candidates.join(txt, candidates.id_a == txt.__rid)
        .withColumnRenamed("__t", "__ta")
        .drop("__rid")
        .join(txt, candidates.id_b == txt.__rid)
        .withColumnRenamed("__t", "__tb")
        .drop("__rid")
        .withColumn(
            "name_dist", F.levenshtein("__ta", "__tb", max_dist)
        )
    )
    return scored.filter(
        (F.col("name_dist") >= 0) & (F.col("name_dist") <= max_dist)
    ).drop("__ta", "__tb")


def length_lex_max_key(col: str | F.Column, pad: int = 4) -> F.Column:
    """Order-preserving sort key for the "longest value wins, ties break
    to the lexicographically LARGEST" survivorship rule: zero-padded
    length prefix + the value, so a plain ``max`` aggregate implements
    the rule identically in Spark and any SQL oracle (all-ASCII values;
    ``pad`` digits cap the representable length at 10^pad - 1)."""
    c = F.col(col) if isinstance(col, str) else col
    # lpad TRUNCATES a longer prefix, which would silently corrupt the
    # ordering for values >= 10^pad chars — fail THAT row loudly instead
    # (mirrors the _pq_subvectors per-row raise_error guard). The raise
    # branch guards only the >= 10^pad case: a NULL value must stay a
    # NULL key (max() skips it, matching SQL), not a job abort.
    guarded_len = F.when(
        F.length(c) >= 10 ** pad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"length_lex_max_key: value length >= 10^{pad} breaks "
                    "the zero-padded ordering prefix; raise `pad` (len="
                ),
                F.length(c).cast("string"),
                F.lit(")"),
            )
        ).cast("int"),
    ).otherwise(F.length(c))
    return F.concat(F.lpad(guarded_len.cast("string"), pad, "0"), c)


def resolve_entities(
    matches: DataFrame,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, entity_id) — transitive closure of the match-pair graph;
    entity_id = min record id in the connected set. Thin wrapper over
    ``dedup.connected_components`` (same adaptive driver union-find /
    distributed large-star / small-star rounds, same exactness guarantees) so the
    linkage pipeline reads end-to-end in one module."""
    from .dedup import connected_components

    return connected_components(
        matches, driver_threshold=driver_threshold
    ).withColumnRenamed("component", "entity_id")


def golden_records(
    records: DataFrame,
    matches: DataFrame,
    id_col: str,
    name_col: str,
    sum_cols: list[str] | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Survivorship: every record labeled with its entity (unmatched
    records are their own singleton entity), one golden row per entity:
    (entity_id, n_members, survivor_<name_col>, sum_<c>...).

    Survivor rule: longest ``name_col`` value, ties to the
    lexicographically largest (see ``length_lex_max_key``) — "keep the
    most complete variant", the same policy as the near-dup
    ``dedup_survivors_quality`` query. One aggregate per entity; the
    label join shuffles on the record id.
    """
    comp = resolve_entities(matches, driver_threshold=driver_threshold)
    labeled = (
        records.join(comp, records[id_col] == comp.node, "left")
        .withColumn("entity_id", F.coalesce("entity_id", F.col(id_col)))
        .drop("node")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_members"),
        F.substring(F.max(length_lex_max_key(name_col)), 5, 10_000).alias(
            f"survivor_{name_col}"
        ),
    ]
    for c in sum_cols or []:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
    return labeled.groupBy("entity_id").agg(*aggs)
