"""Additional engine-surface queries: rollup/grouping sets (§2.E note), set
operations (§2.H), per-row event-time window slice (F7), grouped
mapInPandas fit (§2.L/F10), BPE-ish token counting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tables import load_events, load_table
from . import QuerySpec, e6
from .timeseries import EVQ_SQL, US_PER_HOUR, _evq

_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "golden",
)


def _golden_oracle(name: str) -> str | None:
    """Pinned-golden oracle for queries with no SQL dual (iterative fits,
    BPE training): DuckDB reads the committed golden parquet
    (tools/gen_goldens.py — engine outputs, double-run-deterministic) and
    selects the current scale factor's rows by the events row count. Falls
    back to rows-only (None) on a checkout without generated goldens."""
    path = os.path.join(_GOLDEN_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        return None
    return (
        f"SELECT * EXCLUDE (sf_tag) FROM read_parquet('{path}') "
        "WHERE sf_tag = (SELECT count(*) FROM events)"
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — hierarchical subtotals; the
    grouping-id marks total rows (generic-engine agg surface, SURVEY §2.E:
    'no grouping sets anywhere in the reference; Spark provides them
    natively')."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("qty", F.col("l_quantity").cast("long"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.H set operations: (error users ∩ purchase users) ∪ high-k users
    minus signup users — exercised as native INTERSECT/UNION/EXCEPT."""
    ev = load_events(spark, sf_dir).withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    buy = ev.filter(F.col("event_type") == "purchase").select("user_id")
    high = ev.filter(F.col("k") >= 95).select("user_id")
    signup_heavy = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 10)
        .select("user_id")
    )
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would only
    # remove per-occurrence and leave duplicates of excluded users
    return err.intersect(buy).union(high).distinct().subtract(signup_heavy)


SETOPS_SQL = """
WITH e AS (SELECT user_id, event_type,
                  CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
SELECT DISTINCT user_id FROM (
  (SELECT user_id FROM e WHERE event_type = 'error'
   INTERSECT
   SELECT user_id FROM e WHERE event_type = 'purchase')
  UNION ALL
  SELECT user_id FROM e WHERE k >= 95
)
EXCEPT
SELECT user_id FROM (
  SELECT user_id FROM e WHERE event_type = 'signup'
  GROUP BY user_id HAVING count(*) >= 10
)
"""


def q_ts_window_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 per-row event-time window slice (reference TDE fit/history windows,
    ``ztf/filter_early_tde_candidates/filter.py:107-135``): pack history into
    arrays, then count detections and sum values inside the trailing window
    vs the window before it — pure higher-order ``filter``/``size``."""
    ev = _evq(spark, sf_dir)
    hist = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "v"))).alias("h")
    )
    ts = F.transform("h", lambda s: s.t)
    t_end = F.element_at(ts, -1)
    window_us = 100 * US_PER_HOUR  # 100-hour trailing window
    fit_lo = t_end - window_us
    hist_lo = t_end - 2 * window_us

    def _count_between(lo, hi):
        return F.size(F.filter("h", lambda s: (s.t > lo) & (s.t <= hi)))

    def _sum_between(lo, hi):
        return F.aggregate(
            F.filter("h", lambda s: (s.t > lo) & (s.t <= hi)),
            F.lit(0).cast("long"),
            lambda acc, s: acc + s.v,
        )

    return hist.select(
        "user_id",
        _count_between(fit_lo, t_end).cast("long").alias("n_fit"),
        _sum_between(fit_lo, t_end).alias("sum_fit"),
        _count_between(hist_lo, fit_lo).cast("long").alias("n_prev"),
        _sum_between(hist_lo, fit_lo).alias("sum_prev"),
    )


TS_WINDOW_SQL = f"""
WITH e AS ({EVQ_SQL}),
m AS (SELECT user_id, max(t) AS t_end FROM e GROUP BY user_id)
SELECT e.user_id,
       CAST(count(*) FILTER (WHERE t > t_end - {100 * US_PER_HOUR} AND t <= t_end) AS BIGINT) AS n_fit,
       CAST(coalesce(sum(v) FILTER (WHERE t > t_end - {100 * US_PER_HOUR} AND t <= t_end), 0) AS BIGINT) AS sum_fit,
       CAST(count(*) FILTER (WHERE t > t_end - {200 * US_PER_HOUR} AND t <= t_end - {100 * US_PER_HOUR}) AS BIGINT) AS n_prev,
       CAST(coalesce(sum(v) FILTER (WHERE t > t_end - {200 * US_PER_HOUR} AND t <= t_end - {100 * US_PER_HOUR}), 0) AS BIGINT) AS sum_prev
FROM e JOIN m USING (user_id)
GROUP BY e.user_id
"""


def q_ts_fit_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.L/F10: the same closed-form fit as ts_linfit but through the
    grouped mapInPandas kernel (operators/fit.py) — the distributed
    replacement for the reference's driver-side fit loops. Exact int64 sums
    keep it bit-identical to the native path and the oracle."""
    from ..operators.fit import linfit_per_key

    ev = _evq(spark, sf_dir)
    t0 = ev.groupBy("user_id").agg(F.min("t").alias("t0"))
    x = ev.join(t0, "user_id").withColumn(
        "xh", F.expr(f"(t - t0) div {US_PER_HOUR}")
    )
    # hash-stability: e6 integer micro-units on the hash surface; the
    # operator keeps its double contract (queries/__init__.e6)
    return linfit_per_key(x, key="user_id", x_col="xh", y_col="v").select(
        "user_id", "n", e6("slope", "slope_e6"), e6("r2", "r2_e6")
    )


# same oracle as ts_linfit (identical semantics, different execution path)
from .timeseries import TS_LINFIT_SQL  # noqa: E402


def q_ts_sigmoid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F10: REAL parametric light-curve fit — per-key rising-sigmoid
    (Rainbow bolometric shape, reference ztf/filter_early_tde_candidates/
    lcs.py:272-326) via weighted Levenberg-Marquardt inside a grouped Arrow
    kernel. Iterative nonlinear optimization is not SQL-expressible, so
    this entry carries no oracle (rows-only check); the numerical contract
    is pinned by property tests against synthetic sigmoid curves
    (tests/test_operators.py)."""
    from ..operators.fit import sigmoid_fit_per_key

    ev = _evq(spark, sf_dir)
    # per-key epoch rebase happens inside the grouped kernel (rebase_div),
    # riding the fit's own shuffle — no separate min-agg + join
    return sigmoid_fit_per_key(
        ev, key="user_id", t_col="t", y_col="v", rebase_div=US_PER_HOUR
    )


# DEMO classifier (clearly synthetic): two hand-built trees over
# (amplitude, rise_time) in the UBJ model-dict layout the reference's
# packaged .ubj files decode to — stands in for the trained TDE model
# (``ztf/filter_early_tde_candidates/filter.py:79-85``), which is not
# redistributable from memory. Swapping in a real .ubj is
# ``load_model(path)`` with no query change.
_DEMO_TDE_MODEL = {
    "learner": {
        "gradient_booster": {
            "model": {
                "trees": [
                    {   # bright-and-slow rises score positive
                        "split_indices": [0, 0, 1, 0, 0],
                        "split_conditions": [40000.0, -0.7, 300.0, -0.2, 0.8],
                        "left_children": [1, -1, 3, -1, -1],
                        "right_children": [2, -1, 4, -1, -1],
                        "default_left": [True, False, True, False, False],
                    },
                    {
                        "split_indices": [1, 0, 0],
                        "split_conditions": [50.0, -0.3, 0.2],
                        "left_children": [1, -1, -1],
                        "right_children": [2, -1, -1],
                        "default_left": [False, False, False],
                    },
                ]
            }
        },
        "learner_model_param": {"base_score": "0.5"},
        "objective": {"name": "binary:logistic"},
    }
}


def q_ts_tde_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F10 flagship composition: per-key Rainbow sigmoid fit -> reference
    quality cuts (r_chisq, snr_rise_time) -> seeded Monte-Carlo covariance
    draws -> broadcast XGBoost-format classifier scoring of best fit +
    samples, with fraction-positive acceptance — the reference's whole
    early-TDE candidate loop (``filter.py:158-218``) as one distributed
    kernel. Iterative fit + MC are not SQL-expressible: rows-only check;
    the numeric contract is pinned by tests (parity, determinism, UBJ
    parser round-trip)."""
    from ..operators.fit import rainbow_mc_score_per_key
    from ..operators.xgb_ubj import XGBEnsemble

    model = XGBEnsemble.from_model_dict(_DEMO_TDE_MODEL)
    ev = _evq(spark, sf_dir)
    # the synthetic corpus is not sigmoid-shaped, so the reference's
    # defaults (r_chisq<=10, snr>=1.5 — kept as operator defaults) would
    # cut every key before scoring; loosen them HERE so the MC + classifier
    # stages execute on every group in the declared run
    return rainbow_mc_score_per_key(
        ev, model, key="user_id", t_col="t", y_col="v", rebase_div=US_PER_HOUR,
        max_r_chisq=float("inf"), min_snr_rise_time=0.0,
    )


# synthetic band -> wavelength map: the 5 event types stand in for the
# survey filters (values are real ZTF/atlas-ish central wavelengths in AA)
_DEMO_BAND_WAVES = {
    "click": 4770.0,
    "view": 6231.0,
    "purchase": 7625.0,
    "signup": 8690.0,
    "error": 9620.0,
}


def q_ts_tde_score_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F10 with the reference's REAL packaged classifier: the multiband
    Rainbow fit feeds the exact feature contract stored inside
    ``model_broad.ubj`` — (e_reference_time, rise_time, temperature), the
    ``clf.feature_names_in_`` selection at ``filter.py:203-205`` — and the
    model itself is the reference's shipped artifact, parsed and scored by
    the numpy UBJSON reader. Falls back to the demo model when the
    reference snapshot is not mounted (feature shape unchanged, so the
    query runs everywhere). Iterative fit + MC: rows-only check; the
    model's numeric parity is pinned by golden tests on a fixed feature
    matrix (tests/test_reference_fixtures.py)."""
    from ..operators.fit import rainbow_mc_score_per_key
    from ..operators.ml import REFERENCE_TDE_FEATURES, load_reference_tde_model
    from ..operators.xgb_ubj import XGBEnsemble

    model = load_reference_tde_model("broad")
    if model is None:  # standalone deployment: demo fallback
        model = XGBEnsemble.from_model_dict(_DEMO_TDE_MODEL)
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.col("ts_us").alias("t"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
        F.col("event_type").alias("band"),
    )
    return rainbow_mc_score_per_key(
        ev, model, key="user_id", t_col="t", y_col="v", rebase_div=US_PER_HOUR,
        band_col="band", band_wave_aa=_DEMO_BAND_WAVES,
        feature_names=REFERENCE_TDE_FEATURES["broad"],
        max_r_chisq=float("inf"), min_snr_rise_time=0.0,
    )


def q_ts_rainbow_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F10: the reference's JOINT multiband Rainbow fit — one shared
    rising-sigmoid bolometric shape, per-band constant-temperature
    blackbody scaling (``lcs.py:272-326``) — distributed per key via the
    grouped Arrow kernel, with event_type standing in for the survey band.
    Iterative 4-parameter optimization: rows-only check; parameter
    recovery on synthetic multiband curves is pinned in tests."""
    from ..operators.fit import rainbow_multiband_fit_per_key

    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.col("ts_us").alias("t"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
        F.col("event_type").alias("band"),
    )
    return rainbow_multiband_fit_per_key(
        ev, _DEMO_BAND_WAVES, key="user_id", t_col="t", y_col="v",
        band_col="band", rebase_div=US_PER_HOUR,
    )


def q_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (letters runs / digit runs / punctuation) —
    the coarse GPT-2-style pre-tokenizer classes."""
    from ..functions.text import bpe_ish_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_ish_count("text").cast("long").alias("n_bpe_tokens"),
    )


TEXT_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the native ``session_window`` operator
    (30-minute inactivity gap) — the batch form of the streaming session
    aggregation (§2.J extension; runs identically under readStream with a
    watermark). Output: sessions per user and events in the largest session.
    """
    ev = load_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )
    sessions = (
        ev.groupBy("user_id", F.session_window("ts_t", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )


SESSION_GAP_US = 1_800_000_000  # 30 minutes, the session_window gap


def sessionize_islands_cte(where: str = "") -> str:
    """Shared gaps-and-islands oracle CTEs (e/g/s): per-user session ids
    over the events table. A new session starts when the gap from the
    previous event EXCEEDS the 30-minute inactivity gap — Spark's
    session_window extends a window to last_event + gap and an event
    landing exactly ON that bound still merges (empirically pinned by
    test_session_window_exact_gap_boundary), so the split condition is
    strictly ``>``, never ``>=``."""
    return f"""e AS (SELECT user_id, epoch_us(ts) AS t FROM events {where}),
g AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   > {SESSION_GAP_US} OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
s AS (
  SELECT user_id, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)"""


SESSIONIZE_SQL = f"""
WITH {sessionize_islands_cte()},
per AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM s GROUP BY user_id, session_id
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM per GROUP BY user_id
"""


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach to every click the value of the user's most recent
    prior-or-simultaneous purchase (classic attribution). Exercises the
    union+window as-of operator (``operators/asof.py``) — one shuffle on
    (user, time), no pair explosion; the DuckDB oracle uses its native
    ASOF LEFT JOIN, pinning the exact backward-inclusive semantics."""
    from ..operators.asof import asof_join
    from ..tables import milli

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max(milli("value")).alias("last_purchase_milli"))
    )
    return asof_join(
        clicks, purchases, on="user_id", left_time="ts_us", right_time="ts_us",
        payload=["last_purchase_milli"],
    )


ASOF_SQL = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(max(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS last_purchase_milli
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts_us, p.last_purchase_milli
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""


def q_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks landing inside the 1-hour window after each
    purchase by the same user, aggregated per purchase. Exercises the
    cell-bucketed range-join operator (``operators/interval_join.py``) —
    a hash join on (user, hour-cell) + exact BETWEEN residual, never a
    nested loop; the oracle states the naive range join directly."""
    from ..operators.interval_join import interval_join
    from ..tables import milli

    hour_us = 3_600_000_000
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", milli("value").alias("v_milli")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + hour_us).alias("end_us"),
        )
    )
    return (
        interval_join(clicks, purchases, on="user_id", point_time="ts_us",
                      start="start_us", end="end_us", cell_width=hour_us)
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("v_milli").alias("sum_click_milli"),
        )
    )


INTERVAL_SQL = """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS ts_us, CAST(round(value*1000) AS BIGINT) AS v_milli
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + 3600000000 AS end_us
  FROM events WHERE event_type = 'purchase'
)
SELECT purchase_id, p.user_id AS user_id, count(*) AS n_clicks,
       CAST(sum(v_milli) AS BIGINT) AS sum_click_milli
FROM p JOIN c ON p.user_id = c.user_id AND c.ts_us BETWEEN p.start_us AND p.end_us
GROUP BY 1, 2
"""


def q_ts_rising_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F4 robust rising test as a declared oracle query: per user, the
    reference's brightening gate (``prefilter.py:69-149`` — last magnitude
    brighter than the faintest by >3 sigma of the combined errors AND
    weighted-LSQ slope negative at 3 sigma) over synthetic per-user light
    curves. Exact-parity discipline: y is an integer-valued double,
    distinct within a user via y = v * 2^20 + row_number — the multiplier
    must EXCEED the max per-user event count or two (v, rn) pairs can
    collide and the faintest-point argmax becomes engine-dependent (the
    original 128 collided once a user had 128+ events); 2^20 keeps
    v*2^20 + rn exact in a double (v_milli <= ~1e7 -> y <= ~1e13 < 2^53)
    and bounds per-user histories at 1M events. Sigma ∈ {0.5, 1, 2} makes every
    weight a power of two — all Σ-statistics are exact binary fixed-point
    sums, order-independent across engines."""
    from pyspark.sql import Window

    from ..functions.arrays import is_rising, weighted_linfit

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts_us").alias("t"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    b = ev.select(
        "user_id", "t", "event_id",
        F.expr(f"(t - min(t) OVER (PARTITION BY user_id)) div {US_PER_HOUR}")
        .cast("double").alias("x"),
        (F.col("v") * 1048576 + F.row_number().over(wo)).cast("double").alias("y"),
        F.when(F.col("event_id") % 3 == 0, 0.5)
        .when(F.col("event_id") % 3 == 1, 1.0)
        .otherwise(2.0).alias("s"),
    )
    arr = F.array_sort(F.collect_list(F.struct("t", "event_id", "x", "y", "s")))
    g = b.groupBy("user_id").agg(arr.alias("__a"))
    xs = F.transform("__a", lambda e: e["x"])
    ys = F.transform("__a", lambda e: e["y"])
    ss = F.transform("__a", lambda e: e["s"])
    fit = weighted_linfit(xs, ys, ss)
    return g.select(
        "user_id",
        F.size("__a").cast("long").alias("n"),
        # hash-stability: e6 integer micro-units (queries/__init__.e6)
        e6(fit["slope"], "slope_e6"),
        e6(fit["slope_err"], "slope_err_e6"),
        is_rising(ys, ss, xs, 3.0).alias("rising"),
    )


RISING_SQL = f"""
WITH ev AS ({EVQ_SQL}),
b AS (
  SELECT user_id, event_id, t,
    CAST((t - min(t) OVER (PARTITION BY user_id)) // {US_PER_HOUR} AS DOUBLE) AS x,
    CAST(v * 1048576 + row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
         AS DOUBLE) AS y,
    CASE event_id % 3 WHEN 0 THEN 0.5 WHEN 1 THEN 1.0 ELSE 2.0 END AS s,
    CASE event_id % 3 WHEN 0 THEN 4.0 WHEN 1 THEN 1.0 ELSE 0.25 END AS w
  FROM ev
),
lastrow AS (
  SELECT user_id, y AS last_y, s AS last_s FROM (
    SELECT user_id, y, s,
           row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC)
           AS rdesc
    FROM b
  ) WHERE rdesc = 1
),
agg AS (
  SELECT user_id, count(*) AS cnt, max(y) AS max_y, arg_max(s, y) AS faint_s,
         sum(w) AS sw, sum(w*x) AS swx, sum(w*y) AS swy,
         sum(w*x*x) AS swxx, sum(w*x*y) AS swxy
  FROM b GROUP BY user_id
)
SELECT a.user_id, CAST(a.cnt AS BIGINT) AS n,
  CASE WHEN (sw*swxx - swx*swx) <> 0
       THEN CAST(round((sw*swxy - swx*swy) / (sw*swxx - swx*swx) * 1e6) AS BIGINT) END AS slope_e6,
  CASE WHEN (sw*swxx - swx*swx) <> 0
       THEN CAST(round(sqrt(sw / (sw*swxx - swx*swx)) * 1e6) AS BIGINT) END AS slope_err_e6,
  (a.cnt >= 2
   AND (max_y - last_y) > 3.0 * sqrt(last_s*last_s + faint_s*faint_s)
   AND (sw*swxx - swx*swx) <> 0
   AND (sw*swxy - swx*swy) / (sw*swxx - swx*swx)
       < -3.0 * sqrt(sw / (sw*swxx - swx*swx))) AS rising
FROM agg a JOIN lastrow l USING (user_id)
"""


def q_astro_photometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.I photometry scalars as native math — the reference computes
    these in numpy inside pandas UDFs (``prefilter.py:153-166`` mag->flux,
    ``rubin/utils.py:193-212`` flux->mag, fink-utils ``dc_mag`` at
    ``filter_kn_candidates/filter.py:242-251``). Synthetic magnitudes
    derive deterministically from the events table; every emitted value is
    O(1)-scale (magnitudes or log-flux, never raw flux) so a sub-ulp libm
    difference between engines cannot cross a 6-dp rounding boundary."""
    from ..functions.astro import dc_mag, dc_mag_err, flux2mag, mag2fluxcal

    ev = load_events(spark, sf_dir).select(
        "event_id", F.round(F.col("value") * 1000).cast("long").alias("v")
    )
    base = ev.select(
        "event_id",
        (F.lit(20.0) + (F.col("v") % 5000) / F.lit(1000.0)).alias("magpsf"),
        (F.lit(0.01) + (F.col("event_id") % 100) / F.lit(1000.0)).alias("sigmapsf"),
        F.when(F.col("event_id") % 2 == 0, "t").otherwise("f").alias("isdiffpos"),
        F.col("v").cast("double").alias("flux_njy"),
    ).withColumn("magnr", F.col("magpsf") - 1.0).withColumn(
        "sigmagnr", F.lit(0.05)
    )
    fluxcal = mag2fluxcal(F.col("magpsf"))
    return base.select(
        "event_id",
        # hash-stability: e6 integer micro-units (queries/__init__.e6)
        e6(F.log10(fluxcal), "log_fluxcal_e6"),
        e6(flux2mag("flux_njy"), "ab_mag_e6"),
        e6(
            dc_mag("magpsf", "sigmapsf", "magnr", "sigmagnr", "isdiffpos"),
            "dcmag_e6",
        ),
        e6(
            dc_mag_err("magpsf", "sigmapsf", "magnr", "sigmagnr", "isdiffpos"),
            "dcmag_err_e6",
        ),
    )


PHOTOMETRY_SQL = """
WITH base AS (
  SELECT event_id,
         20.0 + (CAST(round(value*1000) AS BIGINT) % 5000) / 1000.0 AS magpsf,
         0.01 + (event_id % 100) / 1000.0 AS sigmapsf,
         CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS sign,
         CAST(CAST(round(value*1000) AS BIGINT) AS DOUBLE) AS flux_njy
  FROM events
),
f AS (
  SELECT *, magpsf - 1.0 AS magnr, 0.05 AS sigmagnr,
         power(10.0, -0.4*(magpsf - 1.0)) AS fref,
         power(10.0, -0.4*magpsf) AS fdiff
  FROM base
)
SELECT event_id,
  CAST(round(log10(power(10.0, -(magpsf - 25.0)/2.5) * 1000.0) * 1e6) AS BIGINT) AS log_fluxcal_e6,
  CASE WHEN flux_njy > 0
       THEN CAST(round((-2.5*log10(flux_njy) + 31.4) * 1e6) AS BIGINT) END AS ab_mag_e6,
  CASE WHEN fref + sign*fdiff > 0
       THEN CAST(round(-2.5*log10(fref + sign*fdiff) * 1e6) AS BIGINT) END AS dcmag_e6,
  CASE WHEN fref + sign*fdiff > 0
       THEN CAST(round(2.5/ln(10.0)
                  * sqrt(power(fref*sigmagnr, 2.0) + power(fdiff*sigmapsf, 2.0))
                  / (fref + sign*fdiff) * 1e6) AS BIGINT) END AS dcmag_err_e6
FROM f
"""


def q_ev_prev_same_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F9 latest-same-band lookup as a declared oracle query: for each
    user's LATEST event, the most recent PRIOR event of the same type —
    the reference scans prvDiaSources for the max-MJD source matching the
    current band (``rubin/livestream/filter_extragalactic_new_candidate/
    filter.py:55-75``). The history array is ordered by (t, event_id) and
    the in-array time key is the row number, so ties in t are broken
    identically in both engines."""
    from pyspark.sql import Window

    from ..functions.arrays import latest_same_band

    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts_us").alias("t"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
        F.col("event_type").alias("band"),
    ).withColumn("rn", F.row_number().over(wo))
    arr = F.array_sort(F.collect_list(F.struct("rn", "t", "v", "band")))
    g = ev.groupBy("user_id").agg(arr.alias("__a"))
    last = F.element_at("__a", -1)
    prevs = F.slice("__a", 1, F.size("__a") - 1)
    match = latest_same_band(prevs, "band", "rn", last["band"])
    return g.select(
        "user_id",
        last["band"].alias("last_band"),
        match["t"].alias("prev_t"),
        match["v"].alias("prev_v"),
    )


PREV_SAME_BAND_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS t,
         CAST(round(value*1000) AS BIGINT) AS v, event_type AS band
  FROM events
),
lastrow AS (
  SELECT user_id, event_id AS last_eid, t AS last_t, band AS last_band FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC)
              AS rdesc
    FROM ev
  ) WHERE rdesc = 1
)
SELECT l.user_id, l.last_band, p.t AS prev_t, p.v AS prev_v
FROM lastrow l LEFT JOIN LATERAL (
  SELECT e.t, e.v FROM ev e
  WHERE e.user_id = l.user_id AND e.band = l.last_band
    AND (e.t < l.last_t OR (e.t = l.last_t AND e.event_id < l.last_eid))
  ORDER BY e.t DESC, e.event_id DESC LIMIT 1
) p ON TRUE
"""


def q_text_bpe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE tokenization end-to-end: learn 64 merges from the
    documents corpus (distributed word counts -> deterministic greedy
    merge loop over the vocabulary-sized dict), then tokenize every
    document with the learned merges broadcast to an Arrow kernel
    (``operators/bpe.py``). Iterative vocabulary training has no SQL
    dual: rows-only check; the trainer itself is pinned by goldens on the
    Sennrich worked example and a determinism test."""
    from ..operators.bpe import bpe_token_stats, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=64, top_words=5000)
    return bpe_token_stats(docs, "doc_id", "text", merges)


def q_ev_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F6 per-band struct-carried statistics: per (user, band) running
    mean pivoted to one column per band, then each event reads ITS band's
    mean through the chained-CASE lookup — the exact shape of the Rubin
    alert schema's {band}_{stat} columns and ``_band_stat``
    (``filters/rubin.py``, reference ``rubin/utils.py:49-112``) — and
    flags ``rising`` as flux above the band mean (``blocks.py:262-339``).
    The oracle computes the same values through a window AVG instead of
    pivot+CASE, so the check also pins cross-shape equivalence. Mean is an
    exact-integer sum over count (one deterministic division)."""
    from . import BAND_TYPES, band_means_pivot

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id",
        F.round(F.col("value") * 1000).cast("long").alias("v"),
        F.col("event_type").alias("band"),
    )
    stats = band_means_pivot(spark, sf_dir)
    for b in BAND_TYPES:  # {band}_{stat} carrier columns, Rubin-style
        stats = stats.withColumnRenamed(b, f"{b}_vMean")
    j = ev.join(stats, "user_id")
    band_mean = F.lit(None).cast("double")
    for b in BAND_TYPES:  # the F6 chained-CASE lookup
        band_mean = F.when(F.col("band") == b, F.col(f"{b}_vMean")).otherwise(
            band_mean
        )
    return j.select(
        "event_id",
        e6(band_mean, "band_mean_e6"),
        (F.col("v") > band_mean).alias("rising"),
    )


BAND_STATS_SQL = """
WITH ev AS (
  SELECT event_id, user_id, CAST(round(value*1000) AS BIGINT) AS v,
         event_type AS band
  FROM events
)
SELECT event_id,
       CAST(round(CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w * 1e6) AS BIGINT) AS band_mean_e6,
       (CAST(v AS DOUBLE)
        > CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w) AS rising
FROM ev
WINDOW w AS (PARTITION BY user_id, band)
"""


def q_ev_night_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.F8 night-gap predicates over per-key history arrays: the gap
    between the last two observations and between the prior pair classify
    intra-night (both gaps short) vs inter-night (fresh short pair after a
    long gap) — the hostless filters' cadence gates
    (``ztf/livestream/filter_intra_night_hostless`` /
    ``_inter_night_hostless``), here over the events table with an hour
    standing in for the night threshold. Gaps are exact integer
    microsecond differences of array tail elements."""
    from ..functions.arrays import pair_gap

    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("ts_us").alias("t"), "event_id"
    )
    arr = F.array_sort(F.collect_list(F.struct("t", "event_id")))
    g = ev.groupBy("user_id").agg(arr.alias("__a"))
    ts = F.transform("__a", lambda e: e["t"])
    gap12 = pair_gap(ts, 1, 2)
    gap23 = pair_gap(ts, 2, 3)
    thr = F.lit(US_PER_HOUR)
    return g.select(
        "user_id",
        gap12.alias("gap12_us"),
        gap23.alias("gap23_us"),
        ((F.size("__a") >= 2) & (gap12 < thr)).alias("intra"),
        ((F.size("__a") >= 3) & (gap12 < thr) & (gap23 > thr)).alias("inter"),
    )


NIGHT_GAPS_SQL = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
r AS (
  SELECT user_id, t,
         row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC)
         AS rdesc,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM ev
),
tails AS (
  SELECT user_id,
         max(CASE WHEN rdesc = 1 THEN t END) AS t1,
         max(CASE WHEN rdesc = 2 THEN t END) AS t2,
         max(CASE WHEN rdesc = 3 THEN t END) AS t3,
         max(cnt) AS cnt
  FROM r GROUP BY user_id
)
SELECT user_id, t1 - t2 AS gap12_us, t2 - t3 AS gap23_us,
       (cnt >= 2 AND t1 - t2 < {US_PER_HOUR}) AS intra,
       (cnt >= 3 AND t1 - t2 < {US_PER_HOUR} AND t2 - t3 > {US_PER_HOUR}) AS inter
FROM tails
"""


SPECS = [
    QuerySpec("q_sessionize", q_sessionize, SESSIONIZE_SQL,
              "gap-based session windows (§2.J)"),
    QuerySpec("ev_band_stats", q_ev_band_stats, BAND_STATS_SQL,
              "F6 per-band struct stats via pivot + chained-CASE lookup"),
    QuerySpec("ev_night_gaps", q_ev_night_gaps, NIGHT_GAPS_SQL,
              "F8 intra/inter-night gap predicates over history tails"),
    QuerySpec("ts_rising_3sigma", q_ts_rising_3sigma, RISING_SQL,
              "F4 robust 3-sigma rising test (weighted LSQ significance)"),
    QuerySpec("astro_photometry", q_astro_photometry, PHOTOMETRY_SQL,
              "I-math mag<->flux and DC-magnitude photometry scalars"),
    QuerySpec("ev_prev_same_band", q_ev_prev_same_band, PREV_SAME_BAND_SQL,
              "F9 latest same-band history lookup"),
    QuerySpec("q_asof_attribution", q_asof_attribution, ASOF_SQL,
              "as-of join via union+window (custom operator)"),
    QuerySpec("q_interval_attribution", q_interval_attribution, INTERVAL_SQL,
              "cell-bucketed interval join (custom operator)"),
    QuerySpec("q_rollup", q_rollup, ROLLUP_SQL, "ROLLUP subtotals (§2.E)"),
    QuerySpec("q_setops", q_setops, SETOPS_SQL, "INTERSECT/UNION/EXCEPT (§2.H)"),
    QuerySpec("ts_window_slice", q_ts_window_slice, TS_WINDOW_SQL, "F7 per-row windows"),
    QuerySpec("ts_fit_grouped", q_ts_fit_grouped, TS_LINFIT_SQL, "F10 grouped mapInPandas fit"),
    QuerySpec("ts_sigmoid_fit", q_ts_sigmoid_fit, _golden_oracle("ts_sigmoid_fit"),
              "F10 nonlinear Rainbow-shape sigmoid fit (LM, pinned golden)"),
    QuerySpec("ts_tde_score", q_ts_tde_score, _golden_oracle("ts_tde_score"),
              "F10 fit -> MC -> classifier scoring loop (pinned golden)"),
    QuerySpec("ts_rainbow_multiband", q_ts_rainbow_multiband,
              _golden_oracle("ts_rainbow_multiband"),
              "F10 joint multiband Rainbow fit (pinned golden)"),
    QuerySpec("ts_tde_score_real", q_ts_tde_score_real,
              _golden_oracle("ts_tde_score_real"),
              "F10 TDE scoring through the reference's real model_broad.ubj (pinned golden)"),
    QuerySpec("text_bpe", q_text_bpe, TEXT_BPE_SQL, "BPE-ish token count"),
    QuerySpec("text_bpe_trained", q_text_bpe_trained,
              _golden_oracle("text_bpe_trained"),
              "trained-BPE tokenization (pinned golden)"),
]
