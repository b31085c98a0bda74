"""Anomaly-notification program (SURVEY §3.2,
``ztf/filter_anomaly_notification/filter.py:26-268``).

Reference lifecycle: SQL-string filters -> isEmpty guard -> approxQuantile
median (job 1) -> sort().limit(10*k).toPandas() (job 2, driver collect) ->
pandas dedup by objectId -> cut at the k-th score -> per-candidate REST/Slack
loop on the driver.

Spark recomposition: the dedup-then-top-k is operators/topk.topk_by_key
(distributed window + TakeOrderedAndProject — no pandas, no trick_par
over-fetch heuristic); the median guard stays approxQuantile (same API); the
notification fan-out is a sinks.NotificationSink, not a driver loop. The
isEmpty guard folds into the quantile job: an input without scores yields
no quantile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.topk import topk_by_key


def anomaly_notification(
    df: DataFrame,
    score_col: str = "anomaly_score",
    key_col: str = "objectId",
    threshold: int = 10,
    cutoff_quantile: float = 0.5,
    filters: list[str] | None = None,
    sink=None,
    tiebreak_col: str = "candid",
) -> DataFrame:
    """Select the ``threshold`` most anomalous objects of the night.

    Returns the selection DataFrame; if ``sink`` (a foreachBatch-style
    callable) is given, it is invoked once with the result (batch_id=-1).

    ``tiebreak_col``: equal-score alerts for one object need a
    deterministic survivor or the notification payload changes between
    identical reruns (shuffle-order row_number); defaults to the alert's
    unique ``candid``, falling back to unordered ties only when the
    column is absent.
    """
    for cond in filters or [f"not isnull({score_col})"]:
        df = df.filter(cond)
    # night median guard (reference :170-172): approxQuantile, rel.err 0.05.
    # It returns [] when no row has a score, which doubles as the
    # reference's isEmpty guard without a job of its own.
    median = df.approxQuantile(score_col, [cutoff_quantile], 0.05)
    if not median:
        return df.limit(0)
    candidates = df.filter(F.col(score_col) <= F.lit(median[0]))

    # most-anomalous = lowest score in the reference's convention (:176)
    return topk_by_key(
        candidates, key=key_col, score=score_col, k=threshold,
        ascending=True,
        tiebreak=tiebreak_col if tiebreak_col in df.columns else None,
    )


def notify(selection: DataFrame, sink) -> None:
    """Send the selection through a NotificationSink (B6-B8 semantics)."""
    sink(selection, -1)


def anomaly_messages(
    rows,
    median: float,
    threshold: int = 10,
    history_period: int = 90,
    history_counts: dict | None = None,
    oid_lookup=None,
    permalinks=None,
    portal: str = "https://ztf.fink-portal.org",
    snad: str = "https://ztf.snad.space/view",
):
    """Render the night's anomaly notifications with the REFERENCE's exact
    templates (``ztf/filter_anomaly_notification/filter.py:199-253``):
    returns ``(init_msg, telegram_blocks, slack_blocks)`` where telegram
    blocks are markdown (``**bold**``/``[text](url)``) and slack blocks are
    mrkdwn (``<url|text>``) prefixed by the ``==========`` separator.

    ``rows``: the collected top-k selection (tiny by construction) as
    dicts/Rows carrying objectId, ra, dec, gal_l, gal_b (Spark-side via
    ``functions.astro.gal_l``/``gal_b`` — the reference computes them with
    astropy per row), timestamp, rb, anomaly_score.

    Network-derived fields are injectable and omitted offline: the SNAD DR
    OID line appears when ``oid_lookup(ra, dec)`` returns an id
    (reference ``filter_utils.get_oid``), and the slack permalink suffix
    when ``permalinks(objectId)`` returns (cutout_url, curve_url)
    (reference ``get_data_permalink_slack``).

    .. note:: deliberate divergence from byte-exactness: the reference
       emits the DR OID line UNCONDITIONALLY, rendering the literal
       ``[None](.../None)`` when ``get_oid`` fails; this renderer omits
       the line for a falsy oid instead. Every other line is
       byte-faithful (pinned in ``tests/test_programs.py``).
    """
    history_counts = history_counts or {}
    tg_blocks, slack_blocks = [], []
    for row in rows:
        get = row.get if isinstance(row, dict) else (lambda k, r=row: r[k])
        oid_name = get("objectId")
        score = get("anomaly_score")
        n_seen = history_counts.get(oid_name, 0) + 1
        t1a = f"**ID**: [{oid_name}]({portal}/{oid_name})"
        t1b = f"ID: <{portal}/{oid_name}|{oid_name}>"
        oid = oid_lookup(get("ra"), get("dec")) if oid_lookup else None
        t_oid_1a = f"**DR OID (<1'')**: [{oid}]({snad}/{oid})"
        t_oid_1b = f"DR OID (<1''): <{snad}/{oid}|{oid}>"
        t2 = (
            f"**GAL coordinates**: {round(get('gal_l'), 6)},   "
            f"{round(get('gal_b'), 6)}"
            f"\n**EQU**: {get('ra')},   {get('dec')}"
        )
        t3 = f"**UTC**: {str(get('timestamp'))[:-3]}"
        t4 = f"**Real bogus**: {round(get('rb'), 2)}"
        t5 = (
            f"**Anomaly score**: {round(score, 2)}"
            f"\nDetected as top-{threshold} in the last {history_period} "
            f"days: {n_seen} {'times' if n_seen > 1 else 'time'}."
        )
        tg_lines = [t1a] + ([t_oid_1a] if oid else []) + [t2, t3, t4, t5]
        tg_blocks.append("\n".join(tg_lines))
        sl_lines = [t1b] + ([t_oid_1b] if oid else []) + [t2, t3, t4, t5]
        block = "==========================\n" + "\n".join(sl_lines)
        if permalinks:
            cutout_url, curve_url = permalinks(oid_name)
            block += f"\n<{cutout_url}| ><{curve_url}| >"
        slack_blocks.append(block)
    return f"Median anomaly score overnight: {median}.", tg_blocks, slack_blocks
