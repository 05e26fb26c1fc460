"""Event-stream [Q] pairs — SURVEY.md §2.10: tumbling/sliding windows,
gap sessionization, stateful-dedup batch equivalent, pivot.

These run the SAME transformations a readStream pipeline would (Spark's
unified batch/streaming API); the oracle checks the window semantics in
plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import dsum, sql_dsum
from ..io import load_table
from ..operators import joins as J
from ..streaming import batch_windows as BW
from ..staging import stage
from .registry import query


@query(
    "events_tumbling_day",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS wend,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return BW.tumbling(e, "ts", "1 day", [],
                       {"n": F.count(F.lit(1)), "sum_value": dsum("value")})


@query(
    "events_sliding_2h_1h",
    oracle="""
    WITH assigned AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR AS wstart, * FROM events
      UNION ALL
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, * FROM events
    )
    SELECT wstart, wstart + INTERVAL 2 HOUR AS wend,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM assigned GROUP BY wstart
    """,
)
def events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width 2h, slide 1h ⇒ every event lands in exactly two windows
    (epoch-aligned starts — F.window's contract, mirrored in the oracle)."""
    e = load_table(spark, sf_dir, "events")
    return BW.sliding(e, "ts", "2 hours", "1 hour", [],
                      {"n": F.count(F.lit(1)), "n_users": F.countDistinct("user_id")})


@query(
    "events_sessionize_30m",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def events_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via F.session_window (streaming-native); oracle
    derives the same sessions with the lag+cumsum formulation — the two
    independent derivations must agree exactly."""
    e = load_table(spark, sf_dir, "events")
    return BW.sessionize(e, "ts", "30 minutes", ["user_id"],
                         {"n_events": F.count(F.lit(1))})


@query(
    "events_dedup_latest",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest state per (user, event_type) — the reference's `_id`
    overwrite dedup; streaming analog is dropDuplicatesWithinWatermark."""
    e = load_table(spark, sf_dir, "events")
    return BW.dedup_latest(
        e, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", "event_id", "value")


@query(
    "events_pivot_types",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error
    FROM events GROUP BY user_id
    """,
)
def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type (explicit value list ⇒ single
    pass, no extra distinct-discovery job — required at scale)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["signup", "click", "view", "purchase", "error"])
        .count()
        .na.fill(0, ["signup", "click", "view", "purchase", "error"])
    )


@query(
    "events_sessionize_capped",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flagged
    ), segmented AS (
      SELECT user_id, ts, session_no,
             (ROW_NUMBER() OVER (PARTITION BY user_id, session_no
                                 ORDER BY ts, event_id) - 1) // 5 AS segment
      FROM numbered
    )
    SELECT user_id, session_no, segment,
           MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM segmented GROUP BY user_id, session_no, segment
    """,
)
def events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions split at 5 events (the bot-guard variant): gap sessions
    can grow without bound under a hammering key; capping bounds both
    the session row count and any downstream per-session state."""
    e = load_table(spark, sf_dir, "events")
    return BW.sessionize_capped(e, "ts", "30 minutes", ["user_id"],
                                tiebreak="event_id", max_events=5,
                                aggs={"n_events": F.count(F.lit(1))})


@query(
    "join_interval_overlap",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flagged
    ), sess AS (
      SELECT user_id, session_no, MIN(ts) AS s, MAX(ts) AS e
      FROM numbered GROUP BY user_id, session_no
    )
    SELECT a.user_id AS user_a, a.session_no AS sess_a,
           b.user_id AS user_b, b.session_no AS sess_b
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent sessions across users: interval-overlap self-join via
    time binning (operators/joins.interval_overlap_join) — an equi-join
    on bin ids instead of the naive broadcast nested loop. The oracle
    states the same relation with the inequality form (fine at oracle
    scale; dead at 100 TB)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    # F.session_window builds the sessions in ONE merge pass over the
    # sorted events (events_sessionize_30m cross-checks it against the
    # oracle's lag+cumsum form; boundary semantics pinned by
    # tests/test_session_boundary.py); session_no, the 1-based time rank
    # of a session, is a row_number over the SESSION rows (sessions are
    # disjoint per user, so ordering by start is total). Exchange reuse
    # does not fire across the aliased self-join, so the session table
    # is a disk stage (a path of this build's own; concurrent builds
    # never share it) and both join sides scan that one file.
    sw = (e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    sess = stage(sw.select(
        "user_id",
        F.row_number().over(Window.partitionBy("user_id").orderBy("s"))
        .cast("bigint").alias("session_no"),
        "s", "e"), "disk")
    out = J.interval_overlap_join(
        sess, sess, "s", "e", "s", "e", bin_width_s=3600,
        extra_cond=F.col("l.user_id") < F.col("r.user_id"))
    return out.select(
        F.col("l.user_id").alias("user_a"), F.col("l.session_no").alias("sess_a"),
        F.col("r.user_id").alias("user_b"), F.col("r.session_no").alias("sess_b"))


@query(
    "events_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
)
def events_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns → long (measure, val) rows —
    the inverse of events_pivot_types. Spark's native unpivot emits via
    a single Expand node (one scan, rows×measures output, no union of
    scans like the SQL statement of the same relation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "val",
    ).withColumn("measure", F.regexp_replace("measure", "^l_", ""))


@query(
    "events_resample_1h_fill",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS t,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(value) AS v
      FROM events WHERE user_id % 10 = 0
      GROUP BY user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600
    ), span AS (
      SELECT user_id, MIN(t) AS t0, MAX(t) AS t1 FROM obs GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, g.t
      FROM span s, UNNEST(generate_series(s.t0, s.t1, 3600)) AS g(t)
    ), j AS (
      SELECT g.user_id, g.t, o.v FROM grid g
      LEFT JOIN obs o ON g.user_id = o.user_id AND g.t = o.t
    ), f AS (
      SELECT user_id, t, v,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT user_id, t, v,
           pv AS v_locf,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END AS v_lerp
    FROM f
    """,
)
def events_resample_1h_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (operators/timeseries.py): per-user
    hourly resample over each user's own observation span, empty buckets
    filled by BOTH carry-forward (v_locf) and linear interpolation
    (v_lerp) — the sequence-model input prep the reference's time-domain
    edges (axis densification only) stop short of. Bucket means go
    through the decimal-exact average and the lerp is the same IEEE
    expression on both engines, so the oracle hash-matches the full
    value geometry, nulls included."""
    from ..operators import timeseries as TS

    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("user_id") % 10 == 0))
    grid = TS.resample(e, "ts", "value", ["user_id"], step_sec=3600)
    return grid.select(
        "user_id", "t", "v",
        TS.fill_locf(["user_id"]).alias("v_locf"),
        TS.fill_linear(["user_id"]).alias("v_lerp"))
