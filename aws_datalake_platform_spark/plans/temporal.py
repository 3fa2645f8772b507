"""Temporal queries: as-of join, range join, sessionization, and a
Structured-Streaming-executed windowed aggregation.

q37 is special: it runs a real availableNow Structured Streaming query
(memory sink) inside the correctness harness, then returns the settled
result — so the streaming engine itself is under the DuckDB oracle.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import ensure_nanos_as_long, load_table, read_parquet
from ..operators.asof import asof_join, range_join_count, sessionize
from .queries import register


def mem_sink_name(prefix: str, sf_dir: str) -> str:
    """Deterministic memory-sink query name: ``{prefix}_{sf tag}``.

    Replaces the former uuid4 suffix (VERDICT r2 nit 3) so repeated runs in
    one session are replayable. Safe for re-runs: each of these queries is
    availableNow + awaitTermination, so by the time a second invocation
    starts the first has terminated and the memory sink re-registers the
    temp view under the same name. Contract: SEQUENTIAL invocation per
    (query, sf_dir) — two truly concurrent runs of the same query on the
    same sf_dir would collide on the active-query name; the harness and
    bench both run queries sequentially.
    """
    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf_dir).strip("_")
    return f"{prefix}_{tag}"


def run_memory_stream(
    spark: SparkSession,
    df,
    prefix: str,
    sf_dir: str,
    output_mode: str,
    n_state_partitions: int = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion against a deterministic
    memory sink and return the settled table.

    One place for the availableNow + awaitTermination + state-sizing
    block the oracle-checked streaming queries all share (it was
    copy-pasted 7x before the r3 review, and the copy q101 had silently
    missed the state_partitions treatment). The bounded replay's state
    layout is sized to the tiny state, not the session's batch shuffle
    default — see streaming.ingest.state_partitions for the measured
    rationale."""
    from ..streaming.ingest import state_partitions

    name = mem_sink_name(prefix, sf_dir)
    with state_partitions(spark, n_state_partitions):
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


@register(
    "q34_asof_join",
    """
    SELECT e.event_id, e.user_id, e.ts, c.ts AS prev_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    doc="As-of join: each error event paired with the user's most recent "
    "click at-or-before it. Spark lacks ASOF JOIN; the union+window "
    "encoding costs one shuffle on the key (operators/asof.py).",
)
def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(errors, clicks, on="user_id", left_ts="ts", right_ts="ts").select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("prev_click_ts")
    )


@register(
    "q35_range_join",
    """
    SELECT p.event_id, COUNT(*) AS n_in_range
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 24 HOUR
     AND c.ts < p.ts
    GROUP BY p.event_id
    """,
    doc="Range join: clicks within the 24h window before each purchase. "
    "Equi-key shuffle join with the interval as join filter.",
)
def q35_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        lower_interval="24 hours", id_col="event_id",
    )


@register(
    "q36_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts > LAG(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id, CAST(sess AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
    doc="Gaps-and-islands sessionization (12h inactivity gap) — batch twin "
    "of the streaming session_window.",
)
def q36_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, key="user_id", ts="ts", order_tiebreak="event_id", gap="12 hours")


def _events_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the events table with the same ``ts``
    normalization as catalog.load_table: bigint nanos and naive-micros
    (TIMESTAMP_NTZ) parquet flavors both become TIMESTAMP_LTZ, which
    event-time watermarks require."""
    from pyspark.sql import types as T

    ensure_nanos_as_long(spark)  # guarded: driver-owned sessions only
    _, schema = read_parquet(spark, f"{sf_dir}/events.parquet")
    sdf = (
        spark.readStream.schema(schema)
        # glob form: FileStreamSource only sets basePath=path (a file, which
        # breaks partition inference) when the path is NOT a glob
        .parquet(f"{sf_dir}/events.*")
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


@register(
    "q37_stream_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_bucket,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Hourly tumbling-window aggregation executed by Structured "
    "Streaming (availableNow over the events files, memory sink) — the "
    "streaming engine under the batch oracle.",
)
def q37_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("hour_bucket"), "n_events", "sum_value")
    )
    return run_memory_stream(spark, agg, "q37", sf_dir, output_mode="complete")


@register(
    "q58_stateful_stream_stats",
    """
    SELECT event_type,
           COUNT(value) AS n,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events
    GROUP BY event_type
    HAVING COUNT(value) > 0
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-key running stats accumulated across micro-batches in the state "
    "store, final state under the batch-SQL oracle. Only order-insensitive "
    "stats (count/min/max) are oracle-compared; running sums are covered "
    "by tests/test_streaming.py::test_stateful_running_stats.",
)
def q58_stateful_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..streaming.ingest import running_stats_with_state

    sdf = _events_stream(spark, sf_dir)
    stats = running_stats_with_state(
        sdf, key="event_type", value_col="value", ts_col="ts", watermark="1 hour"
    )
    # update-mode sink holds one row per key per micro-batch; the FINAL
    # state per key is the row with the largest n (n is monotone).
    snap = run_memory_stream(spark, stats, "q58", sf_dir, output_mode="update")
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        snap.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1 AND n > 0")
        .select("event_type", "n", "vmin", "vmax")
    )


@register(
    "q65_stream_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id AS user_id
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Watermarked stream-stream join executed by Structured Streaming "
    "(click->purchase attribution within 1 hour), batch-SQL oracle. State "
    "is bounded by watermark + the join's time-range condition.",
)
def q65_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import stream_stream_join

    def src():
        return _events_stream(spark, sf_dir)
    clicks = (
        src().filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
    )
    purchases = (
        src().filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
    )
    l = clicks.withWatermark("click_ts", "1 hour").alias("l")
    r = purchases.withWatermark("purchase_ts", "1 hour").alias("r")
    joined = l.join(
        r,
        (F.col("l.user_id") == F.col("r.p_user_id"))
        & (F.col("r.purchase_ts") >= F.col("l.click_ts"))
        & (F.col("r.purchase_ts") <= F.col("l.click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    return run_memory_stream(spark, joined, "q65", sf_dir, output_mode="append")


@register(
    "q78_gap_fill",
    """
    WITH sparse AS (
      SELECT event_type, date_trunc('hour', ts) AS h, max(value) AS v
      FROM events WHERE value > 95 GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM sparse GROUP BY 1),
    grid AS (
      SELECT event_type, unnest(range(lo, hi + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.event_type, g.h, s.v
      FROM grid g LEFT JOIN sparse s ON s.event_type = g.event_type AND s.h = g.h
    ),
    wnd AS (
      SELECT event_type, h, v,
             last_value(v IGNORE NULLS) OVER wb AS locf_v,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS ph,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh
      FROM j
      WINDOW wb AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, h, ROUND(locf_v, 4) AS locf_v,
           CASE WHEN v IS NOT NULL THEN ROUND(v, 4)
                WHEN locf_v IS NULL OR nv IS NULL THEN NULL
                ELSE floor((locf_v + (nv - locf_v)
                            * (CAST(epoch(h) AS DOUBLE) - CAST(epoch(ph) AS DOUBLE))
                            / (CAST(epoch(nh) AS DOUBLE) - CAST(epoch(ph) AS DOUBLE)))
                           * 1e4 + 0.5) / 1e4 END AS linear_v,
           (v IS NULL) AS filled
    FROM wnd
    """,
    doc="Hypertable gap fill: densify sparse hourly max-value series per "
    "event type to a regular grid; LOCF carry-forward + bracketed linear "
    "interpolation, no extrapolation past the observed range. "
    "(time_bucket_gapfill/locf/interpolate re-expressed as sequence-"
    "explode + left join + two windows.)",
)
def q78_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators.asof import gap_fill

    ev = load_table(spark, sf_dir, "events")
    sparse = (
        ev.filter(F.col("value") > 95)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.max("value").alias("v"))
    )
    return gap_fill(sparse, key="event_type", ts_bucket="h", value="v", step="1 hour")


@register(
    "q81_funnel_steps",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t_view GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t_click GROUP BY 1
    )
    SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
    doc="Ordered funnel (view -> click -> purchase): first view, first "
    "click strictly after it, first purchase strictly after that — the "
    "sequential-constraint semantics dashboards call 'funnel', which a "
    "naive per-type min gets wrong. Three user-keyed aggregates; the "
    "groupBy hash partitioning is reused by every join (one shuffle).",
)
def q81_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(evts: DataFrame, etype: str, prev: DataFrame, prev_ts: str, out: str) -> DataFrame:
        return (
            evts.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t2 = first_after(ev, "click", t1, "t_view", "t_click")
    t3 = first_after(ev, "purchase", t2, "t_click", "t_purchase")
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


@register(
    "q82_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST((epoch(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                   - epoch(f.cohort_week)) / 604800 AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM activity GROUP BY 1, 2
    """,
    doc="Cohort retention: users bucketed by first-activity week, counted "
    "per (cohort, week-offset) of later activity. first-activity agg + "
    "join-back + distinct + count — all user-keyed shuffles that reuse "
    "one partitioning; counts are exact integers (hash-stable).",
)
def q82_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ── q158: max concurrent sessions (sweep-line over interval boundaries) ─────


@register(
    "q158_concurrency_sweep",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts > LAG(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sx AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ),
    iv AS (SELECT MIN(ts) AS s, MAX(ts) AS e FROM sx GROUP BY user_id, sess),
    b AS (
      SELECT s AS ts, 1 AS delta FROM iv
      UNION ALL
      SELECT e AS ts, -1 AS delta FROM iv
    ),
    r AS (
      SELECT ts, delta,
             SUM(delta) OVER (ORDER BY ts, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS run
      FROM b
    )
    SELECT CAST(ts AS DATE) AS day, CAST(MAX(run) AS BIGINT) AS max_concurrent
    FROM r GROUP BY 1
    """,
    doc="Max concurrent sessions per day — sweep-line over session "
    "interval boundaries (+1 at start, -1 at end; starts sort before "
    "ends at equal timestamps so touching intervals count as "
    "concurrent). The oracle runs the textbook single-ordering global "
    "window; the engine computes the SAME running sum distributed: "
    "per-day partitioned partial prefix sums plus a tiny cumulative "
    "day-offset relation — no global single-partition sort.",
)
def q158_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a naive SUM() OVER (ORDER BY ts) serializes the whole lake
    through ONE task. This plan is the distributed two-phase prefix sum:
    (1) boundaries partition by day — running sums within each day are
    parallel; (2) per-day deltas aggregate to a day-level relation
    (rows = #days, trivially small) whose cumulative sum gives each
    day's starting offset; (3) max(run) + offset is the global answer.
    Same decomposition sequence packing (q114) uses; works for any
    time-bucketed prefix-sum at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    iv = sessionize(ev, key="user_id", ts="ts", order_tiebreak="event_id", gap="12 hours")
    # one explode instead of a two-branch union: a union would plan the
    # whole sessionize subtree twice (once per branch); the fan-out is
    # map-side either way, but this keeps a single upstream computation
    b = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("session_start").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("session_end").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("__b")
    ).select(F.col("__b.ts").alias("ts"), F.col("__b.delta").alias("delta"))
    b = b.withColumn("day", F.to_date("ts"))
    w_day = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = b.withColumn("run", F.sum("delta").over(w_day))
    per_day = running.groupBy("day").agg(
        F.max("run").alias("day_max"), F.sum("delta").alias("day_tot")
    )
    # day-level cumulative offset: rows = #distinct days, a tiny relation —
    # the single-partition window here is over days, not events
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_day.withColumn(
            "offset", F.coalesce(F.sum("day_tot").over(w_days) - F.col("day_tot"), F.lit(0))
        )
        .select("day", (F.col("day_max") + F.col("offset")).cast("long").alias("max_concurrent"))
    )


# ── q163: forward as-of join with tolerance ─────────────────────────────────


@register(
    "q163_asof_forward_tolerance",
    """
    SELECT c.event_id, c.user_id, c.ts, p.ts AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    WHERE p.ts - c.ts <= INTERVAL 2 HOUR
    """,
    doc="FORWARD as-of join with tolerance: each click paired with the "
    "user's NEXT purchase at-or-after it, matches farther than 2 hours "
    "dropped (pandas.merge_asof direction='forward' + tolerance "
    "semantics). Same union+window encoding as the backward form (q34), "
    "mirrored frame direction.",
)
def q163_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical single-shuffle shape as q34 — the tolerance is a
    post-window filter, not a join predicate, so the plan is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward", tolerance="2 hours",
    ).select("event_id", "user_id", "ts", F.col("asof_ts").alias("next_purchase_ts"))


# ── q164: weighted median ───────────────────────────────────────────────────


@register(
    "q164_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS g, l_quantity AS v,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS wt
      FROM lineitem
    ),
    c AS (
      SELECT g, v,
             SUM(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             SUM(wt) OVER (PARTITION BY g) AS tot
      FROM w
    )
    SELECT g AS l_returnflag, MIN(v) AS weighted_median_qty
    FROM c WHERE cum * 2 >= tot GROUP BY g
    """,
    doc="Weighted median (50% of total weight) of quantity weighted by "
    "extended price, per return flag — the revenue-centric 'typical "
    "order size'. Weights are integer cents and the cumulative window "
    "uses the default RANGE frame, so tied values accumulate as one "
    "peer block — crossing-point selection is order-independent and "
    "engine-exact.",
)
def q164_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two windows over one (group, value) sort — the same single
    shuffle any per-group ranking pays; no collect, no iteration. The
    integer-cents weights keep the running sums exact under any
    partitioning (float cum-sums would make the crossing row
    platform-dependent)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("v"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("wt"),
    )
    win_cum = Window.partitionBy("g").orderBy("v")  # default RANGE frame: peers merge
    win_tot = Window.partitionBy("g")
    c = w.select(
        "g", "v",
        F.sum("wt").over(win_cum).alias("cum"),
        F.sum("wt").over(win_tot).alias("tot"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy(F.col("g").alias("l_returnflag"))
        .agg(F.min("v").alias("weighted_median_qty"))
    )


# ── q165: inter-event gap profile ───────────────────────────────────────────


@register(
    "q165_interevent_gaps",
    """
    WITH g AS (
      SELECT user_id,
             CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
               AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(FLOOR(MEDIAN(gap_us)) AS BIGINT) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    HAVING COUNT(gap_us) >= 5
    """,
    doc="Per-user inter-event gap profile (microsecond-exact lag "
    "differences; min/max/median cadence for users with enough "
    "history) — the behavioral-cadence feature behind bot detection "
    "and engagement scoring. Gaps are exact integers, and the median "
    "of an integer multiset is engine-exact: both engines average "
    "the two middle values on even counts, and the explicit FLOOR "
    "before the BIGINT cast removes the one semantic difference "
    "(Spark casts double->long by truncation, DuckDB by rounding).",
)
def q165_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id shared by the lag window and the
    aggregate (the groupBy reuses the window's partitioning); gaps are
    integer micros so every statistic is order-exact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.floor(F.expr("percentile(gap_us, 0.5)")).alias("median_gap_us"),
        )
        .filter(F.col("n_gaps") >= 5)
    )


# ── q166: rolling median over an event window ───────────────────────────────


@register(
    "q166_rolling_median",
    """
    SELECT event_id, user_id,
           MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             AS rolling_median_5
    FROM events
    """,
    doc="Rolling median of the last 5 events per user — an aggregate "
    "function used as a WINDOW function (robust smoothing where a "
    "moving average would chase outliers). Exact on both engines: a "
    "median of <=5 doubles is a selection plus at most one two-value "
    "average, no accumulation-order sensitivity.",
)
def q166_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id + in-partition sort; the frame holds
    at most 5 values so per-row evaluation is O(k log k) with no state
    growth — the robust-statistics twin of the q96 trailing average."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.expr("percentile(value, 0.5)").over(w).alias("rolling_median_5"),
    )


@register(
    "q174_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming exact deduplication: dropDuplicates over the event "
    "stream (availableNow replay, memory sink), final distinct key set "
    "under the batch DISTINCT oracle — so the streaming dedup state "
    "machinery itself is hash-checked. Output restricted to the dedup "
    "keys, making 'which physical row was kept first' irrelevant to "
    "the contract.",
)
def q174_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production path bounds state with dropDuplicatesWithinWatermark
    (streaming/ingest.py:127, pytest-covered); this query uses unbounded
    dropDuplicates because the oracle contract is EXACT global dedup over
    a bounded replay — on an infinite stream you accept the watermark
    variant's within-delay guarantee instead."""
    sdf = _events_stream(spark, sf_dir)
    dd = sdf.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_memory_stream(spark, dd, "q174", sf_dir, output_mode="append")
