"""Event-time query registry entries (SURVEY.md §2B streaming-shaped,
Phase 3).

The reference is batch-only (no watermarks/state in flink-kmeans
[EXPECTED]); the driver's ``events`` table mandates an event-time
surface. Implemented batch-first with the SAME primitives Structured
Streaming uses (``F.window`` / ``F.session_window`` behave identically
under ``readStream``), so the streaming upgrade in
``streaming/`` is a source swap, not a rewrite.

All window starts/ends surface as epoch-µs BIGINTs (registry
convention). DuckDB oracles rebuild the windows with ``time_bucket`` /
lag-gap-cumsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table, stream_table
from .registry import register


@register(
    "window_tumbling",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP))) AS w_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("eventtime", "events"),
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-10-min event-time counts: ``F.window`` assigns each row to one
    bucket in the scan projection (a narrow map — epoch-aligned, same
    alignment as DuckDB's time_bucket), then a single partial+final hash
    aggregate. Identical code runs under readStream with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.unix_micros("w.start").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "window_sliding",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
                    - k.off * INTERVAL 5 MINUTE) AS w_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) k
    GROUP BY 1
    """,
    tags=("eventtime", "events"),
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding every 5: each event lands in exactly two
    windows. Spark's window() expands rows ×(size/slide) BEFORE the
    aggregate — the shuffle carries per-window partial aggs, not the
    duplicated rows. Oracle replays the expansion as a 2-offset cross
    join on 5-min buckets."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.unix_micros("w.start").alias("w_start"), "n", "total_value")
    )


_STREAM_RUN = [0]


def _drain(df, prefix: str):
    from ..streaming.jobs import run_available_now

    _STREAM_RUN[0] += 1
    # complete-mode aggregations: the no-data batch re-emits the same
    # full aggregate — skip it (see _NO_DATA_BATCH_OFF in streaming/jobs.py)
    return run_available_now(
        df, f"{prefix}_{_STREAM_RUN[0]}", skip_no_data_batch=True
    )


@register(
    "streaming_tumbling",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP))) AS w_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "events"),
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING path, oracled: file-source stream over the
    same events parquet, watermarked 10-min tumbling counts, drained
    to completion (streaming/jobs.py ``drain``) — the streamed result
    must equal the batch SQL exactly."""
    from ..streaming.jobs import streaming_tumbling_counts

    return _drain(streaming_tumbling_counts(spark, sf_dir), "q_tumbling")


@register(
    "streaming_sliding",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
                    - k.off * INTERVAL 5 MINUTE) AS w_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) k
    GROUP BY 1
    """,
    tags=("streaming", "events"),
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows drained to completion; must equal
    the batch 2-offset expansion SQL."""
    from ..streaming.jobs import streaming_sliding_counts

    return _drain(streaming_sliding_counts(spark, sf_dir), "q_sliding")


@register(
    "streaming_session",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts FROM events
    ), marked AS (
      SELECT user_id, event_id, uts,
             CASE WHEN lag(uts) OVER w IS NULL
                       OR uts - lag(uts) OVER w >= INTERVAL 15 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY uts, event_id)
    ), sess AS (
      SELECT user_id, uts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(uts)) AS session_start_us,
           epoch_us(MAX(uts)) + 15 * 60 * 1000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    tags=("streaming", "events"),
)
def streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (watermark-bounded state), drained and
    compared against the batch lag-gap-cumsum SQL."""
    from ..streaming.jobs import streaming_session_counts

    return _drain(streaming_session_counts(spark, sf_dir), "q_session")


@register(
    "streaming_session_window",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts, value,
             CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
                  ELSE INTERVAL 15 MINUTE END AS gap
      FROM events
    ), marked AS (
      SELECT user_id, event_id, uts, value, uts + gap AS e_end,
             CASE WHEN MAX(uts + gap) OVER prev IS NULL
                       OR uts >= MAX(uts + gap) OVER prev
                  THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW prev AS (PARTITION BY user_id ORDER BY uts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), sess AS (
      SELECT user_id, uts, e_end, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(uts)) AS session_start_us,
           epoch_us(MAX(e_end)) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
    tags=("streaming", "events"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows in a streaming query: native
    ``F.session_window`` whose gap is a per-event COLUMN — purchases
    extend the session 30 min, other events 15 min — drained to
    completion. The oracle is the classic interval-merge
    SQL (cumulative MAX of ts+gap over the per-user event order; a new
    session starts when an event lands at-or-after every previous
    event's reach), which is exactly Spark's merge rule for overlapping
    [ts, ts+gap) intervals, so the streamed result is hash-verified
    against an independent batch formulation. Completes the
    streaming/batch session parity cell with the gap-as-expression
    capability the fixed-gap twin (streaming_session) doesn't cover.

    Scale shape: one shuffle on user_id; session state is
    watermark-bounded (1 h) so state size tracks ACTIVE sessions, not
    history — the same plan at 100 TB/day only widens the key space."""
    from ..streaming.jobs import streaming_session_dynamic_gap

    return _drain(streaming_session_dynamic_gap(spark, sf_dir), "q_sessdyn")


@register(
    "streaming_stateful_counter",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "events"),
)
def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState custom stateful operator: after draining
    the whole file stream, each user's final state row must equal the
    batch GROUP BY — the state-accumulation oracle. (The drain may
    deliver several micro-batches; update-mode emits one row per user
    per batch, so the LAST row per user is the final state.)"""
    from pyspark.sql.window import Window

    from ..streaming.jobs import run_available_now, streaming_user_counter_stateful

    _STREAM_RUN[0] += 1
    drained = run_available_now(
        streaming_user_counter_stateful(spark, sf_dir),
        f"q_stateful_{_STREAM_RUN[0]}",
        output_mode="update",
        # no input ⇒ no changed groups; NoTimeout ⇒ no timers: the
        # no-data batch emits nothing — skip it
        skip_no_data_batch=True,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register(
    "streaming_dedup",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
    tags=("streaming", "events"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the event stream (stateful
    dedup with bounded state). event_id is unique in the corpus, so
    stateful dedup must be an exact no-op — which makes the batch
    identity SELECT a hash-verifiable oracle (plus the no-op pytest in
    tests/test_streaming.py)."""
    from ..streaming.jobs import run_available_now, streaming_dedup_within_watermark

    _STREAM_RUN[0] += 1
    return run_available_now(
        streaming_dedup_within_watermark(spark, sf_dir),
        f"q_sdedup_{_STREAM_RUN[0]}",
        output_mode="append",
        # dropDuplicatesWithinWatermark emits eagerly; the no-data
        # batch only evicts state — skip it
        skip_no_data_batch=True,
    )


@register(
    "streaming_static_join",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("streaming", "join", "events"),
)
def streaming_static_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join, oracled: the drained streaming
    result must equal the batch join SQL exactly (streaming/jobs.py)."""
    from ..streaming.jobs import streaming_static_join

    return _drain(streaming_static_join(spark, sf_dir), "q_sjoin")


@register(
    "streaming_stream_join",
    oracle="""
    SELECT s.event_id AS s_event_id,
           p.event_id AS p_event_id,
           ROUND(p.value, 4) AS purchase_value
    FROM events s
    JOIN events p
      ON p.user_id = s.user_id
     AND CAST(p.ts AS TIMESTAMP) > CAST(s.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
    tags=("streaming", "join", "events"),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time-bounded inner join (signup⋈purchase
    attribution), drained to completion in append mode — the drained
    pairs must equal the batch theta-join SQL exactly. The watermark +
    time bound make both join buffers finite (streaming/jobs.py)."""
    from ..streaming.jobs import run_available_now, streaming_stream_stream_join

    _STREAM_RUN[0] += 1
    return run_available_now(
        streaming_stream_stream_join(spark, sf_dir),
        f"q_ssjoin_{_STREAM_RUN[0]}",
        output_mode="append",
        # inner stream-stream joins emit on match during data batches;
        # the no-data batch only evicts buffered state — skip it
        skip_no_data_batch=True,
    )


@register(
    "window_rollup",
    oracle="""
    SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("eventtime", "events"),
)
def window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup tier: the HOURLY aggregate built FROM the
    10-minute tier's partials (sum-of-sums / sum-of-counts), never from
    raw events — the pre-aggregation reuse pattern that makes dashboard
    hierarchies affordable at 100 TB (the fine tier is ~1/10⁴ the raw
    rows; every coarser tier is a re-aggregation of the one below).
    Partial sums stay UNROUNDED until the final tier (sum of rounded
    partials drifts). Oracle computes the hourly tier directly — the
    merge must be exact."""
    e = load_table(spark, sf_dir, "events")
    ten = (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
    )
    return (
        ten.select(
            F.unix_micros(F.date_trunc("hour", F.col("w.start"))).alias("h_start"),
            "event_type",
            "pn",
            "pv",
        )
        .groupBy("h_start", "event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("pv"), 4).alias("total_value"),
        )
    )


@register(
    "events_funnel",
    oracle="""
    WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS sts FROM events
               WHERE event_type = 'signup'),
    conv AS (
      SELECT DISTINCT s.user_id
      FROM s JOIN events p
        ON p.user_id = s.user_id
       AND p.event_type = 'purchase'
       AND CAST(p.ts AS TIMESTAMP) > s.sts
       AND CAST(p.ts AS TIMESTAMP) <= s.sts + INTERVAL 1 HOUR
    )
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM s) AS BIGINT) AS n_signup_users,
           CAST((SELECT COUNT(*) FROM conv) AS BIGINT) AS n_converted,
           ROUND(CAST((SELECT COUNT(*) FROM conv) AS DOUBLE)
                 / (SELECT COUNT(DISTINCT user_id) FROM s), 6) AS conversion
    """,
    tags=("eventtime", "join", "events"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (signup → purchase within 1 h): the converted
    set is a LEFT-SEMI theta join (users counted once no matter how
    many qualifying purchases — no pair blowup on hot users), then two
    tiny scalar aggregates. At 100 TB both sides prune to
    (user_id, ts, type) before the shuffle."""
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        s.join(
            p,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_semi",
        )
        .agg(F.count_distinct(F.col("s_user")).alias("n_converted"))
    )
    signups = s.agg(F.count_distinct(F.col("s_user")).alias("n_signup_users"))
    return (
        signups.crossJoin(F.broadcast(converted))
        .select(
            "n_signup_users",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_signup_users"), 6
            ).alias("conversion"),
        )
    )


@register(
    "streaming_kmeans_assign",
    oracle="""
    WITH pts AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                 embedding AS cvec
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 10))
    SELECT vec_id, cid FROM (
      SELECT p.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
               list_aggregate(list_transform(list_zip(p.embedding, c.cvec),
                 z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])),
                 'sum'),
               c.cid) AS rn
      FROM pts p CROSS JOIN c) WHERE rn = 1
    """,
    tags=("streaming", "kmeans"),
)
def streaming_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ML SCORING: the reference's A4 assign map applied to an
    unbounded point stream with broadcast centroids — the model-serving
    shape for continuous ingestion (score each point as it lands). The
    assign is a stateless narrow map, so streaming output == batch
    assign EXACTLY (same oracle as kmeans_assign); the centroid block
    rides in as the same one-row broadcast the batch path uses."""
    from ..operators import kmeans as km
    from ..streaming.jobs import run_available_now

    static = load_table(spark, sf_dir, "embeddings")
    cents = km.init_centroids(static, 10)
    stream = stream_table(spark, sf_dir, "embeddings")
    assigned = km.assign(stream, cents).select("vec_id", "cid")
    _STREAM_RUN[0] += 1
    return run_available_now(
        assigned,
        f"q_skmeans_{_STREAM_RUN[0]}",
        output_mode="append",
        skip_no_data_batch=True,  # stateless map — no watermark state
    )


@register("streaming_late_data", tags=("streaming",))
def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP, observable end-to-end: two-file landing
    dir, one file per micro-batch, append mode — the late row must NOT
    be counted and the still-open final window must NOT emit. Rows-only
    (the point is that it deliberately differs from the batch answer);
    tests/test_streaming.py pins the exact expected rows. sf_dir is
    unused — the input is a constructed landing directory."""
    from ..streaming.jobs import run_available_now, streaming_late_data_stream

    _STREAM_RUN[0] += 1
    return run_available_now(
        streaming_late_data_stream(spark),
        f"q_late_{_STREAM_RUN[0]}",
        output_mode="append",
    )


@register(
    "window_session",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts FROM events
    ), marked AS (
      SELECT user_id, event_id, uts,
             CASE WHEN lag(uts) OVER w IS NULL
                       OR uts - lag(uts) OVER w >= INTERVAL 15 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY uts, event_id)
    ), sess AS (
      SELECT user_id, uts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(uts)) AS session_start_us,
           epoch_us(MAX(uts)) + 15 * 60 * 1000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    tags=("eventtime", "events"),
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-min-gap sessions per user via native ``F.session_window``
    (batch mode): one shuffle on user_id, sessions merged sort-side.
    Session end = last event + gap (Spark's definition); an event at
    EXACTLY prev+gap starts a new session — the oracle's lag-gap-cumsum
    uses >= to match. The same expression is the streaming path's
    state-merge window."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


@register(
    "streaming_foreach_batch",
    oracle="""
    WITH latest AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value,
           ROUND(MAX(l.value), 4) AS last_value
    FROM events e
    JOIN latest l ON l.user_id = e.user_id AND l.rn = 1
    GROUP BY e.user_id
    """,
    tags=("streaming", "events"),
)
def streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: per-batch partials staged append-only under
    their batch_id, merged post-drain to per-user totals + last-writer-
    wins latest value — the idempotent upsert recipe for sinks with no
    native streaming writer. The drained merge must equal the batch
    GROUP BY + argmax on the same events (oracle), regardless of how
    the drain split the micro-batches."""
    from ..streaming.jobs import run_foreach_batch_upsert

    return run_foreach_batch_upsert(spark, sf_dir)


@register(
    "streaming_checkpoint_resume",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
    FROM events
    """,
    tags=("streaming", "events"),
)
def streaming_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume exactly-once: two drains over a
    growing landing directory share one checkpoint + parquet sink; the
    resumed query processes only the new arrival. The sink must equal
    the source EXACTLY (identity oracle) — any reprocessing shows as
    duplicate rows, any loss as missing rows."""
    from ..streaming.jobs import run_checkpoint_resume

    return run_checkpoint_resume(spark, sf_dir)
