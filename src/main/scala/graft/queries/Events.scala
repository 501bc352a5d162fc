package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the streaming operators over `events`: tumbling-window
  * aggregation (same grouping `graft.streaming.EventStream.windowedCounts`
  * maintains incrementally) and gaps-and-islands sessionization (same
  * sessions `EventStream.sessionize` closes with state + timeouts).
  *
  * These run under the driver's differential gate; the streaming execution
  * paths themselves (watermarks, state timeouts) are exercised in
  * `StreamingSuite` with a MemoryStream. Reference: sessionization is the
  * window-function recipe Presto users run over events tables
  * (`presto-main/.../operator/WindowOperator.java` machinery; lag +
  * running sum), tumbling windows are date_trunc group-bys.
  *
  * Scale: one shuffle each — by (hour, type) / by user — then window
  * functions within partitions; both partition-prunable by event date.
  */
object Events extends QueryPack {

  private val GapMinutes = 360

  override def defs: Map[String, Q] = Map(
    // Tumbling 1h windows per event type (batch twin of windowedCounts).
    "qa6_event_windows" -> ((s, dir) =>
      s.table("events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .filter(hour(col("w_start")) < 6)
        .orderBy(col("w_start"), col("event_type"))),

    // Time-based trailing RANGE frame: rolling 1-hour event count and
    // value sum per user at every event (Presto RANGE BETWEEN INTERVAL
    // PRECEDING; Spark rangeBetween over epoch-micros ordering).
    "qb8_time_range_window" -> ((s, dir) => {
      val us = unix_micros(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(us)
        .rangeBetween(-3600L * 1000000L, 0L)
      s.table("events")
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("v_1h", round(sum(col("value")).over(w), 4))
        .filter(col("user_id") < 10)
        .select(col("event_id"), col("user_id"), col("n_1h"), col("v_1h"))
        .orderBy(col("event_id"))
    }),

    // Gaps-and-islands sessionization, summarized per user (batch twin of
    // EventStream.sessionize — identical session boundaries).
    "qa7_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      // Gap math in epoch-micros: the fixture's timestamps carry ns
      // precision which Spark truncates to µs — the oracle must compare
      // at the same (µs) resolution or boundary gaps could disagree.
      val sessions = s.table("events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > GapMinutes * 60L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(byUser))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sv"),
          min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      sessions.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"),
          round(sum(col("sv")), 4).as("total_value"),
          round(avg((col("s_end") - col("s_start")) / 1e6), 2)
            .as("avg_session_sec"))
        .filter(col("user_id") < 50)
        .orderBy(col("user_id"))
    }),

    // Streaming first-arrival dedup, batch twin (the SAME deterministic
    // semantics an ordered replay of StreamingDedup.firstArrival
    // emits — per (user_id, event_type) the smallest (ts, event_id)
    // row survives; the streaming arms run in StreamingSuite against
    // this twin). Summarized per event type so the oracle compares a
    // stable aggregate of the 10000→750-row dedup. The oracle ranks
    // survivors by epoch_us(ts) — the qa7 convention above — so both
    // engines pick the SAME survivor regardless of the fixture's
    // physical ts resolution (Spark truncates a ns-typed fixture to
    // µs; ranking by raw ts in DuckDB could pick a different survivor
    // for keys tied at µs but distinct at ns).
    "q3w_streaming_dedup" -> ((s, dir) => {
      val deduped = graft.streaming.StreamingDedup.firstArrivalBatch(
        s.table("events"),
        Seq("user_id", "event_type"), "ts", "event_id")
      deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("id_sum"),
          round(sum(col("value")), 4).as("kept_value"))
        .orderBy(col("event_type"))
    }),

    // Stream-static enrichment, batch twin of EventStream.enrich (the
    // SAME function — the gate runs the streaming code path's join
    // against the differential oracle): events left-joined to the
    // customer dimension by user key, rolled up per nation. The static
    // side broadcasts (dim-sized); a 100 TB stream pays no shuffle and
    // keeps no state.
    "qn8_event_enrichment" -> ((s, dir) => {
      val dim = s.table("customer")
        .withColumnRenamed("c_custkey", "user_id")
      graft.streaming.EventStream
        .enrich(s.table("events"), dim)
        .join(s.table("nation"),
          col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(coalesce(col("n_name"), lit("UNKNOWN")).as("n_name"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_name"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "qa6_event_windows" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS w_start, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events
        |WHERE hour(date_trunc('hour', ts)) < 6
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "qb8_time_range_window" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 4) AS v_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |QUALIFY user_id < 10
        |ORDER BY event_id""".stripMargin,

    "qa7_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |             > 360 * 60 * 1000000::BIGINT
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    sum(value) AS sv, min(us) AS s_start, max(us) AS s_end
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(max(n_events) AS BIGINT) AS max_session_events,
        |  round(sum(sv), 4) AS total_value,
        |  round(avg((s_end - s_start) / 1e6), 2) AS avg_session_sec
        |FROM sess WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q3w_streaming_dedup" ->
      """SELECT event_type, count(*) AS n_kept,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(sum(value), 4) AS kept_value
        |FROM (
        |  SELECT * FROM events
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) = 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "qn8_event_enrichment" ->
      """SELECT coalesce(n_name, 'UNKNOWN') AS n_name,
        |  count(*) AS n_events,
        |  round(sum(value), 4) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e
        |LEFT JOIN customer c ON e.user_id = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
