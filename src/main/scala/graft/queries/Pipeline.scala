package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.operators._
import graft.sources.Tables

/** Pack B — the reference's pipeline semantics as Spark operators
  * (SURVEY.md §2.B), exercised over the `events` table. Each query
  * drives a reusable operator from graft.operators / graft.functions;
  * the DuckDB oracle mirrors the semantics exactly.
  *
  * Canonical event time is `ts_ms` (epoch millis BIGINT — see
  * sources.Tables: events.parquet carries ns timestamps that Spark
  * and DuckDB floor identically to ms), so no timestamp-precision
  * ambiguity ever reaches the correctness gate.
  */
object LedgerDefaults {
  /** jobdb.maxRetryNumber analogue (viper-configurable in the
    * reference) — retry-eligibility bound. Sized to the testdata's
    * error distribution so the retry view is non-degenerate. */
  val MaxRetry = 25
  /** Abort threshold for the dead-letter view. */
  val DlqAfter = 3
  /** Suppression threshold (gateway drop of chronically-failing
    * sources) — higher than DlqAfter so the suppressed set is a
    * strict subset of "ever dead-lettered". */
  val SuppressAfter = 10
}

object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  private val tsMsSql = "epoch_ns(ts)//1000000"

  // ------------------------------------------------------ p_field_map
  private val fieldMap: Q = (s, d) =>
    TransformRules(
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value", "ts_ms"),
      Seq(FieldMap("event_id", "message_id"), FieldMap("user_id", "actor_id"),
        FieldMap("event_type", "action"), FieldMap("value", "amount")))
      .orderBy("message_id")

  private val fieldMapSql =
    s"""SELECT event_id AS message_id, user_id AS actor_id, event_type AS action,
       | value AS amount, $tsMsSql AS ts_ms
       |FROM events ORDER BY message_id""".stripMargin

  // ----------------------------------------------------- p_field_hide
  private val fieldHide: Q = (s, d) =>
    TransformRules(
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value", "ts_ms", "props"),
      Seq(FieldHide("props")))
      .orderBy("event_id")

  private val fieldHideSql =
    s"""SELECT event_id, user_id, event_type, value, $tsMsSql AS ts_ms
       |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------- p_field_delete
  private val fieldDelete: Q = (s, d) =>
    TransformRules(
      Tables.events(s, d).select("event_id", "user_id", "event_type", "ts_ms"),
      Seq(FieldDelete("event_type", "error")))
      .orderBy("event_id")

  private val fieldDeleteSql =
    s"""SELECT event_id, user_id, event_type, $tsMsSql AS ts_ms
       |FROM events WHERE event_type <> 'error' ORDER BY event_id""".stripMargin

  // ------------------------------------------------- p_cast_semantics
  private val castSemantics: Q = (s, d) => {
    import graft.functions.KassetteCasts._
    val ev = Tables.events(s, d)
    ev.select(
      col("event_id"),
      toInt(col("value"), DoubleType).as("int_val"),
      toInt(regexp_extract(col("props"), "\"k\": (\\d+)", 1), StringType).as("k_int"),
      toBool(col("event_type"), StringType).as("bool_val"),
      toInt(col("event_type") === "error", BooleanType).as("flag_int"),
      toStringCol(col("value")).as("str_val"))
      .orderBy("event_id")
  }

  private val castSemanticsSql =
    """SELECT event_id,
      | CAST(TRUNC(value) AS BIGINT) AS int_val,
      | TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_int,
      | event_type = 'true' AS bool_val,
      | CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT) AS flag_int,
      | CAST(value AS VARCHAR) AS str_val
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------ p_json_extract
  // Typed JSON payload extraction (the processor parses event
  // payloads with gjson; Spark-first that's from_json with a schema
  // so Catalyst prunes and codegens the access).
  private val jsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("_p", from_json(col("props"), StructType(Seq(
        StructField("k", LongType)))))
      .select(col("event_id"), col("_p.k").as("k"),
        (col("_p.k") % 10).as("k_mod"))
      .orderBy("event_id")

  private val jsonExtractSql =
    """SELECT event_id,
      | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      | CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------- p_envelope
  // Gateway enveloping: MD5 message ids (misc.go:91 GetMD5UUID),
  // receivedAt stamping, request_ip (gateway.go / processor.go:199).
  private val envelope: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      md5(concat(lit("evt:"), col("event_id").cast(StringType), lit(":"), col("event_type"))).as("message_id"),
      (col("ts_ms") + 250L).as("received_ms"),
      lit("127.0.0.1").as("request_ip"))
      .orderBy("event_id")

  private val envelopeSql =
    s"""SELECT event_id,
       | md5('evt:' || CAST(event_id AS VARCHAR) || ':' || event_type) AS message_id,
       | $tsMsSql + 250 AS received_ms,
       | '127.0.0.1' AS request_ip
       |FROM events ORDER BY event_id""".stripMargin

  // ----------------------------------------------- p_timestamp_skew
  // processor.go:205: timestamp = receivedAt - (sentAt - originalTimestamp).
  // sentAt/receivedAt derived deterministically from the event payload.
  private val tsSkew: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("orig_ms", col("ts_ms"))
      // Spark double→long cast truncates toward zero (DuckDB CAST
      // rounds, hence TRUNC on the oracle side)
      .withColumn("sent_ms", col("ts_ms") + expr("cast(value * 1000 as bigint)"))
      .withColumn("recv_ms", col("sent_ms") + 250L)
    ev.select(col("event_id"), col("orig_ms"), col("sent_ms"), col("recv_ms"),
        (col("recv_ms") - (col("sent_ms") - col("orig_ms"))).as("fixed_ms"))
      .orderBy("event_id")
  }

  private val tsSkewSql =
    s"""WITH t AS (SELECT event_id, $tsMsSql AS orig_ms,
       |  $tsMsSql + CAST(TRUNC(value * 1000) AS BIGINT) AS sent_ms
       | FROM events)
       |SELECT event_id, orig_ms, sent_ms, sent_ms + 250 AS recv_ms,
       | (sent_ms + 250) - (sent_ms - orig_ms) AS fixed_ms
       |FROM t ORDER BY event_id""".stripMargin

  // ------------------------------------------------- p_sessionize
  private val sessionize: Q = (s, d) =>
    Sessionize.summarize(Tables.events(s, d), "user_id", "ts_ms",
        gapMs = 1800000L, orderCols = Seq("ts_ms", "event_id"))
      .orderBy("user_id", "session_seq")

  private val sessionizeSql =
    s"""WITH g AS (
       | SELECT user_id, event_id, $tsMsSql AS ts_ms,
       |  CASE WHEN LAG($tsMsSql) OVER w IS NULL
       |        OR $tsMsSql - LAG($tsMsSql) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
       | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY $tsMsSql, event_id)),
       |sess AS (
       | SELECT user_id, ts_ms,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       | FROM g)
       |SELECT user_id, session_seq, COUNT(*) AS n_events,
       | MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
       |FROM sess GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // ---------------------------------------------- p_backfill_gaps
  // Dimension densification: materialize the missing (user, day) grid
  // so downstream rollups see explicit zero days (the reporting-feed
  // backfill every audit pipeline needs). Spark-first: per-user
  // sequence() + explode + left-anti — no driver loop, one shuffle.
  private val backfillGaps: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("day", (col("ts_ms") / 86400000L).cast("long"))
    val active = ev.select("user_id", "day").distinct()
    val span = ev.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(active, Seq("user_id", "day"), "left_anti")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gap_days"), min(col("day")).as("first_gap_day"))
      .orderBy("user_id")
  }

  private val backfillGapsSql =
    s"""WITH ev AS (SELECT user_id, $tsMsSql // 86400000 AS d FROM events),
       |active AS (SELECT DISTINCT user_id, d FROM ev),
       |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM ev GROUP BY user_id),
       |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS d FROM span)
       |SELECT g.user_id, COUNT(*) AS n_gap_days, MIN(g.d) AS first_gap_day
       |FROM grid g LEFT JOIN active a ON g.user_id = a.user_id AND g.d = a.d
       |WHERE a.user_id IS NULL
       |GROUP BY g.user_id ORDER BY g.user_id""".stripMargin

  // ---------------------------------------------- p_session_split
  // Gap sessions sub-split every 5 events (sessionThresholdEvents,
  // processor.go:380) — summary per (user, session, part).
  private val sessionSplit: Q = (s, d) =>
    Sessionize.withMaxEvents(Tables.events(s, d), "user_id", "ts_ms",
        gapMs = 1800000L, maxEvents = 5, orderCols = Seq("ts_ms", "event_id"))
      .groupBy("user_id", "session_seq", "session_part")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
      .orderBy("user_id", "session_seq", "session_part")

  private val sessionSplitSql =
    s"""WITH g AS (
       | SELECT user_id, event_id, $tsMsSql AS ts_ms,
       |  CASE WHEN LAG($tsMsSql) OVER w IS NULL
       |        OR $tsMsSql - LAG($tsMsSql) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
       | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY $tsMsSql, event_id)),
       |sess AS (
       | SELECT user_id, event_id, ts_ms,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       | FROM g),
       |parts AS (
       | SELECT user_id, session_seq, ts_ms,
       |  (ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
       |                      ORDER BY ts_ms, event_id) - 1) // 5 AS session_part
       | FROM sess)
       |SELECT user_id, session_seq, session_part, COUNT(*) AS n_events,
       | MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
       |FROM parts GROUP BY user_id, session_seq, session_part
       |ORDER BY user_id, session_seq, session_part""".stripMargin

  // -------------------------------------------- p_job_latest_status
  private val latestStatus: Q = (s, d) =>
    JobLedger.latest(Tables.events(s, d), "user_id", "event_type", "ts_ms", "event_id")
      .orderBy("user_id")

  private val latestStatusSql =
    s"""SELECT user_id, event_type AS last_event_type, ts_ms AS last_ms FROM (
       | SELECT user_id, event_type, $tsMsSql AS ts_ms,
       |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $tsMsSql DESC, event_id DESC) AS rn
       | FROM events) t
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------ p_retry_select
  private val retrySelect: Q = (s, d) =>
    JobLedger.toRetry(Tables.events(s, d), "user_id", "event_type", "ts_ms",
        "event_id", failedValue = "error", maxRetry = LedgerDefaults.MaxRetry)
      .orderBy("user_id")

  private val retrySelectSql =
    s"""WITH latest AS (
       | SELECT user_id, event_type AS last_event, ts_ms AS last_ms FROM (
       |  SELECT user_id, event_type, $tsMsSql AS ts_ms,
       |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $tsMsSql DESC, event_id DESC) AS rn
       |  FROM events) t WHERE rn = 1),
       |errs AS (
       | SELECT user_id, COUNT(*) AS attempts FROM events
       | WHERE event_type = 'error' GROUP BY user_id)
       |SELECT l.user_id, e.attempts, l.last_ms
       |FROM latest l JOIN errs e ON l.user_id = e.user_id
       |WHERE l.last_event = 'error' AND e.attempts < ${LedgerDefaults.MaxRetry}
       |ORDER BY l.user_id""".stripMargin

  // ------------------------------------------------ p_dlq_aborted
  private val dlq: Q = (s, d) =>
    JobLedger.deadLetter(Tables.events(s, d), "user_id", "event_type", "ts_ms",
        failedValue = "error", maxRetry = LedgerDefaults.DlqAfter)
      .orderBy("user_id")

  private val dlqSql =
    s"""SELECT user_id, COUNT(*) AS attempts,
       | MIN($tsMsSql) AS first_fail_ms, MAX($tsMsSql) AS last_fail_ms
       |FROM events WHERE event_type = 'error'
       |GROUP BY user_id HAVING COUNT(*) >= ${LedgerDefaults.DlqAfter}
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------- p_router_fanout
  private val routerFanout: Q = (s, d) =>
    Router.fanoutStats(Tables.events(s, d), "event_type", "value", "user_id")
      .orderBy("event_type")

  private val routerFanoutSql =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_amount,
      | COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------- p_gateway_batch
  // gateway.go:144 webRequestBatcher: close a batch at maxBatchSize
  // OR when batchTimeout passes with no arrival — replayed over event
  // time as gap-run sessionization + size split (one shuffle on the
  // source key, both window passes share the exchange).
  private val gatewayBatch: Q = (s, d) =>
    Router.gatewayBatches(Tables.events(s, d), "event_type", "ts_ms",
        "event_id", batchTimeoutMs = 3600000L, maxBatchSize = 20)
      .orderBy("event_type", "run_seq", "batch_part")

  private val gatewayBatchSql =
    s"""WITH e AS (
       |  SELECT event_type, event_id, $tsMsSql AS ts_ms FROM events),
       |b AS (
       |  SELECT event_type, event_id, ts_ms,
       |   CASE WHEN lag(ts_ms) OVER w IS NULL
       |     OR ts_ms - lag(ts_ms) OVER w > 3600000 THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id)),
       |s AS (
       |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY event_type
       |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_seq FROM b),
       |p AS (
       |  SELECT *, (ROW_NUMBER() OVER (PARTITION BY event_type, run_seq
       |    ORDER BY ts_ms, event_id) - 1) // 20 AS batch_part FROM s)
       |SELECT event_type, run_seq, batch_part, COUNT(*) AS n_in_batch,
       | MIN(event_id) AS first_id, MAX(event_id) AS last_id,
       | MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
       |FROM p GROUP BY event_type, run_seq, batch_part
       |ORDER BY event_type, run_seq, batch_part""".stripMargin

  // ---------------------------------------------- p_rollup_merge
  // Incremental-view maintenance identity: per-(type, day) partial
  // summaries merged down to per-type totals must equal a direct
  // aggregation of the raw events — the oracle computes the direct
  // form, so the hash proves merge associativity on real data. This
  // is the update path for a running summary fed by HighWaterMark
  // windows: each poll contributes a partial, merge folds it in.
  private val rollupMerge: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("day", expr("ts_ms div 86400000"))
    val daily = IncrementalAgg.partial(ev, Seq("event_type", "day"), "value")
    IncrementalAgg.render(IncrementalAgg.merge(daily, Seq("event_type")))
      .select(col("event_type"), col("n_events"), col("total_value"),
        col("min_value"), col("max_value"))
      .orderBy("event_type")
  }

  private val rollupMergeSql =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      | MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------- p_batch_assign
  private val batchAssign: Q = (s, d) =>
    Router.batchSummary(Tables.events(s, d), "event_type", "event_id", size = 10)
      .orderBy("event_type", "batch_id")

  private val batchAssignSql =
    """SELECT event_type, batch_id, COUNT(*) AS n_in_batch,
      | MIN(event_id) AS first_id, MAX(event_id) AS last_id
      |FROM (
      | SELECT event_type, event_id,
      |  (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 10 AS batch_id
      | FROM events) t
      |GROUP BY event_type, batch_id ORDER BY event_type, batch_id""".stripMargin

  // ----------------------------------------- p_incremental_window
  // camunda/extract.go:140-151: poll the [from, to) window, tag each
  // record with its kassetteType. 2024-01-10T00:00:00Z .. +1 day.
  private val incremental: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("ts_ms") >= 1704844800000L && col("ts_ms") < 1704931200000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"),
        lit("activity-instance").as("kassette_type"))
      .orderBy("event_id")

  private val incrementalSql =
    s"""SELECT event_id, user_id, event_type, $tsMsSql AS ts_ms,
       | 'activity-instance' AS kassette_type
       |FROM events
       |WHERE $tsMsSql >= 1704844800000 AND $tsMsSql < 1704931200000
       |ORDER BY event_id""".stripMargin

  // -------------------------------------------------- p_dedup_exact
  private val dedupExact: Q = (s, d) =>
    Dedup.keepFirst(Tables.events(s, d), Seq("user_id", "event_type"),
        orderCol = "event_id", tsMsCol = "ts_ms")
      .orderBy("user_id", "event_type")

  private val dedupExactSql =
    s"""SELECT user_id, event_type, MIN(event_id) AS keeper_id,
       | COUNT(*) AS n_dups, MIN($tsMsSql) AS first_ms
       |FROM events GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------- p_source_freshness
  // Per-source freshness lag vs the pipeline high-water mark
  // (jobsdb.go JobHealthT freshness angle, per event type): one
  // partial-agg shuffle + a broadcast scalar join for the global max.
  private val sourceFreshness: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val perSource = ev.groupBy("event_type")
      .agg(max(col("ts_ms")).as("last_ms"), count(lit(1)).as("n_events"))
    val global = ev.agg(max(col("ts_ms")).as("hwm_ms"))
    perSource.join(broadcast(global))
      .select(col("event_type"), col("n_events"), col("last_ms"),
        (col("hwm_ms") - col("last_ms")).as("lag_ms"))
      .orderBy("event_type")
  }

  private val sourceFreshnessSql =
    s"""WITH e AS (SELECT event_type, $tsMsSql AS ts_ms FROM events),
       |g AS (SELECT MAX(ts_ms) AS hwm_ms FROM e)
       |SELECT event_type, COUNT(*) AS n_events, MAX(ts_ms) AS last_ms,
       | g.hwm_ms - MAX(ts_ms) AS lag_ms
       |FROM e, g GROUP BY event_type, g.hwm_ms
       |ORDER BY event_type""".stripMargin

  // ------------------------------------------------- p_hopping_rate
  // Hopping-window event rates (2 h window, 1 h hop) via the native
  // window() expression — each event lands in exactly w/hop windows
  // row-locally (projection expansion), then one partial-agg shuffle.
  // The oracle expands the same windows with generate_series.
  private val hoppingRate: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("event_type"), col("n"))
      .orderBy("win_start_ms", "event_type")

  private val hoppingRateSql =
    s"""WITH e AS (SELECT $tsMsSql AS ts_ms, event_type FROM events),
       |x AS (SELECT ts_ms, event_type,
       |        unnest(generate_series(ts_ms // 3600000 - 1, ts_ms // 3600000, 1))
       |          * 3600000 AS win_start_ms
       |      FROM e)
       |SELECT win_start_ms, event_type, COUNT(*) AS n
       |FROM x WHERE win_start_ms <= ts_ms AND ts_ms < win_start_ms + 7200000
       |GROUP BY win_start_ms, event_type
       |ORDER BY win_start_ms, event_type""".stripMargin

  // -------------------------------------------------- p_unprocessed
  // jobsdb GetUnprocessed: (user, day) job groups with no terminal
  // 'purchase' status that day — the queue-scan that feeds the
  // processor main loop, as one anti-join instead of polling.
  private val unprocessedQ: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("day", expr("ts_ms div 86400000"))
    JobLedger.unprocessed(ev, Seq("user_id", "day"), "event_type",
        terminalValue = "purchase", tsMsCol = "ts_ms")
      .orderBy("user_id", "day")
  }

  private val unprocessedSql =
    s"""WITH e AS (SELECT user_id, ($tsMsSql) // 86400000 AS day, event_type,
       |                  $tsMsSql AS ts_ms FROM events)
       |SELECT user_id, day, COUNT(*) AS n_pending,
       | MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms
       |FROM e ev
       |WHERE NOT EXISTS (SELECT 1 FROM e t
       |  WHERE t.user_id = ev.user_id AND t.day = ev.day
       |    AND t.event_type = 'purchase')
       |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------- p_dedup_ttl
  // Gateway dedup with an expiring id store: keep-first per
  // (user, event type) within 1-day TTL buckets — stateless bucketed
  // equivalent of a TTL'd dedup cache, one partial-agg shuffle.
  private val dedupTtl: Q = (s, d) =>
    Dedup.keepFirstWithinTtl(Tables.events(s, d), Seq("user_id", "event_type"),
        orderCol = "event_id", tsMsCol = "ts_ms", ttlMs = 86400000L)
      .orderBy("user_id", "event_type", "ttl_bucket")

  private val dedupTtlSql =
    s"""SELECT user_id, event_type, ($tsMsSql) // 86400000 AS ttl_bucket,
       | MIN(event_id) AS keeper_id, COUNT(*) AS n_dups, MIN($tsMsSql) AS first_ms
       |FROM events GROUP BY user_id, event_type, ttl_bucket
       |ORDER BY user_id, event_type, ttl_bucket""".stripMargin

  // ----------------------------------------------- p_schema_project
  private val schemaProject: Q = (s, d) =>
    TransformRules.projectToSchema(
      Tables.events(s, d),
      TableSchema("dest_events", Seq(
        SchemaField("event_id", "INT", primaryKey = true),
        SchemaField("event_type", "STRING"),
        SchemaField("value", "FLOAT"))))
      .orderBy("event_id")

  private val schemaProjectSql =
    """SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------ p_health_report
  // JobHealthT view (jobsdb.go:51-59): per source shard, delivery
  // totals + error rate + freshness — the feed-health report the
  // reference's web portal renders.
  private val healthReport: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("source_shard", col("user_id") % 4)
      .groupBy("source_shard")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        round(sum(when(col("event_type") === "error", 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("error_rate"),
        max(col("ts_ms")).as("freshest_ms"))
      .orderBy("source_shard")

  private val healthReportSql =
    s"""SELECT user_id % 4 AS source_shard,
       | COUNT(*) AS n_events,
       | COUNT(DISTINCT user_id) AS n_users,
       | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       | ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
       |   / COUNT(*), 4) AS error_rate,
       | MAX($tsMsSql) AS freshest_ms
       |FROM events GROUP BY user_id % 4 ORDER BY source_shard""".stripMargin

  // ------------------------------------------------ p_writekey_auth
  // Gateway writeKey auth (gateway.go:656-693 getPayloadAndWriteKey /
  // configdb Authenticate): only events whose key resolves to an
  // enabled source pass. Config is a broadcast lookup; the filter is
  // a semi-join Catalyst collapses into the scan.
  private val writekeyAuth: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val sources = broadcast(
      ev.select(col("user_id")).distinct()
        .withColumn("enabled", col("user_id") % 7 =!= 0)
        .filter(col("enabled")))
    ev.join(sources.select("user_id"), Seq("user_id"), "left_semi")
      .groupBy("user_id").agg(count(lit(1)).as("n_accepted"))
      .orderBy("user_id")
  }

  private val writekeyAuthSql =
    """SELECT user_id, COUNT(*) AS n_accepted FROM events
      |WHERE user_id % 7 <> 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------ p_payload_size
  // Payload accounting + truncation helpers (misc.go:43-56
  // TruncateStr/TailTruncateStr, jobsdb PayloadSize).
  private val payloadSize: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      length(col("props")).cast("long").as("payload_bytes"),
      substring(col("props"), 1, 6).as("head_trunc"),
      substring(col("props"), -4, 4).as("tail_trunc"),
      (length(col("props")).cast("long") / 4L).cast("long").as("size_bucket"))
      .orderBy("event_id")

  private val payloadSizeSql =
    """SELECT event_id,
      | length(props) AS payload_bytes,
      | substr(props, 1, 6) AS head_trunc,
      | substr(props, length(props) - 3, 4) AS tail_trunc,
      | length(props) // 4 AS size_bucket
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------- p_event_rate
  // Gateway per-source rate accounting: daily counts + running total
  // (stats.go counters as a windowed view).
  private val eventRate: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .withColumn("day", (col("ts_ms") / 86400000L).cast("long"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_events", sum(col("n_events")).over(w))
      .orderBy("user_id", "day")
  }

  private val eventRateSql =
    s"""WITH daily AS (
       | SELECT user_id, $tsMsSql // 86400000 AS day, COUNT(*) AS n_events
       | FROM events GROUP BY user_id, $tsMsSql // 86400000)
       |SELECT user_id, day, n_events,
       | CAST(SUM(n_events) OVER (PARTITION BY user_id ORDER BY day
       |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
       |FROM daily ORDER BY user_id, day""".stripMargin

  // ------------------------------------------------ p_suppression
  // Request suppression (gateway.go:752 errRequestSuppressed): events
  // from dead-lettered users are dropped — anti-join against the DLQ.
  private val suppression: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val dlqUsers = JobLedger.deadLetter(ev, "user_id", "event_type", "ts_ms",
      "error", LedgerDefaults.SuppressAfter).select("user_id")
    ev.join(dlqUsers, Seq("user_id"), "left_anti")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  private val suppressionSql =
    s"""SELECT user_id, COUNT(*) AS n_events FROM events
       |WHERE user_id NOT IN (
       | SELECT user_id FROM events WHERE event_type = 'error'
       | GROUP BY user_id HAVING COUNT(*) >= ${LedgerDefaults.SuppressAfter})
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------- p_catalogue_pivot
  // Per-user destination matrix (the portal's connection overview):
  // conditional-aggregation pivot, single shuffle.
  private val cataloguePivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"))
      .orderBy("user_id")

  private val cataloguePivotSql =
    """SELECT user_id,
      | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------- p_asof_join
  // Backward as-of join: each purchase picks up the user's most
  // recent prior (or simultaneous) view — the attribution join every
  // event pipeline needs; DuckDB's native ASOF JOIN is the oracle.
  private val asofJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts_ms")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts_ms"))
    AsOfJoin.backward(purchases, views, "user_id", "ts_ms", "ts_ms",
        rightPayload = Seq("view_id"), rightTiebreak = Some("view_id"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("asof_view_id").as("view_id"), col("asof_ts").as("view_ms"))
      .orderBy("event_id")
  }

  // --------------------------------------------- p_interval_join
  // All views within the hour before each purchase (attribution
  // WINDOW, not just the nearest view): bucketed time-band join —
  // the left side explodes to ≤2 hour-buckets, the shuffle key is
  // (user, bucket), so one hyperactive user spreads across buckets.
  private val intervalJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts_ms")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts_ms").as("vts"))
    IntervalJoin.bucketed(purchases, views, "user_id", "ts_ms", "vts",
        beforeMs = 3600000L, afterMs = 0L, rightPayload = Seq("view_id"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("r_view_id").as("view_id"), col("_rts").as("view_ms"))
      .orderBy("event_id", "view_id")
  }

  private val intervalJoinSql =
    s"""SELECT p.event_id, p.user_id, p.ts_ms, v.view_id, v.ts_ms AS view_ms
       |FROM (SELECT user_id, event_id, $tsMsSql AS ts_ms FROM events
       |      WHERE event_type = 'purchase') p
       |JOIN (SELECT user_id, event_id AS view_id, $tsMsSql AS ts_ms
       |      FROM events WHERE event_type = 'view') v
       |  ON p.user_id = v.user_id
       | AND v.ts_ms BETWEEN p.ts_ms - 3600000 AND p.ts_ms
       |ORDER BY p.event_id, v.view_id""".stripMargin

  // ---------------------------------------------- p_asof_forward
  // Forward as-of: each purchase picks the user's NEXT view at or
  // after the purchase (follow-up behavior analysis). Same union +
  // one-shuffle window scan as backward, descending.
  private val asofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts_ms")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts_ms"))
    AsOfJoin.forward(purchases, views, "user_id", "ts_ms", "ts_ms",
        rightPayload = Seq("view_id"), rightTiebreak = Some("view_id"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("asof_view_id").as("view_id"), col("asof_ts").as("view_ms"))
      .orderBy("event_id")
  }

  private val asofForwardSql =
    s"""SELECT p.event_id, p.user_id, p.ts_ms, v.view_id, v.ts_ms AS view_ms
       |FROM (SELECT user_id, event_id, $tsMsSql AS ts_ms FROM events
       |      WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT user_id, event_id AS view_id, $tsMsSql AS ts_ms
       |      FROM events WHERE event_type = 'view') v
       |  ON p.user_id = v.user_id AND v.ts_ms >= p.ts_ms
       |ORDER BY p.event_id""".stripMargin

  private val asofJoinSql =
    s"""SELECT p.event_id, p.user_id, p.ts_ms, v.view_id, v.ts_ms AS view_ms
       |FROM (SELECT user_id, event_id, $tsMsSql AS ts_ms FROM events
       |      WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT user_id, event_id AS view_id, $tsMsSql AS ts_ms
       |      FROM events WHERE event_type = 'view') v
       |  ON p.user_id = v.user_id AND v.ts_ms <= p.ts_ms
       |ORDER BY p.event_id""".stripMargin

  // --------------------------------------------------------- p_scd2
  // SCD Type-2 dimension history from the append-only ledger: one
  // row per state RUN per user with [valid_from, valid_to) validity
  // — the warehouse history table the reference's row-UPDATE
  // lifecycle (jobsdb.go status transitions) implies. One shuffle on
  // user_id; all four window/agg passes ride it (plan-audited).
  private val scd2: Q = (s, d) =>
    JobLedger.scd2History(Tables.events(s, d),
        "user_id", "event_type", "ts_ms", "event_id")
      .orderBy("user_id", "version")

  private val scd2Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, $tsMsSql AS ts_ms, event_id FROM events),
       |c AS (
       |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
       |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |r AS (
       |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
       |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
       |  FROM c),
       |v AS (
       |  SELECT user_id, version, MIN(event_type) AS state,
       |   MIN(ts_ms) AS valid_from_ms, COUNT(*) AS n_events
       |  FROM r GROUP BY user_id, version)
       |SELECT user_id, version, state, valid_from_ms,
       | LEAD(valid_from_ms) OVER wv AS valid_to_ms,
       | LEAD(valid_from_ms) OVER wv IS NULL AS is_current,
       | n_events
       |FROM v WINDOW wv AS (PARTITION BY user_id ORDER BY version)
       |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------- p_retry_backoff
  // The router's retry scheduler as a batch view (router.go
  // JobsRequestWorker + jobsdb AbortedState): per failing job,
  // attempt count and the EXPONENTIAL-BACKOFF next-retry time
  // (base·2^(attempts−1), exponent capped), or a terminal abort past
  // maxRetry — the batch twin of streaming retryBackoffStream, same
  // semantics the two ledger views (p_retry_select / p_dlq_aborted)
  // split on. Integer-exact: the schedule is shiftleft on BIGINTs,
  // no FP pow. One partial-agg shuffle.
  private val retryBackoff: Q = (s, d) =>
    Tables.events(s, d).filter(col("event_type") === "error")
      .groupBy("user_id")
      .agg(count(lit(1)).as("attempts"), max("ts_ms").as("last_fail_ms"))
      .select(col("user_id"), col("attempts"), col("last_fail_ms"),
        when(col("attempts") >= LedgerDefaults.MaxRetry, "aborted")
          .otherwise("waiting_retry").as("state"),
        when(col("attempts") >= LedgerDefaults.MaxRetry, lit(null).cast("long"))
          .otherwise(expr(
            "last_fail_ms + 1000L * shiftleft(1L, cast(least(attempts - 1, 20) as int))"))
          .as("next_retry_ms"))
      .orderBy("user_id")

  private val retryBackoffSql =
    s"""WITH a AS (
       | SELECT user_id, COUNT(*) AS attempts, MAX($tsMsSql) AS last_fail_ms
       | FROM events WHERE event_type = 'error' GROUP BY user_id)
       |SELECT user_id, attempts, last_fail_ms,
       | CASE WHEN attempts >= ${LedgerDefaults.MaxRetry} THEN 'aborted'
       |      ELSE 'waiting_retry' END AS state,
       | CASE WHEN attempts >= ${LedgerDefaults.MaxRetry} THEN NULL
       |      ELSE last_fail_ms
       |        + 1000 * (CAST(1 AS BIGINT) << LEAST(attempts - 1, 20)) END
       |   AS next_retry_ms
       |FROM a ORDER BY user_id""".stripMargin

  // ---------------------------------------------- p_funnel_steps
  // Ordered conversion funnel (view → click → purchase per user):
  // the journey analytics a pipeline server's warehouse activation
  // feeds. Stage k counts users whose first qualifying stage-k event
  // STRICTLY follows their first qualifying stage-(k-1) event.
  // Execution: three chained running-min window passes on the SAME
  // (user)-partitioned (ts, id)-ordered exchange (the final running
  // min of a prefix-min IS the global qualifying min, so the per-user
  // agg needs no second pass over events) + one user-level agg — one
  // shuffle total, no self-joins (the naive form is a 3-way
  // self-join on user). Lag sums are exact BIGINT millisecond sums.
  private val funnelSteps: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val staged = Tables.events(s, d)
      .withColumn("fv", min(when(col("event_type") === "view", col("ts_ms"))).over(w))
      .withColumn("fc", min(when(col("event_type") === "click"
        && col("fv").isNotNull && col("ts_ms") > col("fv"), col("ts_ms"))).over(w))
      .withColumn("fp", min(when(col("event_type") === "purchase"
        && col("fc").isNotNull && col("ts_ms") > col("fc"), col("ts_ms"))).over(w))
    val users = staged.groupBy("user_id").agg(
      min(col("fv")).as("view_ts"), min(col("fc")).as("click_ts"),
      min(col("fp")).as("purchase_ts"))
    // ONE conditional aggregation (count skips nulls, sum skips
    // null lags) then unpivot to stage rows — a per-stage
    // filter+agg union would recompute the window pipeline 3×
    users.agg(
        count(col("view_ts")).as("n1"),
        count(col("click_ts")).as("n2"),
        count(col("purchase_ts")).as("n3"),
        sum(col("click_ts") - col("view_ts")).as("l2"),
        sum(col("purchase_ts") - col("view_ts")).as("l3"))
      .select(expr(
        "stack(3, '1_view', n1, 0L, '2_click', n2, l2, '3_purchase', n3, l3)" +
          " as (stage, n_users, sum_lag_ms)"))
      .orderBy("stage")
  }

  private val funnelStepsSql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, $tsMsSql AS ts_ms, event_id FROM events),
       |s1 AS (
       |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_ms END) OVER w AS fv
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS UNBOUNDED PRECEDING)),
       |s2 AS (
       |  SELECT *, MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
       |    AND ts_ms > fv THEN ts_ms END) OVER w AS fc
       |  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS UNBOUNDED PRECEDING)),
       |s3 AS (
       |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
       |    AND ts_ms > fc THEN ts_ms END) OVER w AS fp
       |  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS UNBOUNDED PRECEDING)),
       |u AS (
       |  SELECT user_id, MIN(fv) AS view_ts, MIN(fc) AS click_ts,
       |   MIN(fp) AS purchase_ts
       |  FROM s3 GROUP BY user_id)
       |SELECT '1_view' AS stage, COUNT(*) AS n_users,
       |  CAST(0 AS BIGINT) AS sum_lag_ms FROM u WHERE view_ts IS NOT NULL
       |UNION ALL
       |SELECT '2_click', COUNT(*),
       |  CAST(SUM(click_ts - view_ts) AS BIGINT) FROM u WHERE click_ts IS NOT NULL
       |UNION ALL
       |SELECT '3_purchase', COUNT(*),
       |  CAST(SUM(purchase_ts - view_ts) AS BIGINT) FROM u WHERE purchase_ts IS NOT NULL
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------- p_salted_agg
  // The skew toolkit's two-phase salted aggregation proven in the
  // gate: per-type counts + decimal-exact value totals computed via
  // (key, deterministic-salt) partials must hash-equal the oracle's
  // plain GROUP BY — salting changes the execution shape (no reducer
  // ever sees a whole hot key), never the result.
  private val saltedAggQ: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("v", col("value").cast(DecimalType(12, 2)))
    Salting.saltedAgg(ev, "event_type", "v", "event_id", buckets = 16)
      .select(col("event_type"), col("n"),
        col("total").cast(DoubleType).as("total_value"))
      .orderBy("event_type")
  }

  private val saltedAggSql =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------- p_merge_upsert
  // Delta-style SCD1 merge without Delta: a base snapshot (latest
  // state per key up to day 15) merged with an update stream (later
  // events) — updates win, new keys insert. The jobsdb dataset-
  // migration analogue (jobsdb.go migrateDS): union + argmax, fully
  // partial-agg, no MERGE transaction needed at rest.
  private val mergeUpsert: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cutoff = 1705276800000L // 2024-01-15T00:00:00Z
    val base = JobLedger.latest(ev.filter(col("ts_ms") < cutoff),
      "user_id", "event_type", "ts_ms", "event_id")
    val updates = JobLedger.latest(ev.filter(col("ts_ms") >= cutoff),
      "user_id", "event_type", "ts_ms", "event_id")
    base.withColumn("_src", lit(0)).unionByName(updates.withColumn("_src", lit(1)))
      .groupBy("user_id")
      .agg(max(struct(col("_src"), col("last_ms"), col("last_event_type"))).as("_top"))
      .select(col("user_id"), col("_top.last_event_type").as("state"),
        col("_top.last_ms").as("state_ms"))
      .orderBy("user_id")
  }

  private val mergeUpsertSql =
    s"""WITH ranked AS (
       | SELECT user_id, event_type, $tsMsSql AS ts_ms,
       |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $tsMsSql DESC, event_id DESC) AS rn
       | FROM events)
       |SELECT user_id, event_type AS state, ts_ms AS state_ms
       |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------- p_ack_ledger
  // The router delivery loop CLOSED over acks (router.go
  // JobsRequestWorker response handling): envelopes from the
  // deterministic batcher, an ack stream synthesized content-hash-
  // deterministically from the envelope ids (attempt count and final
  // code derived from first_id — both engines reproduce it exactly),
  // and Router.ackLedger mapping code→state with exponential backoff.
  // Exercises every path: 2xx success, retryable 5xx under/at the
  // retry ceiling, non-retryable 4xx abort.
  private val ackLedgerQ: Q = (s, d) => {
    // Materialize the envelope set ONCE: both join sides (the
    // envelopes and the acks synthesized from them) read this frame,
    // and without the checkpoint the whole sharded-window micro-batch
    // lineage — including its eager quantile-bounds pass — recomputes
    // per branch (the r9 bench regression). Few-hundred-row frame:
    // the checkpoint is the production "envelopes table" the router
    // loop would read back from the jobsdb anyway.
    val env = Router.batchSummary(Tables.events(s, d), "event_type",
      "event_id", size = 50).localCheckpoint(eager = true)
    val acks = env.select(col("event_type"), col("batch_id"),
        col("first_id"), col("last_id"),
        (lit(1) + col("first_id") % 3).cast("int").as("n_att"))
      .withColumn("attempt", explode(sequence(lit(1), col("n_att"))))
      .select(col("event_type"), col("batch_id"), col("attempt"),
        when(col("attempt") < col("n_att"), 503)
          .when(col("first_id") % 10 < 7, 200)
          .when(col("first_id") % 10 < 9, 503)
          .otherwise(400).as("code"),
        (col("last_id") * lit(1000L) + col("attempt") * lit(1000L)).as("ack_ms"))
    Router.ackLedger(env, acks, Seq("event_type", "batch_id"),
        attemptCol = "attempt", codeCol = "code", ackTsMsCol = "ack_ms",
        maxRetry = 3, baseBackoffMs = 1000L)
      .select("event_type", "batch_id", "n_in_batch", "first_id", "last_id",
        "n_attempts", "last_code", "state", "next_retry_ms")
      .orderBy("event_type", "batch_id")
  }

  private val ackLedgerSql =
    """WITH nb AS (SELECT event_type, event_id,
      |    (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 50
      |      AS batch_id
      |   FROM events),
      |env AS (SELECT event_type, batch_id, COUNT(*) AS n_in_batch,
      |         MIN(event_id) AS first_id, MAX(event_id) AS last_id
      |        FROM nb GROUP BY event_type, batch_id),
      |acks AS (SELECT event_type, batch_id, first_id, last_id,
      |          CAST(1 + first_id % 3 AS INT) AS n_att,
      |          CAST(unnest(generate_series(1, 1 + first_id % 3)) AS INT) AS attempt
      |         FROM env),
      |coded AS (SELECT event_type, batch_id, attempt,
      |           CASE WHEN attempt < n_att THEN 503
      |                WHEN first_id % 10 < 7 THEN 200
      |                WHEN first_id % 10 < 9 THEN 503
      |                ELSE 400 END AS code,
      |           last_id * 1000 + attempt * 1000 AS ack_ms
      |          FROM acks),
      |top AS (SELECT event_type, batch_id, COUNT(*) AS n_attempts,
      |         arg_max(code, attempt) AS last_code,
      |         arg_max(ack_ms, attempt) AS last_ack_ms
      |        FROM coded GROUP BY event_type, batch_id)
      |SELECT e.event_type, e.batch_id, e.n_in_batch, e.first_id, e.last_id,
      | t.n_attempts, t.last_code,
      | CASE WHEN t.last_code BETWEEN 200 AND 299 THEN 'succeeded'
      |      WHEN (t.last_code = 429 OR t.last_code BETWEEN 500 AND 599)
      |           AND t.n_attempts >= 3 THEN 'aborted'
      |      WHEN t.last_code = 429 OR t.last_code BETWEEN 500 AND 599
      |        THEN 'waiting_retry'
      |      ELSE 'aborted' END AS state,
      | CASE WHEN (t.last_code = 429 OR t.last_code BETWEEN 500 AND 599)
      |           AND t.n_attempts < 3
      |      THEN t.last_ack_ms
      |        + 1000 * (CAST(1 AS BIGINT) << LEAST(t.n_attempts - 1, 20))
      |      ELSE NULL END AS next_retry_ms
      |FROM env e JOIN top t USING (event_type, batch_id)
      |ORDER BY e.event_type, e.batch_id""".stripMargin

  // ------------------------------------------------ p_queue_rotate
  // jobsdb dataset rotation in-gate (jobsdb.go addNewDS + dataset
  // migration): rotate the ledger — jobs whose latest status is
  // terminal ('purchase') at/before the day-15 cutoff compact to
  // their latest row only — then compute the three QUEUE VIEWS over
  // the COMPACTED ledger. The oracle computes the same views over the
  // RAW table, so hash equality IS the rotation-invariance proof
  // (latest / retry / unprocessed survive compaction untouched); the
  // 4_ledger row additionally pins the compaction arithmetic: rows =
  // full history of live jobs + exactly one row per compacted job.
  private val queueRotate: Q = (s, d) => {
    val cutoff = 1705276800000L // 2024-01-15T00:00:00Z
    val ev = Tables.events(s, d)
    val (snapshot, tail) = JobLedger.rotate(ev, "user_id", "event_type",
      "ts_ms", "event_id", terminalValues = Seq("purchase"), cutoffMs = cutoff)
    // rotation WRITES the new dataset pair in production — materialize
    // the compacted ledger once here (four view branches read it; the
    // localCheckpoint stands in for the parquet rewrite)
    val c = snapshot.unionByName(tail).localCheckpoint(eager = true)
    val latest = JobLedger.latest(c, "user_id", "event_type", "ts_ms", "event_id")
    val retry = JobLedger.toRetry(c, "user_id", "event_type", "ts_ms",
      "event_id", failedValue = "error", maxRetry = LedgerDefaults.MaxRetry)
    val unproc = JobLedger.unprocessed(c, Seq("user_id"), "event_type",
      terminalValue = "purchase", tsMsCol = "ts_ms")
    // checksums reduce each row mod 2^20 BEFORE summing: the raw
    // per-row terms (shifted user_ids × 37 + epoch millis ≈ 5e12 at
    // the 100× gate) summed over 10M rows overflow Spark's 64-bit
    // LongType sum (DuckDB would survive — it widens SUM(BIGINT) to
    // HUGEINT — but the mod keeps both engines on comparable math);
    // the residue sum stays < 2^44 per 10M rows, exact at any
    // realistic ledger volume, and still pins every row's
    // (id, ts, field) content
    val ckMod = 1048576L
    def stat(name: String, df: DataFrame, checksum: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n"),
          coalesce(sum(pmod(checksum, lit(ckMod))), lit(0L)).as("checksum"))
        .select(lit(name).as("view"), col("n"), col("checksum"))
    stat("1_latest", latest,
        col("user_id") * lit(37L) + col("last_ms")
          + length(col("last_event_type")).cast("long"))
      .unionByName(stat("2_retry", retry,
        col("user_id") * lit(37L) + col("attempts") * lit(1000L) + col("last_ms")))
      .unionByName(stat("3_unprocessed", unproc,
        col("user_id") * lit(37L) + col("n_pending") * lit(1000L)
          + col("first_ms") + col("last_ms")))
      .unionByName(stat("4_ledger", c, col("user_id") + col("ts_ms")))
      .orderBy("view")
  }

  private val queueRotateSql =
    s"""WITH e AS (SELECT event_id, user_id, event_type, $tsMsSql AS ts_ms
       |           FROM events),
       |lat AS (SELECT user_id, event_type AS last_event, ts_ms AS last_ms FROM (
       |  SELECT user_id, event_type, ts_ms,
       |   ROW_NUMBER() OVER (PARTITION BY user_id
       |     ORDER BY ts_ms DESC, event_id DESC) AS rn
       |  FROM e) t WHERE rn = 1),
       |term AS (SELECT user_id, last_ms FROM lat
       |         WHERE last_event = 'purchase' AND last_ms <= 1705276800000),
       |errs AS (SELECT user_id, COUNT(*) AS attempts FROM e
       |         WHERE event_type = 'error' GROUP BY user_id),
       |retry AS (SELECT l.user_id, er.attempts, l.last_ms
       |          FROM lat l JOIN errs er USING (user_id)
       |          WHERE l.last_event = 'error'
       |            AND er.attempts < ${LedgerDefaults.MaxRetry}),
       |unp AS (SELECT user_id, COUNT(*) AS n_pending,
       |         MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms
       |        FROM e ev
       |        WHERE NOT EXISTS (SELECT 1 FROM e t
       |          WHERE t.user_id = ev.user_id AND t.event_type = 'purchase')
       |        GROUP BY user_id),
       |tl AS (SELECT * FROM e
       |       WHERE user_id NOT IN (SELECT user_id FROM term))
       |SELECT '1_latest' AS view, COUNT(*) AS n,
       | CAST(COALESCE(SUM((user_id * 37 + last_ms + length(last_event)) % 1048576), 0)
       |   AS BIGINT) AS checksum
       |FROM lat
       |UNION ALL
       |SELECT '2_retry', COUNT(*),
       | CAST(COALESCE(SUM((user_id * 37 + attempts * 1000 + last_ms) % 1048576), 0) AS BIGINT)
       |FROM retry
       |UNION ALL
       |SELECT '3_unprocessed', COUNT(*),
       | CAST(COALESCE(SUM((user_id * 37 + n_pending * 1000 + first_ms + last_ms) % 1048576), 0)
       |   AS BIGINT)
       |FROM unp
       |UNION ALL
       |SELECT '4_ledger',
       | (SELECT COUNT(*) FROM tl) + (SELECT COUNT(*) FROM term),
       | (SELECT CAST(COALESCE(SUM((user_id + ts_ms) % 1048576), 0) AS BIGINT) FROM tl)
       |  + (SELECT CAST(COALESCE(SUM((user_id + last_ms) % 1048576), 0) AS BIGINT) FROM term)
       |ORDER BY view""".stripMargin

  // ---------------------------------------------- p_stream_sessions
  // The STREAMING sessionizer run inside the batch gate: events
  // parquet replayed as a file stream (Trigger.AvailableNow), state
  // closed by in-stream gaps — plus END-OF-STREAM PUNCTUATION: one
  // sentinel event per user at global_max_ts + gap + 1 closes every
  // still-open session in-stream (the standard flush technique), so
  // the streaming result matches the BATCH sessionizer exactly and
  // the DuckDB batch oracle hash-checks the whole state machine.
  // Sentinel sessions themselves (start >= sentinel ts) are dropped.
  private val streamSessions: Q = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    graft.GraftSession.tune(s)
    // stage a stream dir holding the NORMALIZED event projection plus
    // one sentinel file — projecting through Tables.events (instead
    // of a raw-file copy) keeps the replay independent of the
    // corpus's physical shape: single nanos-timestamp file (driver
    // testdata) and replicated pre-normalized directory (10× scale
    // gate) stream identically
    val gapMs = 1800000L
    val batch = Tables.events(s, d)
      .select("user_id", "event_type", "ts_ms", "value")
    val sentinelMs = batch.agg(max(col("ts_ms"))).head().getLong(0) + gapMs + 1
    // the result reads the sink lazily, so the session store owns the
    // dir (staged copy, sink, checkpoint) and deletes it on clearStore
    val streamDir = graft.operators.SessionStore.tempDir("graft_stream")
    def stage(df: DataFrame, prefix: String): Unit = {
      val staging = s"$streamDir/_staging_$prefix"
      df.write.parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (part, i) =>
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$streamDir/${prefix}_$i.parquet"))
        }
    }
    stage(batch, "events")
    stage(batch.select(col("user_id")).distinct()
      .select(col("user_id"), lit("sentinel").as("event_type"),
        lit(sentinelMs).as("ts_ms"), lit(0.0).as("value"))
      .coalesce(1), "sentinels")

    val stream = s.readStream.schema(batch.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir)
    val name = "graft_stream_sessions"
    // r19: PARQUET sink, not memory — the memory sink collects every
    // emitted session onto the driver (fine at gate scale; ~80M rows
    // at 1000× blew spark.driver.maxResultSize, then the heap). A
    // file sink keeps the emission distributed at ANY volume — the
    // posture every 100-TB streaming job needs — and the read-back is
    // a plain scan; rows are identical, so the batch oracle is
    // untouched.
    val sinkDir = s"$streamDir/_sessions_out"
    val sessions = graft.streaming.StreamingPipeline
      .sessionize(stream, gapMs = gapMs, watermark = "30 minutes")
    val q = sessions
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", s"$streamDir/_sessions_ckpt")
      .queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_ms")
    // explicit schema on the read-back (r19 advice): a zero-session
    // run leaves sinkDir with no part files and schema inference
    // throws where the old memory sink returned an empty table
    s.read.schema(sessions.schema).parquet(sinkDir)
      .filter(col("start_ms") < sentinelMs)
      .withColumn("session_seq", row_number().over(wSeq).cast("long"))
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms")
      .orderBy("user_id", "session_seq")
  }


  // ----------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "p_ack_ledger" -> ackLedgerQ,
    "p_queue_rotate" -> queueRotate,
    "p_scd2" -> scd2,
    "p_funnel_steps" -> funnelSteps,
    "p_retry_backoff" -> retryBackoff,
    "p_salted_agg" -> saltedAggQ,
    "p_merge_upsert" -> mergeUpsert,
    "p_stream_sessions" -> streamSessions,
    "p_asof_join" -> asofJoin,
    "p_asof_forward" -> asofForward,
    "p_interval_join" -> intervalJoin,
    "p_health_report" -> healthReport,
    "p_writekey_auth" -> writekeyAuth,
    "p_payload_size" -> payloadSize,
    "p_event_rate" -> eventRate,
    "p_suppression" -> suppression,
    "p_catalogue_pivot" -> cataloguePivot,
    "p_field_map" -> fieldMap,
    "p_field_hide" -> fieldHide,
    "p_field_delete" -> fieldDelete,
    "p_cast_semantics" -> castSemantics,
    "p_envelope" -> envelope,
    "p_json_extract" -> jsonExtract,
    "p_timestamp_skew" -> tsSkew,
    "p_sessionize" -> sessionize,
    "p_session_split" -> sessionSplit,
    "p_backfill_gaps" -> backfillGaps,
    "p_job_latest_status" -> latestStatus,
    "p_retry_select" -> retrySelect,
    "p_dlq_aborted" -> dlq,
    "p_router_fanout" -> routerFanout,
    "p_batch_assign" -> batchAssign,
    "p_gateway_batch" -> gatewayBatch,
    "p_rollup_merge" -> rollupMerge,
    "p_incremental_window" -> incremental,
    "p_dedup_exact" -> dedupExact,
    "p_dedup_ttl" -> dedupTtl,
    "p_unprocessed" -> unprocessedQ,
    "p_hopping_rate" -> hoppingRate,
    "p_source_freshness" -> sourceFreshness,
    "p_schema_project" -> schemaProject)

  val oracle: Map[String, String] = Map(
    "p_ack_ledger" -> ackLedgerSql,
    "p_queue_rotate" -> queueRotateSql,
    "p_scd2" -> scd2Sql,
    "p_funnel_steps" -> funnelStepsSql,
    "p_retry_backoff" -> retryBackoffSql,
    "p_salted_agg" -> saltedAggSql,
    "p_merge_upsert" -> mergeUpsertSql,
    "p_asof_join" -> asofJoinSql,
    "p_asof_forward" -> asofForwardSql,
    "p_interval_join" -> intervalJoinSql,
    "p_health_report" -> healthReportSql,
    "p_writekey_auth" -> writekeyAuthSql,
    "p_payload_size" -> payloadSizeSql,
    "p_event_rate" -> eventRateSql,
    "p_suppression" -> suppressionSql,
    "p_catalogue_pivot" -> cataloguePivotSql,
    "p_field_map" -> fieldMapSql,
    "p_field_hide" -> fieldHideSql,
    "p_field_delete" -> fieldDeleteSql,
    "p_cast_semantics" -> castSemanticsSql,
    "p_envelope" -> envelopeSql,
    "p_json_extract" -> jsonExtractSql,
    "p_timestamp_skew" -> tsSkewSql,
    "p_sessionize" -> sessionizeSql,
    // the punctuated stream must reproduce the batch sessionizer
    // exactly — same oracle
    "p_stream_sessions" -> sessionizeSql,
    "p_session_split" -> sessionSplitSql,
    "p_backfill_gaps" -> backfillGapsSql,
    "p_job_latest_status" -> latestStatusSql,
    "p_retry_select" -> retrySelectSql,
    "p_dlq_aborted" -> dlqSql,
    "p_router_fanout" -> routerFanoutSql,
    "p_batch_assign" -> batchAssignSql,
    "p_gateway_batch" -> gatewayBatchSql,
    "p_rollup_merge" -> rollupMergeSql,
    "p_incremental_window" -> incrementalSql,
    "p_dedup_exact" -> dedupExactSql,
    "p_dedup_ttl" -> dedupTtlSql,
    "p_unprocessed" -> unprocessedSql,
    "p_hopping_rate" -> hoppingRateSql,
    "p_source_freshness" -> sourceFreshnessSql,
    "p_schema_project" -> schemaProjectSql)
}
