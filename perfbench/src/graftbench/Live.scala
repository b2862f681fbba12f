package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.operators.TransformRules
import graft.sinks.{HttpEgress, JdbcSink, RestBatcher}
import graft.sources.{ConfigStore, EventBatchReader, HttpIngress}

/** The `live_loop` workload's system under test: HttpIngress → spool →
  * EventBatchReader.readStream → foreachBatch { ConfigStore.routingTable
  * + TransformRules.routedTransforms → RestBatcher.envelopes →
  * HttpEgress.deliverWithRetries to the generator's two destinations,
  * plus JdbcSink.stagedWrite(pk = message_id) into a Derby table }.
  *
  * Handshake with run.py (the traffic generator, a separate process):
  * this JVM writes `<work>/ready.json` with the ingress port once set-up
  * is done, and stops when `<work>/done` appears. */
object Live {
  private val Transforms =
    """[{"type":"field_map","from":"event","to":"action"},
      | {"type":"field_delete","field":"event","value":"drop-me"}]""".stripMargin
  private val WarehouseUrl = "jdbc:derby:memory:graftbench_wh;create=true"

  def run(spark: SparkSession, opts: Map[String, String], tracer: Tracer,
          listener: Option[LayerListener], out: mutable.Map[String, Any]): Unit = {
    val work = opts("work")
    val urls = Map("dest_a" -> opts("dest-a"), "dest_b" -> opts("dest-b"))
    JdbcSink.withConnection(WarehouseUrl) { c =>
      val st = c.createStatement()
      try st.executeUpdate("CREATE TABLE EVENTS (message_id VARCHAR(64) PRIMARY KEY, " +
        "write_key VARCHAR(64), user_id VARCHAR(64), event VARCHAR(64), received_at TIMESTAMP)")
      finally st.close()
    }
    val authNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    val ledgers = new ConcurrentLinkedQueue[(String, Long, String)]()
    @volatile var timed = false // set once set-up and warm-up are done
    val progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map("query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }))
      }
    }

    /** One set-up: fresh config store, spool and checkpoint, the ingress
      * server, and the stream started and waiting for data. */
    def start(rep: Int): (com.sun.net.httpserver.HttpServer, StreamingQuery) = {
      val cfg = s"jdbc:derby:memory:graftbench_cfg$rep;create=true"
      ConfigStore.bootstrap(cfg)
      ConfigStore.insertSource(cfg, 1L, "web", 1, "wk-web", 1, "{}")
      ConfigStore.insertSource(cfg, 2L, "app", 1, "wk-app", 1, "{}")
      ConfigStore.insertSource(cfg, 3L, "legacy", 1, "wk-off", 1, "{}", status = "disabled")
      ConfigStore.insertDestination(cfg, 1L, "dest_a", 2, 1, "{}")
      ConfigStore.insertDestination(cfg, 2L, "dest_b", 3, 1, "{}")
      ConfigStore.insertConnection(cfg, 1L, 1, 1, Transforms)
      ConfigStore.insertConnection(cfg, 2L, 1, 2)
      ConfigStore.insertConnection(cfg, 3L, 2, 2)
      val spool = s"$work/spool$rep"
      val server = HttpIngress.start(0, spool, wk => {
        val t0 = System.nanoTime()
        val ok = ConfigStore.isWriteKeyEnabled(cfg, wk)
        if (tracer.enabled) authNs.add(System.nanoTime() - t0)
        ok
      })
      val s = spark.newSession()
      listener.foreach(s.listenerManager.register)
      if (tracer.enabled) s.streams.addListener(progressListener)
      val query = EventBatchReader.readStream(s, spool).writeStream
        .queryName(s"live$rep")
        .option("checkpointLocation", s"$work/checkpoint$rep")
        .foreachBatch((df: DataFrame, id: Long) => process(df, id, rep, cfg))
        .start()
      await(query, "stream start")(query.status.message.startsWith("Waiting for data"))
      (server, query)
    }

    def await(query: StreamingQuery, what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 90000L
      while (!cond) {
        require(System.currentTimeMillis() < deadline && query.isActive,
          s"$what: ${query.exception.getOrElse("timed out")}")
        Thread.sleep(5)
      }
    }

    def process(df: DataFrame, id: Long, rep: Int, cfg: String): Unit = {
      val unit = s"r${rep}mb$id"
      val t0 = System.currentTimeMillis()
      df.sparkSession.sparkContext.setLocalProperty("graftbench.unit", unit)
      listener.foreach(_.currentUnit = unit)
      tracer.on = tracer.enabled && timed
      tracer.span("streaming.batch", unit) {
        df.persist()
        if (tracer.on) batches.add(Map("rep" -> rep, "batch" -> id,
          "message_ids" -> df.select("message_id").collect().map(_.getString(0)).toSeq))
        val perDest = tracer.span("operators.route", unit) {
          TransformRules.routedTransforms(df, ConfigStore.routingTable(df.sparkSession, cfg))
        }
        // one envelope frame per destination (their payload schemas
        // differ), delivered together by one retry loop
        val envelopes = perDest.map { case (dest, frame) =>
          RestBatcher.envelopes(
            frame.withColumn("dest", lit(dest)).withColumn("ord", xxhash64(col("message_id"))),
            "dest", "ord", size = 10)
        }.reduce(_ unionByName _)
        tracer.span("egress.deliver", unit) {
          HttpEgress.deliverWithRetries(envelopes, "dest", "batch_id", "body", urls,
            maxRetry = 4, baseBackoffMs = 10L)
            .select("dest", "n_attempts", "state").collect()
            .foreach(r => ledgers.add((r.getString(0), r.getLong(1), r.getString(2))))
        }
        tracer.span("jdbcsink.write", unit) {
          JdbcSink.stagedWrite(df.select("message_id", "write_key", "user_id", "event",
            "received_at"), WarehouseUrl, "EVENTS", pk = Seq("message_id"))
        }
        df.unpersist()
      }
      tracer.on = false
      batches.add(Map("rep" -> rep, "batch" -> id, "start_ms" -> t0,
        "end_ms" -> System.currentTimeMillis()))
    }

    val reps = opts("setup-reps").toInt
    val setups = mutable.ArrayBuffer[Double]()
    var running: (com.sun.net.httpserver.HttpServer, StreamingQuery) = null
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      running = start(rep)
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < reps) { running._2.stop(); running._1.stop(0) }
    }
    out("setup_s") = setups
    val (server, query) = running
    // one warm-up request carried all the way to both destinations
    // (untimed: the first batch pays JIT and codegen)
    val port = server.getAddress.getPort
    val events = (0 until 2).map(i =>
      s"""{"messageId":"warm-$i","userId":"u0","event":"warm",""" +
        """"originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:00:00.000Z"}""")
    val code = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/v1/batch"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"writeKey":"wk-web","requestIP":"127.0.0.1",""" +
            s""""receivedAt":"2024-01-01T00:00:00.000Z","batch":[${events.mkString(",")}]}""")).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
    require(code == 200, s"warm-up request answered $code")
    val warm0 = System.nanoTime()
    await(query, "warm-up batch")(query.recentProgress.exists(_.numInputRows > 0))
    out("warmup_s") = (System.nanoTime() - warm0) / 1e9
    val firstLiveBatch = query.lastProgress.batchId + 1
    val gc0 = Main.gcMs()
    timed = true
    Main.write(s"$work/ready.json", s"""{"port":$port}""")
    val deadline = System.currentTimeMillis() + (opts("seconds").toDouble * 1000).toLong + 150000L
    while (!Files.exists(Paths.get(s"$work/done")) && query.isActive &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    // finish the batch in flight (its JDBC write may still be running)
    if (query.isActive) query.processAllAvailable()
    out("measure_gc_ms") = Main.gcMs() - gc0
    out("heap_retained_mb") = Main.retainedHeapMb()
    query.exception.foreach(e => out("stream_error") = e.getMessage)
    query.stop()
    server.stop(0)
    out("live_rep") = reps
    out("first_live_batch") = firstLiveBatch
    out("batches") = batches.asScala.toSeq
    out("progress") = progress.asScala.toSeq
    out("auth_ms") = authNs.asScala.map(_ / 1e6).toSeq
    out("ledger") = ledgers.asScala.toSeq.map { case (d, n, s) =>
      Map("dest" -> d, "n_attempts" -> n, "state" -> s) }
    listener.foreach { l => l.drain(); out("units") = l.snapshot() }
    val ids = JdbcSink.withConnection(WarehouseUrl) { c =>
      val rs = c.createStatement().executeQuery("SELECT message_id FROM EVENTS")
      val b = mutable.ArrayBuffer[String]()
      while (rs.next()) b += rs.getString(1)
      b
    }
    Main.write(s"$work/jdbc_ids.txt", ids.mkString("\n"))
  }
}
