package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Dedup
import graft.queries.LlmData
import graft.sources.Tables

/** The `batch` workload: passes over a pinned key list, each on a fresh
  * `newSession()` after `Dedup.clearStore()`, key order permuted by the
  * seed. A `_store_*` name runs its `LlmData.storeBuilders` entry; any
  * other name runs its `SparkEntry.queries` entry forced through the
  * noop sink. */
object Batch {
  def run(spark: SparkSession, opts: Map[String, String], tracer: Tracer,
          listener: Option[LayerListener],
          out: mutable.Map[String, Any]): Unit = {
    val data = opts("data")
    val keys = opts("keys").split(",").toSeq.filter(_.nonEmpty)
    val (stores, queries) = keys.partition(_.startsWith("_store_"))
    val rng = new scala.util.Random(opts("seed").toLong)

    def freshSession(): SparkSession = {
      Dedup.clearStore()
      val s = spark.newSession()
      listener.foreach(s.listenerManager.register)
      s
    }

    // set-up: session + store clear + every base table read (the
    // Tables memo is per session, so each pass pays this again)
    val setups = (1 to opts("setup-reps").toInt).map { _ =>
      val t0 = System.nanoTime()
      val s = freshSession()
      Tables.names.foreach(t => Tables(s, data, t))
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = setups

    // One untimed pass first, which is also the correctness pass: each
    // query's output goes to parquet for run.py's DuckDB oracle replay,
    // then the oracle SQL as it stands after this session's own trainings
    // (before a timed pass clears them). JIT and whole-stage codegen
    // caches fill here, so every timed pass sees the same warm JVM.
    val check = s"${opts("work")}/check"
    val failures = mutable.LinkedHashMap[String, String]()
    def runKey(s: SparkSession, k: String, trace: String, dump: Boolean = false): Double = {
      val t0 = System.nanoTime()
      try tracer.span("key", trace) {
        if (k.startsWith("_store_"))
          tracer.span("stores.build", trace)(LlmData.storeBuilders(k)(s, data))
        else {
          val df = tracer.span("queries.build", trace)(SparkEntry.queries(k)(s, data))
          if (dump) df.write.mode("overwrite").parquet(s"$check/$k")
          else tracer.span("exec.noop", trace)(df.write.format("noop").mode("overwrite").save())
        }
      } catch {
        case t: Throwable =>
          failures.getOrElseUpdate(k, s"${t.getClass.getName}: ${t.getMessage}")
      }
      (System.nanoTime() - t0) / 1e6
    }
    val warm0 = System.nanoTime()
    val warmSession = freshSession()
    keys.foreach(k => runKey(warmSession, k, "warmup", dump = true))
    Main.write(s"$check/oracle_sql.json", Json.render(SparkEntry.oracleSql))
    out("warmup_s") = (System.nanoTime() - warm0) / 1e9

    // timed passes: another pass starts only if it should end within
    // the run's seconds
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val gc0 = Main.gcMs()
    val start = System.nanoTime()
    def more: Boolean = passes.isEmpty ||
      (System.nanoTime() - start) / 1e9 + passes.last("wall_s").asInstanceOf[Double] <=
        opts("seconds").toDouble
    while (more) {
      val p = passes.size
      val s = freshSession()
      val unit = s"pass$p"
      s.sparkContext.setLocalProperty("graftbench.unit", unit)
      listener.foreach(_.currentUnit = unit)
      tracer.on = tracer.enabled
      // stores first (explicit builds), then the keys, both permuted
      val order = rng.shuffle(stores) ++ rng.shuffle(queries)
      val t0 = System.nanoTime()
      val times = order.map(k => k -> runKey(s, k, s"$k#$p"))
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Map("unit" -> unit, "wall_s" -> wall,
        "keys" -> times.map { case (k, ms) => Map("key" -> k, "ms" -> ms) })
    }
    tracer.on = false
    out("measure_s") = (System.nanoTime() - start) / 1e9
    out("measure_gc_ms") = Main.gcMs() - gc0
    out("heap_retained_mb") = Main.retainedHeapMb()
    out("passes") = passes
    listener.foreach { l =>
      l.drain()
      out("units") = l.snapshot()
    }
    out("failures") = failures
  }
}
