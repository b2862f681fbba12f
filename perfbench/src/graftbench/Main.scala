package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The system-under-test side of the benchmark: one JVM runs one
  * workload against graft's public functions and writes raw samples,
  * layer counters and spans to `<work>/result.json` (and
  * `<work>/spans.json` when traced). `perfbench/run.py` builds this,
  * starts it, turns the samples into metrics and checks correctness.
  *
  * Options (all required): --workload --data --work --seconds --seed
  * --trace --cpus --keys (batch: comma list; live: ignored)
  * --setup-reps; live_loop also --dest-a --dest-b. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val tracer = new Tracer(opts("trace") == "1")
    val listener = if (tracer.enabled) Some(new LayerListener(tracer)) else None
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opts("cpus")}]")
      .config("spark.sql.shuffle.partitions", opts("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listener.foreach(spark.sparkContext.addSparkListener)
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"),
      "context_s" -> (System.nanoTime() - t0) / 1e9,
      "header" -> header(spark))
    try {
      opts("workload") match {
        case "batch" => Batch.run(spark, opts, tracer, listener, out)
        case "live_loop" => Live.run(spark, opts, tracer, listener, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out("gc_ms") = gcMs()
      out("peak_rss_mb") = peakRssMb()
    } catch {
      case t: Throwable =>
        out("fatal") = s"${t.getClass.getName}: ${t.getMessage}"
        t.printStackTrace()
    }
    if (tracer.enabled)
      write(s"$work/spans.json", Json.render(tracer.spans.asScala.toSeq.sortBy(_.startUs).map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
          "start_us" -> s.startUs, "end_us" -> s.endUs))))
    write(s"$work/result.json", Json.render(out))
    spark.stop()
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, in MB: what the engine
    * retains (stores, caches, stream state) once the timed work is done.
    * Collected twice, with a pause for Spark's ContextCleaner to release
    * the blocks of RDDs and broadcasts the first collection found dead. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Run-validity facts the JVM knows: versions, heap, the session's
    * AQE setting, and every SQL conf that differs from Spark's default
    * after graft tuned a session. */
  private def header(spark: SparkSession): Map[String, Any] = {
    val s = graft.GraftSession.tune(spark.newSession())
    val defaults = spark.newSession()
    val ours = Set("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.warehouse.dir")
    val changed = s.conf.getAll.filter { case (k, v) =>
      k.startsWith("spark.sql.") && !ours(k) &&
        scala.util.Try(defaults.conf.get(k)).toOption.exists(_ != v)
    }
    Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "aqe_enabled" -> s.conf.get("spark.sql.adaptive.enabled"),
      "non_default_sql_conf" -> changed.toMap)
  }
}
