package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one registry for artifacts a session trains once and reuses
  * across queries: MinHash signatures and LSH pairs, shingle-overlap
  * stats, k-means cells and centroids, PQ and residual codebooks,
  * classifier fits and cuts, exact top-k ground truth and ANN index
  * dirs. An entry is keyed by (scope, name) — scope is the
  * `sessionUUID|sfDir` string, so two sessions or two corpora never
  * share an entry. This is plan and artifact reuse only; no query
  * result is ever stored. [[clear]] is the one release path.
  * (`Tables.frameMemo` is separate by design: its parquet listings
  * outlive a clear.) */
object SessionStore {

  private final case class Entry(value: Any, rdds: Seq[RDD[_]])

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String), Entry]
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  // a JVM that exits without a clear (Verify, the last Bench pass)
  // still leaves no store-owned dir behind
  sys.addShutdownHook(dirs.forEach(AnnIndex.deleteRecursively(_)))

  /** Get `name` under `scope`, or build and keep it. The build's new
    * persistent RDDs (cache or localCheckpoint blocks) are claimed for
    * [[clear]] by diffing `getPersistentRDDs` around it — the only
    * handle that releases checkpoint blocks (`Dataset.unpersist` never
    * saw them). Nested builds are claimed with their parent. A
    * checkpoint another thread creates during the build is claimed
    * too; scoped checkpoints release themselves via
    * `ColumnBridge.checkpointRdds` before any clear, so that claim is
    * a no-op. */
  def memo[T](s: SparkSession, scope: String, name: String)(build: => T): T =
    entries.getOrElseUpdate((scope, name), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val value = build
      Entry(value, sc.getPersistentRDDs.valuesIterator
        .filterNot(r => before.contains(r.id)).toSeq)
    }).value.asInstanceOf[T]

  /** [[memo]] when the caller passed a cache key, a plain build
    * otherwise. */
  def memo[T](s: SparkSession, scope: Option[String], name: String)(
      build: => T): T =
    scope.fold(build)(memo(s, _, name)(build))

  /** Every live value stored under `name`, across all scopes. The
    * oracle interpolates a training only when exactly one is live. */
  def trained[T](name: String): List[T] =
    entries.iterator.collect {
      case ((_, n), e) if n == name => e.value.asInstanceOf[T]
    }.toList

  /** A fresh temp dir owned by the store: [[clear]] (or JVM exit)
    * deletes it. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(dir)
    dir.toString
  }

  /** Drop every entry, unpersist the RDD blocks their builds claimed
    * and delete every store-owned temp dir. A localCheckpoint created
    * outside a build keeps its blocks: its lineage is truncated, so a
    * released block could not be recomputed. */
  def clear(): Unit = {
    for (k <- entries.keys; e <- entries.remove(k); r <- e.rdds
         if !r.context.isStopped)
      r.unpersist(blocking = false)
    dirs.forEach { d => dirs.remove(d); AnnIndex.deleteRecursively(d) }
  }
}
