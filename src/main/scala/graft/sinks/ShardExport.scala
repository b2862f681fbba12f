package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ShardedWindow}

/** Training-shard export: materialize a deterministically shuffled
  * corpus as fixed-size ordered shard files plus a manifest — the
  * artifact a training loader actually consumes.
  *
  * The shuffle order is the `d_shuffle_export` discipline: every doc
  * gets a GLOBAL position in a content-seeded pseudo-random order
  * (reproducible across reruns and cluster layouts — no `rand()`, no
  * seed drift), computed as a ShardedWindow prefix count with one
  * logical group so no task ever runs the naive
  * `row_number() OVER (ORDER BY hash)` single-task corpus sort.
  *
  * Layout (the AtomicSwapWriter snapshot discipline, one pointer over
  * TWO coupled artifacts — data and manifest commit together or not
  * at all; a reader can never observe shards without their manifest
  * or a half-written export):
  *
  * {{{
  * <root>/v_<n>/data/shard=<k>/part-….parquet   one file per shard,
  *                                              rows in training order
  * <root>/v_<n>/manifest/part-….parquet         per-shard counts,
  *                                              boundary docs, source
  *                                              mix, order checksum
  * <root>/_CURRENT                              atomic version pointer
  * }}}
  *
  * Loader contract: a shard directory's single file read sequentially
  * IS the training order (`pos_in_shard` ascending — the writer
  * repartitions by shard and sorts within partitions); `pos_in_shard`
  * is also a column, so a loader that cannot rely on file row order
  * sorts `shardSize` rows in memory. At fleet scale, size
  * `spark.sql.shuffle.partitions` so each write task holds a handful
  * of shards (a task writes every shard hashed to it, one bounded
  * file each).
  */
object ShardExport {

  /** Per-doc export assignment: global shuffle position `__pos` (1-based),
    * fixed-size `shard` and `pos_in_shard`. Keeps all input columns.
    * `__oh` (the 60-bit content order hash) is retained for the
    * manifest's order checksum. */
  def assign(docs: DataFrame, textCol: String, idCol: String,
             shardSize: Long, nShards: Int): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive: $shardSize")
    val base = docs
      .withColumn("__oh", Dedup.shingleHash(concat(lit("shuffle:"), col(textCol))))
      .withColumn("__corpus", lit("all"))
    ShardedWindow.runningSum(base, "__corpus",
      ShardedWindow.hashShard60(col("__oh"), nShards),
      Seq(col("__oh"), col(idCol)), lit(1L), "__pos")
      .withColumn("shard", expr(s"(__pos - 1) div $shardSize"))
      .withColumn("pos_in_shard", expr(s"(__pos - 1) % $shardSize"))
      .drop("__corpus")
  }

  /** Per-shard export manifest — column-identical to the
    * `d_shuffle_export` gate query: doc count, boundary docs (by
    * position), source mix, and an order-SENSITIVE checksum
    * (Σ pos·(hash mod p)) that pins the within-shard ordering, not
    * just membership. */
  def manifest(assigned: DataFrame, idCol: String, sourceCol: String): DataFrame =
    assigned.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      min_by(col(idCol), col("__pos")).as("first_doc"),
      max_by(col(idCol), col("__pos")).as("last_doc"),
      countDistinct(col(sourceCol)).as("n_sources"),
      sum(col("__pos") * (col("__oh") % lit(1000003L))).as("order_sum"))

  /** Shuffle, shard, and publish `docs` under `root`. Returns the new
    * snapshot version. The assignment frame is computed once
    * (localCheckpoint) and feeds both the data write and the
    * manifest; the `_CURRENT` pointer lands only after BOTH writes
    * complete, so a crash anywhere leaves the previous export live
    * and an orphan `v_` dir for [[AtomicSwapWriter.vacuum]]-style
    * sweeping. */
  def export(docs: DataFrame, textCol: String, idCol: String,
             sourceCol: String, root: String, shardSize: Long = 100L): Long = {
    val spark = docs.sparkSession
    val nShards = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Files.createDirectories(Paths.get(root))
    val next = currentVersion(root).getOrElse(0L) + 1L
    val snap = Paths.get(root, s"v_$next").toString

    // capture the checkpoint's backing RDD for release — Dataset
    // .unpersist is a no-op on a localCheckpoint'd frame (blocks live
    // on an internal RDD the CacheManager never saw)
    val assigned = assign(docs, textCol, idCol, shardSize, nShards).localCheckpoint()
    val ckptRdds =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(assigned)
    try {
      // one bounded file per shard, rows already in training order
      assigned.select(col("shard"), col("pos_in_shard"),
          col(idCol), col(sourceCol), col(textCol))
        .repartition(col("shard"))
        .sortWithinPartitions("shard", "pos_in_shard")
        .write.partitionBy("shard").parquet(s"$snap/data")
      manifest(assigned, idCol, sourceCol).write.parquet(s"$snap/manifest")
    } finally ckptRdds.foreach(_.unpersist(blocking = false))

    val tmp = Paths.get(root, "_CURRENT.tmp")
    Files.write(tmp, s"$next\n".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, "_CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  def currentVersion(root: String): Option[Long] = {
    val f = Paths.get(root, "_CURRENT")
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong)
  }

  private def livePath(root: String, sub: String): String = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed export under $root"))
    Paths.get(root, s"v_$v", sub).toString
  }

  def readManifest(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(livePath(root, "manifest"))

  /** The live export's full data frame (all shards; `shard` is a
    * partition column). */
  def readData(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(livePath(root, "data"))

  /** One shard in training order — the loader's read path: partition
    * pruning reaches the scan (one directory), and the bounded
    * in-memory sort restores order regardless of file row order. */
  def readShard(spark: SparkSession, root: String, shard: Long): DataFrame =
    readData(spark, root).where(col("shard") === shard).orderBy("pos_in_shard")
}
