package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2.C).
  *
  * `bruteForceTopK` is the exact O(|Q|·n) baseline: correct at any
  * selectivity, but the candidate side is a full scan — use it only
  * when |Q| is small or as the rerank stage. `lshTopK` is the scale
  * path: random-hyperplane buckets (one projection pass, one shuffle
  * on the bucket key) shrink the candidate set to a bucket before the
  * exact rerank — at 100 TB the bucket join replaces the full
  * cross-product with an equi-join Spark can hash-partition.
  *
  * Perf: norms are projected ONCE per row before pairing (norm in the
  * pair condition would recompute per pair), and every dot product is
  * the codegen'd graft.plans.DotProduct reading float arrays in place.
  */
object Similarity {

  /** Exact top-k neighbors for each query row (queries broadcast —
    * the big side streams, never shuffles). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnrm", norm(col("qvec"))))
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosineWithNorms(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Deterministic pseudo-random ±1 hyperplanes (LCG seeded — no
    * runtime entropy, reproducible across runs/engines). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Seq.fill(numPlanes)(Seq.fill(dim)(if ((next() >>> 33) % 2 == 0) 1.0 else -1.0))
  }

  /** Sign-bit bucket id from `numPlanes` hyperplane projections. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (h, j) =>
      signBit(vec, h) * lit(1 << j)
    }.reduce(_ + _)

  /** Approximate top-k: MULTI-TABLE sign-bit LSH — `numTables`
    * independent plane sets (seeded 42+t), a row lands in one bucket
    * per table, candidates are the distinct union over tables, then
    * exact rerank. One table's miss probability p compounds to pᴸ:
    * recall rises steeply with L while candidate volume grows only
    * linearly (still a banded equi-join Spark hash-partitions on
    * (table, bucket) — never O(n²)). `numPlanes` trades per-table
    * bucket size vs selectivity. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int = 4, dim: Int = 64,
              numTables: Int = 4): DataFrame = {
    val tablePlanes = (0 until numTables).map(t => hyperplanes(numPlanes, dim, 42L + t))
    def withBuckets(df: DataFrame): DataFrame =
      df.select(col("*"), posexplode(array(
        tablePlanes.map(p => lshBucket(col("_v"), p)): _*)).as(Seq("tbl", "bucket")))
    val q = broadcast(withBuckets(
      queries.select(col(idCol).as("qid"), col(vecCol).as("_v"))
        .withColumn("qnrm", norm(col("_v")))).withColumnRenamed("_v", "qvec"))
    val c = withBuckets(
      candidates.select(col(idCol).as("cid"), col(vecCol).as("_v"))
        .withColumn("cnrm", norm(col("_v")))).withColumnRenamed("_v", "cvec")
    val pairs = q.select("qid", "qvec", "qnrm", "tbl", "bucket")
      .join(c.select("cid", "cvec", "cnrm", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      // distinct union of candidates across tables before the rerank
      .groupBy("qid", "cid")
      .agg(first(col("qvec")).as("qvec"), first(col("qnrm")).as("qnrm"),
        first(col("cvec")).as("cvec"), first(col("cnrm")).as("cnrm"))
    val scored = pairs.select(col("qid"), col("cid"),
      cosineWithNorms(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** IVF-style approximate top-k: a coarse quantizer (any cluster
    * assignment column — labels here; k-means centroids in general)
    * partitions the corpus into cells; each query probes the
    * `nprobe` cells whose centroids score highest, then exact-reranks
    * inside them. At 100 TB the probe join is an equi-join on cell id
    * over a cell-partitioned table — only nprobe/ncells of the data
    * is touched per query. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, cellCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    // centroids: position-exploded partial-agg mean per cell
    val flat = candidates.select(col(cellCol).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val centroids = flat.groupBy("cell", "pos")
      .agg((sum(col("x")) / count(lit(1))).as("c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .getField("c").as("centroid"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
    // probe ranking: score every (query, cell) centroid, keep nprobe.
    // The score is ROUNDED to 6 digits before ranking (cell-index
    // tiebreak): the empirical centroid means are partial-agg sums
    // whose accumulation order differs between engines, so an
    // unrounded near-tie could order probe cells differently in a
    // replay — same discipline as the cosine rerank below.
    val wProbe = Window.partitionBy("qid").orderBy(col("cscore").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cscore", round(dot(col("qvec"), col("centroid")), 6))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nprobe)
      .select(col("qid"), col("qvec"), col("qnrm"), col("cell"))
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        col(cellCol).as("cell"))
      .withColumn("cnrm", norm(col("cvec")))
    val scored = broadcast(probes).join(c, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosineWithNorms(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** K-means coarse quantizer for IVF — real Lloyd iterations, fully
    * deterministic (no runtime entropy):
    *  - init: the k sample vectors with the smallest md5(id) rank (a
    *    deterministic pseudo-random draw);
    *  - train on a hash-selected sample (`1/trainMod` of rows — IVF
    *    standard practice: train on a sliver, assign everything);
    *  - each Lloyd step assigns the sample to the nearest centroid
    *    with the codegen'd dot product and recomputes centroids via
    *    position-exploded partial agg (ONE shuffle of k·dim rows).
    * Centroids live driver-side between steps (k·dim doubles —
    * kilobytes at any corpus scale); the expensive parts (assignment,
    * mean) are distributed. Returns (id, cell) for every input row.
    *
    * Assignment metric: squared L2 via argmin(‖c‖² − 2⟨x,c⟩) — ‖x‖²
    * is constant per row and drops out. Ties break toward the lower
    * cell index (struct min), so assignment is deterministic. */
  def kmeansCells(df: DataFrame, idCol: String, vecCol: String,
                  k: Int = 16, iters: Int = 5, trainMod: Int = 5,
                  cacheKey: Option[String] = None): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, iters, trainMod, cacheKey)
    def assign = df.select(col(idCol), col(vecCol).as("_v"))
      .select(col(idCol),
        cellAssignOn(col("_v"), cents, replayExact = true)
          .cast("long").as("cell"))
    // trained cell assignments go through the session store like the
    // minhash signatures — one training run per (session, corpus)
    if (cacheKey.isEmpty) assign
    else SessionStore.memo(df.sparkSession, cacheKey, s"kmeans|$k|$iters|$trainMod")(
      assign.localCheckpoint(eager = true))
  }

  /** Train (or fetch from the [[SessionStore]]) Lloyd centroids —
    * exposed so callers can interpolate the exact trained values into
    * an engine-independent replay (the DuckDB oracle), same discipline
    * as [[hyperplanes]]; the store keeps the EXACT floats the
    * assignment used, and a re-train per consumer would double the
    * Lloyd jobs. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int = 16, iters: Int = 5, trainMod: Int = 5,
                      cacheKey: Option[String] = None): Array[Array[Double]] =
    SessionStore.memo(df.sparkSession, cacheKey, centroidsName(k, iters, trainMod))(
      trainCentroids(df, idCol, vecCol, k, iters, trainMod))

  /** [[SessionStore]] names of the trainings above and the PQ
    * codebooks below, for readers of [[SessionStore.trained]]. */
  def centroidsName(k: Int, iters: Int, trainMod: Int): String =
    s"kmeansC|$k|$iters|$trainMod"
  def pqBooksName(m: Int, ks: Int, iters: Int, trainMod: Int): String =
    s"pq|$m|$ks|$iters|$trainMod"
  def pqResidualBooksName(m: Int, ks: Int, iters: Int, trainMod: Int): String =
    s"pqres|$m|$ks|$iters|$trainMod"

  /** Squared-L2 argmin over centroid literals: ‖c‖² − 2⟨x,c⟩ (‖x‖²
    * constant per row, drops out); ties break toward the lower cell
    * index (struct min), so assignment is deterministic. With
    * `replayExact` the score is ROUNDED to 6 digits before the
    * argmin: a replay engine computes the same dot as a group-agg
    * whose accumulation order differs, so an unrounded near-tie could
    * flip the assignment cross-engine. Lloyd TRAINING passes false —
    * training runs on Spark alone (no replay), so it skips the k
    * round() calls per row. Expects the vector in `_v`. */
  private def assignExpr(cs: Array[Array[Double]],
                         replayExact: Boolean = true): Column =
    assignExprOn(col("_v"), cs, replayExact)

  /** [[assignExpr]] generalized over the vector expression — PQ
    * assigns each SLICE of the vector against its own codebook.
    * r17: ONE native NearestCell expression (centroids by reference)
    * — the literal-inlined Column algebra below blew janino's 64 KB
    * method limit at the √n reindex cell counts (448 cells at 100×,
    * 1414 at 1000×) and silently fell back to interpreted projection
    * over k DotProducts per row. Bit-parity with the algebra is
    * pinned in SaltingAndIvfSpec (same widening, summation order,
    * HALF_UP 6-dp round, smallest-id tie). */
  private def assignExprOn(v: Column, cs: Array[Array[Double]],
                           replayExact: Boolean): Column =
    graft.functions.VectorFunctions.nearestCell(
      v, cs.toSeq.map(_.toSeq), replayExact)

  /** Cell counts past this go HIERARCHICAL: [[cellAssignOn]] swaps
    * the flat O(k)-per-row argmin for the two-level group→cell scan
    * (r19 — the executable form of [[autoCells]]' "go hierarchical"
    * doctrine, and the removal of the r18 10,000× board's one
    * super-linear law: the √n-cell re-code pass was O(n·√n) flat,
    * O(n·n^¼) two-level). 32 keeps every pinned small-k gate (8-cell
    * IVF, ks≤16 PQ codebooks) on the exact flat argmin byte-for-byte,
    * while the sf0.01 reindex (autoCells(2000)=45 cells) exercises
    * the two-level path INSIDE the driver gate. */
  val TwoLevelThreshold = 32

  /** CELL assignment with the hierarchy rule applied: flat argmin at
    * ≤ [[TwoLevelThreshold]] cells (byte-identical to the pre-r19
    * path), two-level above it. The grouping is a deterministic pure
    * function of the centroid table ([[groupCells]]), recomputed
    * identically by the oracle-SQL builder — both engines replay the
    * same assignment rule at every cell count. */
  private[graft] def cellAssignOn(v: Column, cs: Array[Array[Double]],
                                  replayExact: Boolean): Column =
    if (cs.length <= TwoLevelThreshold) assignExprOn(v, cs, replayExact)
    else {
      val (gc, mem) = groupCells(cs)
      graft.functions.VectorFunctions.twoLevelCell(
        v, gc.toSeq.map(_.toSeq), mem.toSeq.map(_.toSeq),
        cs.toSeq.map(_.toSeq), replayExact)
    }

  /** Deterministic driver-side grouping of a trained centroid table
    * into ⌈√k⌉ groups for the two-level assignment: a small pure-Scala
    * Lloyd over the k centroid vectors themselves (k·√k·dim flops —
    * milliseconds at any √n cell count). Strided init (cells 0, k/g,
    * 2k/g, …), exact squared-L2 argmin with ties to the lower group
    * index, index-ordered mean recomputation, empty groups keep their
    * previous center; groups left empty after the final assignment
    * are DROPPED (so stage 2 always has members), and each group's
    * member list ascends by global cell id (the in-group tie policy).
    * Everything is a deterministic fold in cell-index order — the
    * oracle builder calls THIS function on the stored centroids and
    * interpolates identical literals. */
  def groupCells(cents: Array[Array[Double]],
                 iters: Int = 3): (Array[Array[Double]], Array[Array[Int]]) = {
    val k = cents.length
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dim = cents(0).length
    var gc: Array[Array[Double]] =
      Array.tabulate(g)(i => cents((i.toLong * k / g).toInt).clone())
    val assign = new Array[Int](k)
    def assignAll(): Unit = {
      var c = 0
      while (c < k) {
        var best = Double.PositiveInfinity
        var bestG = 0
        var j = 0
        while (j < g) {
          var d2 = 0.0d
          var i = 0
          while (i < dim) {
            val d = cents(c)(i) - gc(j)(i); d2 += d * d; i += 1
          }
          if (d2 < best) { best = d2; bestG = j }
          j += 1
        }
        assign(c) = bestG
        c += 1
      }
    }
    for (_ <- 0 until iters) {
      assignAll()
      val sums = Array.fill(g)(new Array[Double](dim))
      val counts = new Array[Int](g)
      var c = 0
      while (c < k) {
        val j = assign(c)
        var i = 0
        while (i < dim) { sums(j)(i) += cents(c)(i); i += 1 }
        counts(j) += 1
        c += 1
      }
      gc = Array.tabulate(g) { j =>
        if (counts(j) == 0) gc(j)
        else { val s = sums(j); Array.tabulate(dim)(i => s(i) / counts(j)) }
      }
    }
    // the member partition must reflect assignment against the
    // RETURNED group centroids (the loop updates means after its
    // assignment pass) — one final pass closes the gap
    assignAll()
    val kept = (0 until g).filter(j => assign.contains(j))
    val remap = kept.zipWithIndex.toMap
    val members = Array.fill(kept.length)(List.newBuilder[Int])
    var c = 0
    while (c < k) { members(remap(assign(c))) += c; c += 1 }
    (kept.map(gc).toArray, members.map(_.result().toArray))
  }

  /** Lloyd-sample bound for √n-cell trainings (the _store_pq
    * hash-sample discipline applied to the coarse quantizer): cap the
    * training sample at ~`perCell` vectors per centroid — FAISS-range
    * practice — so reindex training rows stay O(k·perCell) instead of
    * O(n/trainMod). Returns the base mod untouched until the cap
    * binds (n > perCell·k·base), so every committed proof scale
    * through 100× trains on the identical sample; the bound first
    * engages at the 1000× decade. */
  def boundedTrainMod(n: Long, k: Int, base: Int,
                      perCell: Int = 256): Int =
    math.max(base,
      math.ceil(n.toDouble / (perCell.toLong * k)).toInt)

  /** The pre-r17 literal-inlined Column-algebra form — the semantic
    * cross-check [[assignExprOn]]'s native kernel is spec-pinned
    * against (the dotHof discipline). */
  private[graft] def assignAlgebraOn(v: Column, cs: Array[Array[Double]],
                                     replayExact: Boolean): Column = {
    val scored = cs.zipWithIndex.map { case (cvec, j) =>
      val carr = array(cvec.map(lit): _*)
      val c2 = cvec.map(x => x * x).sum
      val raw = lit(c2) - lit(2.0) * dot(v, carr)
      struct((if (replayExact) round(raw, 6) else raw).as("s"), lit(j).as("j"))
    }
    array_min(array(scored: _*)).getField("j")
  }

  /** Per-task input-byte target for training fan-out (guide §2.2's
    * "size partitions by bytes" applied to CPU-bound sample passes).
    * Overridable per session via `graft.train.partitionBytes` for
    * deployments whose per-byte assignment cost differs (huge cell
    * counts make rows more expensive → lower it). */
  private[operators] def trainPartitionBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.train.partitionBytes")
      .map(_.toLong).getOrElse(4L << 20)

  private def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
                             k: Int, iters: Int, trainMod: Int): Array[Array[Double]] = {
    val base = df.select(col(idCol), col(vecCol).as("_v"))
    // r21 fan-out, SIZE-adaptive (guide §2.2: partitions sized by
    // bytes, not core count): when the source arrives in fewer splits
    // than the sample's volume warrants (the sf-bench parquet is ONE
    // row group → every Lloyd pass ran a single task), hash-spread
    // the SAMPLE before checkpointing it — the assignment pass (k·dim
    // dots per row, the expensive half of every iteration) is
    // embarrassingly parallel. Derived from input bytes/trainMod so a
    // kilobyte gate corpus stays at its natural single partition
    // (32-way task scheduling would cost more than the compute — the
    // measured r21 regression), while an N×-decade sample fans out to
    // the session's cores. Scoped to the training sample (1/trainMod
    // of rows, bounded by autoTrainMod at scale); the identity
    // whenever the corpus already lands in enough splits.
    val filtered = base.filter(pmod(xxhash64(col(idCol)), lit(trainMod)) === 0)
    val targetParts = {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val scanBytes = graft.sources.Tables.planBytes(base)
      ((scanBytes / math.max(1, trainMod) / trainPartitionBytes(df)) + 1)
        .min(cores.toLong).max(1L).toInt
    }
    val spread = if (targetParts > filtered.rdd.getNumPartitions)
      filtered.repartition(targetParts, col(idCol)) else filtered
    // the sample checkpoint is scoped to this training run — capture
    // its backing RDD (off its own plan node — precise under the
    // concurrent subspace trainings) and release it before returning
    // (Dataset.unpersist would be a no-op on a checkpoint)
    val sample = spread.localCheckpoint(eager = true)
    val sampleRdds =
      org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(sample)
    try {

    def collectVecs(d: DataFrame, c: String): Array[Array[Double]] =
      d.select(col(c)).collect()
        .map(_.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case dd: Double => dd
        }.toArray)

    var centroids: Array[Array[Double]] =
      collectVecs(sample.orderBy(md5(col(idCol).cast("string"))).limit(k), "_v")

    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    for (_ <- 0 until iters) {
      val assigned = sample.withColumn("cell",
        cellAssignOn(col("_v"), centroids, replayExact = false))
      // ONE aggregation per iteration (was two — the second groupBy
      // only assembled (pos, m) pairs into arrays, a k·dim-row job
      // the driver does in microseconds): collect the per-(cell, pos)
      // means — k·dim rows, kilobytes at any corpus scale — and
      // assemble the centroid arrays driver-side. The per-element
      // value is the same sum/count division the engine computed.
      val rows = assigned
        .select(col("cell"), posexplode(col("_v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("double")) / count(lit(1))).as("m"))
        .collect()
      val updated = rows.groupBy(_.getInt(0)).map { case (cell, rs) =>
        val arr = new Array[Double](dim)
        rs.foreach { r =>
          val pos = r.getInt(1)
          // dim comes from the FIRST sampled vector; a longer vector
          // in the input (inconsistent embedding dims) must fail with
          // the offending cell/pos named, not an opaque AIOOBE
          require(pos < dim, s"trainCentroids: vector position $pos in " +
            s"cell $cell exceeds the sampled dimension $dim — input " +
            "vectors have inconsistent lengths")
          arr(pos) = r.getDouble(2)
        }
        cell -> arr
      }
      // empty cells keep their previous centroid (standard Lloyd fix)
      centroids = centroids.indices
        .map(j => updated.getOrElse(j, centroids(j))).toArray
    }
    centroids
    } finally sampleRdds.foreach(_.unpersist(blocking = false))
  }

  /** Near-duplicate pairs by cosine within a blocking key (label /
    * cluster / LSH bucket) — the blocking key keeps the self-join
    * from going quadratic across the whole corpus. */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    blockCol: String, threshold: Double): DataFrame = {
    val base = df.select(col(idCol), col(blockCol), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val a = base.select(col(idCol).as("id1"), col(blockCol).as("blk"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = base.select(col(idCol).as("id2"), col(blockCol).as("blk"),
      col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        cosineWithNorms(dot(col("v1"), col("v2")), col("n1"), col("n2")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): block the
    * corpus by deterministic sign-bit LSH buckets — no labels needed
    * — then mark the higher id of every within-bucket pair above the
    * cosine threshold for removal (keep-the-lowest exemplar policy,
    * consistent with the exact-dedup family). Same scale posture as
    * [[lshTopK]]: the bucket equi-join replaces the O(n²) pair space
    * with hash-partitioned buckets whose width is tuned by
    * `numPlanes`; in production the blocking key is a k-means cell
    * over the same machinery as [[kmeansCells]] — sign-bit planes
    * keep the operator deterministic so the oracle can replay it. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, dim: Int, minCos: Double): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes).cast("long"))
      .withColumn("nrm", norm(col("v")))
    val a = base.select(col("bucket"), col("id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = base.select(col("bucket"), col("id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
      .select(col("bucket"), col("id1"), col("id2"),
        cosineWithNorms(dot(col("v1"), col("v2")), col("n1"), col("n2")).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .withColumn("drop_id", col("id2"))
  }

  /** The semdedup plane-scaling rule, EXECUTABLE (was SURVEY prose):
    * with p sign-bit planes a corpus of n vectors lands ~n/2^p per
    * bucket (uniform approximation), and the within-bucket pair join
    * is quadratic in occupancy — so a FIXED plane count makes
    * [[semanticDedup]] quadratic in corpus size. Holding occupancy
    * at a target instead keeps the pair volume ~linear in n:
    * p = ⌈log2(n / targetOccupancy)⌉. Clamped to [2, 24]: fewer than
    * 2 planes is no blocking at all; 24 planes already distinguishes
    * 16M buckets and more would outrun any real corpus while the
    * recall cost per plane compounds. */
  def autoPlanes(n: Long, targetOccupancy: Double = 64.0,
                 minPlanes: Int = 2, maxPlanes: Int = 24): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val raw = math.ceil(math.log(math.max(1L, n) / targetOccupancy)
      / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, raw))
  }

  /** [[semanticDedup]] with the plane count derived from the corpus
    * size by [[autoPlanes]] — ONE count() (cheap: parquet row-group
    * metadata) plus driver arithmetic. This is the form a production
    * run uses; the gate query keeps pinned planes so the oracle can
    * replay them as literals. */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, minCos: Double,
                        targetOccupancy: Double = 64.0): DataFrame =
    semanticDedup(df, idCol, vecCol,
      autoPlanes(df.count(), targetOccupancy), dim, minCos)

  /** IVF cell-count rule, EXECUTABLE (the [[autoPlanes]] discipline
    * applied to the coarse quantizer): ncells = ⌈√n⌉. A probe's cost
    * splits into the coarse scan (∝ ncells centroid distances) and
    * the member scan (∝ nprobe · n/ncells code rows); √n balances
    * the two so BOTH grow as √n — a FIXED cell count instead grows
    * the member side linearly, which is exactly how the 8-cell index
    * leaves its rated occupancy band under replication (n/8 per
    * cell) and its recall floor stops applying. Clamped to
    * [8, 65536]: fewer than 8 cells is barely an index, and past 64k
    * cells the driver-held centroid set (ncells·dim doubles) and the
    * per-row assignment expression width say go hierarchical (a
    * two-level coarse quantizer), not wider. */
  def autoCells(n: Long, minCells: Int = 8, maxCells: Int = 1 << 16): Int = {
    val raw = math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt
    math.min(maxCells, math.max(minCells, raw))
  }

  /** IVFADC operating-point rule, EXECUTABLE (the [[autoPlanes]]/
    * [[autoCells]] discipline applied to the (nprobe, shortlist)
    * knobs): given a measured tuning frame with (nprobe, shortlist,
    * recall_at_3) rows — the s_ivfpq_tuning output shape, a ≤|grid|
    * row table — return the CHEAPEST config whose recall meets
    * `floor`, where cost orders lexicographically by nprobe (probed
    * member-scan volume, ∝ nprobe·n/ncells code rows, dominates)
    * then shortlist (exact-rerank rows, ≤ |Q|·shortlist float
    * fetches). Returns None when NO config meets the floor — the
    * caller's signal that the index is out of its rated occupancy
    * regime and the answer is [[autoCells]]-sized re-training
    * (AnnIndex.reindex), not probing harder.
    *
    * Regime note: recall is structurally non-decreasing in shortlist
    * at fixed nprobe (a larger shortlist is a superset fed to the
    * exact rerank — spec-pinned), but NOT in nprobe at fixed
    * shortlist (extra probed candidates can crowd true positives out
    * of a small ADC shortlist), so the rule reads the measured frame
    * instead of assuming a monotone frontier. Callers should check
    * mean cell occupancy is inside the rated band before trusting
    * the measured recalls (the s_ivfpq_tuning in-regime guard).
    * Driver-side cost: one collect of the tuning grid (≤ dozens of
    * rows at any corpus size). */
  def autoOperatingPoint(tuning: DataFrame, floor: Double): Option[(Int, Int)] =
    tuning.select(col("nprobe").cast("long"), col("shortlist").cast("long"),
        col("recall_at_3").cast("double"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
      .filter(_._3 >= floor)
      .sortBy(t => (t._1, t._2))
      .headOption
      .map(t => (t._1, t._2))

  /** Product-quantization codebooks (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * vector splits into `m` contiguous subspaces of dim/m dims, each
    * trained independently with the SAME deterministic Lloyd trainer
    * as the IVF coarse quantizer ([[kmeansCentroids]] on the sliced
    * frame). Returns books(m)(j) = the j-th sub-centroid of subspace
    * m — m·ks·(dim/m) doubles, kilobytes at any corpus scale, held
    * driver-side and interpolated into engine-independent replays. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, ks: Int, dim: Int, iters: Int = 4,
                  trainMod: Int = 4,
                  cacheKey: Option[String] = None): Array[Array[Array[Double]]] =
    SessionStore.memo(df.sparkSession, cacheKey, pqBooksName(m, ks, iters, trainMod))(
      trainPqBooks(df, idCol, vecCol, m, ks, dim, iters, trainMod))

  /** The m subspace trainings behind one codebook set. They are
    * INDEPENDENT Lloyd runs, submitted as concurrent Spark jobs
    * instead of m sequential chains of iters-each tiny jobs; each
    * run's own math is untouched, so every book trains to the same
    * values as a sequential loop. A dedicated fixed pool of 3 (2-3
    * jobs in flight is plenty) bounds in-flight trainings, owns its
    * blocking and dies with the call. The set is one store entry
    * (the caller's), never m: a subspace training must not read as a
    * coarse-quantizer training in [[SessionStore.trained]]. A failed
    * training propagates out of Await.result as soon as
    * Future.sequence sees it. */
  private def trainPqBooks(df: DataFrame, idCol: String, vecCol: String,
                           m: Int, ks: Int, dim: Int, iters: Int,
                           trainMod: Int): Array[Array[Array[Double]]] = {
    val sd = dim / m
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(3, m)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val trainings = (0 until m).map { sub =>
        Future {
          val sliced = df.select(col(idCol),
            slice(col(vecCol), sub * sd + 1, sd).as(vecCol))
          trainCentroids(sliced, idCol, vecCol, ks, iters, trainMod)
        }
      }
      Await.result(Future.sequence(trainings), Duration.Inf).toArray
    } finally pool.shutdown()
  }

  /** PQ code assignment: (id, code_0 … code_{m-1}) — each subspace
    * slice argmin'd against its codebook (6-digit-rounded score,
    * lower-index tiebreak: the [[kmeansCells]] replay discipline).
    * The codes are the COMPRESSED representation a 100-TB index
    * stores: m small ints (m bytes packed) instead of dim floats —
    * a 64-dim float vector shrinks 64× at m=4. Row-local, zero
    * shuffle; at scale this runs once at ingest and the float
    * vectors never leave cold storage again. */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              books: Array[Array[Array[Double]]]): DataFrame = {
    val codeCols = books.zipWithIndex.map { case (b, sub) =>
      val sd = b(0).length
      assignExprOn(slice(col(vecCol), sub * sd + 1, sd), b,
        replayExact = true).cast("long").as(s"code_$sub")
    }
    df.select(col(idCol) +: codeCols.toSeq: _*)
  }

  /** PQ asymmetric-distance top-k (ADC shortlist + exact rerank —
    * the standard two-stage PQ pipeline): queries stay full-
    * precision; each query precomputes an m×ks inner-product LUT
    * against the codebook literals (a per-QUERY cost — m·ks dot
    * products), and a candidate's approximate inner product is then
    * m LUT lookups on its code — no float-vector access on the
    * candidate side. The top-`shortlist` candidates by compressed
    * score then rerank on the exact cosine, and only they touch the
    * float vectors. That asymmetry is the 100-TB point: the scored
    * frame is broadcast(queries-with-LUT) × codes, so the big side
    * streams m-byte codes only, and the exact store serves just
    * |Q|·shortlist fetches (the candidate stream also composes with
    * an IVF probe join over [[kmeansCells]] to prune before
    * scoring). Both rankings round to 6 digits with a cid tiebreak
    * (replay discipline). */
  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, books: Array[Array[Array[Double]]],
             k: Int, shortlist: Int = 32): DataFrame = {
    val codes = pqCodes(candidates, idCol, vecCol, books)
      .withColumnRenamed(idCol, "cid")
    val scored = codes.crossJoin(pqQueryLut(queries, idCol, vecCol, books))
      .filter(col("qid") =!= col("cid"))
      .withColumn("approx_score", round(adcScore(books.length), 6))
      .select(col("qid"), col("cid"), col("approx_score"))
    adcShortlistRerank(scored, queries, candidates, idCol, vecCol,
      k, shortlist)
  }

  // ------------------------------------------------------------------
  // Residual encoding (Jégou'11 §IV — the ACTUAL IVFADC method):
  // PQ codes the residual x − q1(x) instead of the raw vector. The
  // residual's variance is a fraction of the raw vector's (the coarse
  // quantizer has already explained the cell mean), so the same m
  // bytes quantize far more finely — this is where the composed
  // index's recall stops being capped at the un-pruned raw-PQ
  // baseline. Everything stays engine-replayable via one identity:
  //
  //   ‖res_slice − b‖² = (‖b‖² + 2⟨c_slice, b⟩) − 2⟨x_slice, b⟩
  //
  // The parenthesized term depends only on (cell, subspace, code) —
  // a driver-computed LITERAL table ([[residualOffsets]]) — so
  // residual assignment runs on the SAME raw-slice dots as raw PQ
  // (the residual never materializes per row), and both engines
  // compute the identical expression. Likewise ADC scoring:
  //   ⟨q, x̂⟩ = ⟨q, c_cell⟩ + Σₘ lut_m[code_m]
  // — the raw-slice query LUTs are unchanged; the per-(query, cell)
  // ⟨q, c⟩ term rides the probe frame ([[probeCells]]' qcdot).

  /** Residual frame (id, vecCol = x − c_cell as array<double>):
    * TRAINING-path helper — the codebook trainer needs actual
    * residual vectors; the per-row coding/search paths never
    * materialize them (see [[residualOffsets]]). Row-local: assign
    * against centroid literals, subtract the looked-up centroid. */
  def residualFrame(df: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]]): DataFrame = {
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    df.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("_vd"),
        cellAssignOn(col(vecCol), cents, replayExact = true)
          .cast("int").as("_cell"))
      .select(col(idCol),
        zip_with(col("_vd"), element_at(centArr, col("_cell") + 1),
          (a, b) => a - b).as(vecCol))
  }

  /** PQ codebooks trained on coarse residuals — the same
    * deterministic Lloyd trainer, fed x − q1(x). Stored under its own
    * name so residual books never collide with raw-vector books
    * trained in the same session. */
  def pqResidualCodebooks(df: DataFrame, idCol: String, vecCol: String,
                          cents: Array[Array[Double]],
                          m: Int, ks: Int, dim: Int, iters: Int = 4,
                          trainMod: Int = 4,
                          cacheKey: Option[String] = None): Array[Array[Array[Double]]] =
    SessionStore.memo(df.sparkSession, cacheKey,
        pqResidualBooksName(m, ks, iters, trainMod))(
      trainPqBooks(residualFrame(df, idCol, vecCol, cents), idCol, vecCol,
        m, ks, dim, iters, trainMod))

  /** offsets(cell)(m)(j) = ‖b_mj‖² + 2⟨slice_m(c_cell), b_mj⟩ — the
    * cell-dependent constant that turns residual assignment into
    * raw-slice dots (see the identity above). ncells·m·ks doubles,
    * computed driver-side with a fixed fold order and interpolated
    * into BOTH engines as literals, so the two sides' assignment
    * scores are built from identical terms. */
  def residualOffsets(cents: Array[Array[Double]],
                      books: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] =
    cents.map { c =>
      books.zipWithIndex.map { case (b, sub) =>
        val sd = b(0).length
        b.map { bj =>
          var b2 = 0.0; var cb = 0.0
          var i = 0
          while (i < sd) {
            b2 += bj(i) * bj(i)
            cb += c(sub * sd + i) * bj(i)
            i += 1
          }
          b2 + 2.0 * cb
        }
      }
    }

  /** Residual PQ coding: (id, cell, code_0..code_{m-1}) in ONE pass —
    * the row-local ingest/build projection of the residual index.
    * Stage 1 computes everything that touches the floats exactly once
    * (cell argmin + all m·ks raw-slice dots); the identity
    * mapPartitions is a COLLAPSE BARRIER (the t_classifier_score
    * lesson), NOT an exchange: the object boundary it inserts is one
    * CollapseProject cannot cross, so stage 2's m·ks references to
    * `cell` read a computed attribute instead of re-running the
    * ncells-way argmin per reference — and rows stream through
    * partition-locally instead of shuffling (id, cell, m·ks doubles)
    * corpus-wide (the earlier repartition barrier cost the 100×
    * in-session search 10.6 → 26.7 s; nothing here needs a
    * distribution change, only a codegen fence). */
  def pqCodesResidual(df: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Double]],
                      books: Array[Array[Array[Double]]],
                      carryCols: Seq[String] = Nil): DataFrame = {
    val offs = residualOffsets(cents, books)
    val dcCols = books.zipWithIndex.flatMap { case (b, sub) =>
      val sd = b(0).length
      val v = slice(col(vecCol), sub * sd + 1, sd)
      b.zipWithIndex.map { case (bj, j) =>
        dot(v, array(bj.map(lit): _*)).as(s"_dc_${sub}_$j")
      }
    }
    // carryCols (metadata the index serves filtered searches with —
    // AnnIndex metaCols) ride the row-local projection untouched
    val stage1Raw = df.select(col(idCol) +:
        cellAssignOn(col(vecCol), cents, replayExact = true)
          .cast("long").as("cell") +:
        (dcCols.toSeq ++ carryCols.map(col)): _*)
    val stage1 = stage1Raw.mapPartitions(it => it)(
      org.apache.spark.sql.Encoders.row(stage1Raw.schema))
    // r17: the cell-dependent offset argmin as ONE native expression
    // per subspace (graft.plans.OffsetArgmin, offsets by reference) —
    // the element_at(array(ncells literals)) algebra inlined
    // 4·8·ncells literal nodes and blew janino's 64 KB limit at the
    // √n reindex cell counts (same parity pin as NearestCell)
    val codeCols = books.zipWithIndex.map { case (b, sub) =>
      val offSub: IndexedSeq[IndexedSeq[Double]] =
        offs.map(oc => oc(sub).toIndexedSeq).toIndexedSeq
      val dcArr = array(b.indices.map(j => col(s"_dc_${sub}_$j")): _*)
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.OffsetArgmin(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("cell")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(dcArr),
          offSub))
        .cast("long").as(s"code_$sub")
    }
    stage1.select(col(idCol) +: col("cell") +:
      (codeCols.toSeq ++ carryCols.map(col)): _*)
  }

  /** Mean residual quantization error of `books` under `cents` on a
    * hash sample: avg over rows of Σₘ min_j ‖res_m − b_mj‖², where
    * res = x − q1(x). The per-row work is row-local (residuals
    * materialize only on the bounded sample, the training-path
    * allowance) and the result is one partial avg — a maintenance
    * DIAGNOSTIC, not a query path. */
  def residualQuantError(df: DataFrame, idCol: String, vecCol: String,
                         cents: Array[Array[Double]],
                         books: Array[Array[Array[Double]]],
                         trainMod: Int = 4): Double = {
    val sample =
      if (trainMod <= 1) df
      else df.filter(pmod(xxhash64(col(idCol)), lit(trainMod)) === 0)
    val res = residualFrame(sample, idCol, vecCol, cents)
    val errCols = books.zipWithIndex.map { case (b, sub) =>
      val sd = b(0).length
      val v = slice(col(vecCol), sub * sd + 1, sd)
      // ‖v − b‖² = ‖v‖² + (‖b‖² − 2⟨v, b⟩): ‖v‖² computed once per
      // subspace, the j-dependent part a least() over ks arms
      val best = least(b.map { bj =>
        val b2 = bj.map(x => x * x).sum
        lit(b2) - lit(2.0) * dot(v, array(bj.map(lit): _*))
      }: _*)
      (dot(v, v) + best).as(s"_e_$sub")
    }
    res.select(errCols: _*)
      .select(books.indices.map(i => col(s"_e_$i"))
        .reduce(_ + _).as("_e"))
      .agg(avg(col("_e"))).head().getDouble(0)
  }

  /** PQ-book STALENESS ratio (the reindex maintenance approximation
    * made measurable): mean residual quantization error of the KEPT
    * books under the new coarse quantizer, over the error of books
    * FRESH-trained on the same (corpus, cents, sample). ≈1 means the
    * kept books still quantize the current residual distribution
    * about as well as a re-train would — the standard approximation
    * holds; a ratio ≥ [[BookDriftThreshold]] recommends a full
    * re-train (AnnIndex.write with fresh trainings) instead of
    * another code-only reindex. Cost: one extra Lloyd run + two
    * sampled error aggs — maintenance-window work, bounded by
    * trainMod at any corpus size. */
  def bookDrift(df: DataFrame, idCol: String, vecCol: String,
                newCents: Array[Array[Double]],
                keptBooks: Array[Array[Array[Double]]],
                iters: Int = 4, trainMod: Int = 4): Double =
    bookDriftDetail(df, idCol, vecCol, newCents, keptBooks,
      iters, trainMod)._1

  /** [[bookDrift]] plus the fresh books the measurement trained —
    * so a caller that decides to ACT on a firing ratio (re-train)
    * reuses the comparison training instead of paying Lloyd twice
    * (AnnIndex.reindexAuto's path). */
  def bookDriftDetail(df: DataFrame, idCol: String, vecCol: String,
                      newCents: Array[Array[Double]],
                      keptBooks: Array[Array[Array[Double]]],
                      iters: Int = 4, trainMod: Int = 4)
      : (Double, Array[Array[Array[Double]]]) = {
    val m = keptBooks.length
    val ks = keptBooks(0).length
    val dim = keptBooks(0)(0).length * m
    val fresh = pqResidualCodebooks(df, idCol, vecCol, newCents,
      m, ks, dim, iters, trainMod)
    val keptErr = residualQuantError(df, idCol, vecCol, newCents,
      keptBooks, trainMod)
    val freshErr = residualQuantError(df, idCol, vecCol, newCents,
      fresh, trainMod)
    (keptErr / freshErr, fresh)
  }

  /** The drift ratio past which [[bookDrift]] recommends a full PQ
    * re-train: kept books quantizing ≥ 1.5× worse than a fresh
    * training is distribution shift, not sampling noise (replicated
    * same-distribution corpora measure ≈ 1 — spec-pinned). */
  val BookDriftThreshold = 1.5

  /** Residual-ADC scored stream with probe rank carried: (qid, cid,
    * pr, approx_score) where approx_score = round(⟨q, c_cell⟩ +
    * Σₘ lut_m[code_m], 6) ≈ ⟨q, x̂⟩. The composed-search shape is
    * identical to [[ivfPqScored]] — probe prune before any code is
    * scored, broadcast probe/LUT frames, m-byte codes streaming —
    * the only change is WHAT the codes reconstruct. */
  def ivfPqResidualScored(queries: DataFrame, candidates: DataFrame,
                          idCol: String, vecCol: String,
                          cents: Array[Array[Double]],
                          books: Array[Array[Array[Double]]],
                          maxProbe: Int): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, cents, maxProbe)
    val codes = pqCodesResidual(candidates, idCol, vecCol, cents, books)
      .withColumnRenamed(idCol, "cid")
    codes.join(broadcast(probes), "cell")
      .join(pqQueryLut(queries, idCol, vecCol, books), "qid")
      .filter(col("qid") =!= col("cid"))
      .withColumn("approx_score",
        round(col("qcdot") + adcScore(books.length), 6))
      .select(col("qid"), col("cid"), col("pr"), col("approx_score"))
  }

  /** True IVFADC top-k (residual-encoded): probe prune → residual ADC
    * → sharded shortlist → exact rerank. Same oracle-replay
    * discipline as [[ivfPqTopK]]; recall at the same (nprobe,
    * shortlist) operating point is strictly better because the codes
    * now quantize the residual, not the raw vector. */
  def ivfPqResidualTopK(queries: DataFrame, candidates: DataFrame,
                        idCol: String, vecCol: String,
                        cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]],
                        k: Int, nprobe: Int = 3, shortlist: Int = 32): DataFrame = {
    val scored = ivfPqResidualScored(queries, candidates, idCol, vecCol,
        cents, books, maxProbe = nprobe)
      .select(col("qid"), col("cid"), col("approx_score"))
    adcShortlistRerank(scored, queries, candidates, idCol, vecCol,
      k, shortlist)
  }

  /** IVF-pruned PQ search (IVFADC — Jégou'11 §IV): the coarse
    * quantizer restricts each query to its `nprobe` nearest trained
    * cells BEFORE any code is scored, so the ADC stream reads the
    * probed cells' members instead of the whole corpus — at 100 TB
    * the codes table is bucketed/partitioned by cell and the probe
    * equi-join prunes partitions at the scan. Scoring stays
    * compressed-domain (m LUT lookups on m-byte codes), the
    * shortlist is the sharded two-phase top-k, and only
    * |Q|·shortlist rows touch float vectors in the exact rerank.
    * Probe ranking is deterministic (6-digit-rounded dot against the
    * trained centroid LITERALS, cell-index tiebreak), so the whole
    * composed pipeline replays in an engine-independent oracle. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                vecCol: String, cells: DataFrame,
                cents: Array[Array[Double]],
                books: Array[Array[Array[Double]]],
                k: Int, nprobe: Int = 3, shortlist: Int = 32): DataFrame = {
    val scored = ivfPqScored(queries, candidates, idCol, vecCol, cells,
        cents, books, maxProbe = nprobe)
      .select(col("qid"), col("cid"), col("approx_score"))
    adcShortlistRerank(scored, queries, candidates, idCol, vecCol,
      k, shortlist)
  }

  /** The probe + ADC scoring stage of [[ivfPqTopK]] with each
    * candidate's probe rank (`pr`) carried: (qid, cid, pr,
    * approx_score). Shared by the search path (which prunes at
    * maxProbe = nprobe and drops `pr`) and the calibration curve
    * (which scores ONCE at the grid's max nprobe and then grids over
    * (nprobe, shortlist) by filtering `pr` — re-scoring per config
    * would rerun the ADC stream 24×). */
  def ivfPqScored(queries: DataFrame, candidates: DataFrame, idCol: String,
                  vecCol: String, cells: DataFrame,
                  cents: Array[Array[Double]],
                  books: Array[Array[Array[Double]]],
                  maxProbe: Int): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, cents, maxProbe)
    val codes = pqCodes(candidates, idCol, vecCol, books)
      .withColumnRenamed(idCol, "cid")
      .join(cells.select(col(idCol).as("cid"), col("cell")), "cid")
    codes.join(broadcast(probes), "cell")
      .join(pqQueryLut(queries, idCol, vecCol, books), "qid")
      .filter(col("qid") =!= col("cid"))
      .withColumn("approx_score", round(adcScore(books.length), 6))
      .select(col("qid"), col("cid"), col("pr"), col("approx_score"))
  }

  /** The IVF probe ranking stage shared by [[ivfPqScored]] and the
    * persisted-index search ([[AnnIndex.search]]): (qid, cell, pr,
    * qcdot) — each query's `maxProbe` nearest trained cells. |Q| ×
    * n_cells probe scores; the per-qid window ranks exactly n_cells
    * rows per partition — bounded by the centroid count, never the
    * corpus. Probe ranking uses the SAME rounded squared-L2 score the
    * cell assignment argmins (‖c‖² − 2⟨q,c⟩ asc, cell tiebreak) — a
    * raw-inner-product ranking would probe cells that don't hold the
    * L2-assigned true neighbors when embeddings are unnormalized,
    * silently depressing recall. `qcdot` = the UNROUNDED ⟨q, c_cell⟩
    * — the per-(query, cell) term residual ADC adds to its LUT sum
    * (raw-PQ consumers just drop the column). */
  private[operators] def probeCells(queries: DataFrame, idCol: String,
                                    vecCol: String,
                                    cents: Array[Array[Double]],
                                    maxProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val wP = Window.partitionBy("qid").orderBy(col("cscore").asc, col("cell"))
    // r18: ONE native CellScores table per query (centroids by
    // reference) — the literal-inlined per-cell struct array below it
    // replaced blew janino's 64 KB limit at reindex cell counts and
    // fell back to interpreted on the query frame (bounded by |Q|,
    // but the last fallback site in the ANN family); bit-parity with
    // the algebra pinned in SaltingAndIvfSpec
    q.select(col("qid"), posexplode(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.plans.CellScores(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("qvec")),
            cents.map(_.toIndexedSeq).toIndexedSeq)))
        .as(Seq("cell", "ps")))
      .select(col("qid"), col("cell"), col("ps.cs").as("cscore"),
        col("ps.qd").as("qcdot"))
      .withColumn("prnk", row_number().over(wP))
      .filter(col("prnk") <= maxProbe)
      .select(col("qid"), col("cell").cast("long").as("cell"),
        col("prnk").cast("long").as("pr"), col("qcdot"))
  }

  /** Row-local cell assignment against trained centroid LITERALS —
    * what a delta append runs at ingest: no training, no shuffle,
    * identical rounding/tiebreak to [[kmeansCells]] so appended rows
    * land in exactly the cells a full rebuild would give them. */
  def assignCellsLiteral(df: DataFrame, idCol: String, vecCol: String,
                         cents: Array[Array[Double]]): DataFrame =
    df.select(col(idCol),
      cellAssignOn(col(vecCol), cents, replayExact = true)
        .cast("long").as("cell"))

  /** Broadcast per-query ADC lookup tables: lut_m[j] = ⟨q_slice_m,
    * codebook_m[j]⟩ — m·ks dot products per query, kilobytes total. */
  private[operators] def pqQueryLut(queries: DataFrame, idCol: String, vecCol: String,
                         books: Array[Array[Array[Double]]]): DataFrame = {
    val lutCols = books.zipWithIndex.map { case (b, sub) =>
      val sd = b(0).length
      array(b.map(cj =>
        dot(slice(col("qvec"), sub * sd + 1, sd),
          array(cj.map(lit): _*))).toSeq: _*).as(s"lut_$sub")
    }
    broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .select(col("qid") +: lutCols.toSeq: _*))
  }

  /** Approximate inner product: m LUT lookups on the candidate's
    * codes — no float-vector access on the candidate side. */
  private[operators] def adcScore(m: Int): Column =
    (0 until m).map(sub =>
      element_at(col(s"lut_$sub"), (col(s"code_$sub") + lit(1)).cast("int")))
      .reduce(_ + _)

  /** Shortlist + exact rerank shared by the ADC paths. Shortlist via
    * two-phase sharded top-k: a plain per-qid rank window would sort
    * the ENTIRE scored stream on one task per query. Sharding on cid
    * bounds phase 2 at shards·shortlist rows per query while staying
    * row-identical to the logical window (total order: approx_score
    * desc, cid). Only the ≤ |Q|·shortlist survivors join back to the
    * float vectors. */
  private[operators] def adcShortlistRerank(scored: DataFrame, queries: DataFrame,
                                 candidates: DataFrame, idCol: String,
                                 vecCol: String, k: Int,
                                 shortlist: Int): DataFrame = {
    val shortPairs = ShardedWindow.topK(scored, "qid",
        Seq(col("approx_score").desc, col("cid")), shortlist,
        shardOn = col("cid"), shards = 16, rankOut = "srnk")
      .select("qid", "cid")
    val qv = broadcast(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
        .withColumn("qnrm", norm(col("qvec"))))
    val cv = candidates.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    shortPairs.join(qv, "qid").join(cv, "cid")
      .select(col("qid"), col("cid"),
        cosineWithNorms(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
