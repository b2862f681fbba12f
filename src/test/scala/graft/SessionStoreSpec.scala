package graft

import graft.operators.{Dedup, SessionStore, Similarity}
import graft.queries.LlmData

/** The session store: one entry per (session, sf dir, name), one
  * release call that frees every RDD block and temp dir the entries
  * own, and the oracle's one-training-per-JVM guard read off it. */
class SessionStoreSpec extends SparkSpec {

  private val ivfCents = Similarity.centroidsName(k = 8, iters = 4, trainMod = 4)

  test("two sessions over one sf dir train separate entries") {
    Dedup.clearStore()
    val (s1, s2) = (spark.newSession(), spark.newSession())
    LlmData.storeBuilders("_store_kmeans")(s1, sf)
    assert(SessionStore.trained[Array[Array[Double]]](ivfCents).size == 1)
    LlmData.storeBuilders("_store_kmeans")(s1, sf)
    assert(SessionStore.trained[Array[Array[Double]]](ivfCents).size == 1,
      "same session, same dir: the second build must hit the entry")
    LlmData.storeBuilders("_store_kmeans")(s2, sf)
    val both = SessionStore.trained[Array[Array[Double]]](ivfCents)
    assert(both.size == 2, "the second session must train its own entry")
    // deterministic Lloyd: the separate trainings agree exactly
    assert(both(0).map(_.toSeq).toSeq == both(1).map(_.toSeq).toSeq)
    Dedup.clearStore()
  }

  test("trained keys reach oracleSql only while one session has trained") {
    Dedup.clearStore()
    val keys = Seq("s_ivf_topk", "s_pq_topk", "t_classifier_score")
    val s1 = spark.newSession()
    keys.foreach(k => SparkEntry.queries(k)(s1, sf))
    val one = SparkEntry.oracleSql.keySet
    assert(keys.forall(one.contains), s"missing: ${keys.filterNot(one.contains)}")
    // a PQ subspace training is its own entry, never an IVF centroid set
    assert(SessionStore.trained[Array[Array[Double]]](ivfCents).size == 1)
    val s2 = spark.newSession()
    keys.foreach(k => SparkEntry.queries(k)(s2, sf))
    val two = SparkEntry.oracleSql.keySet
    assert(keys.forall(k => !two.contains(k)),
      s"ambiguous trainings still interpolated: ${keys.filter(two.contains)}")
    Dedup.clearStore()
  }

  test("clearStore unpersists claimed RDDs and deletes owned temp dirs") {
    Dedup.clearStore()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ownedDirs: Set[String] = tmp.listFiles().toSet
      .filter(f => f.isDirectory && Seq("graft_ann", "graft_annre", "graft_stream")
        .exists(f.getName.startsWith))
      .map(_.getName)
    val before = ownedDirs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val preexisting = persisted
    val s = spark.newSession()
    Seq("_store_minhash", "_store_annindex", "_store_annreindex")
      .foreach(k => LlmData.storeBuilders(k)(s, sf))
    // every block the store builds left persisted is one they claimed
    val claimed = persisted -- preexisting
    assert(claimed.nonEmpty)
    SparkEntry.queries("p_stream_sessions")(s, sf).collect()
    val created = ownedDirs -- before
    assert(created.size >= 3, s"expected ann, annre and stream dirs: $created")

    Dedup.clearStore()
    assert((ownedDirs -- before).isEmpty, s"leaked: ${ownedDirs -- before}")
    assert((claimed & persisted).isEmpty, s"still persisted: ${claimed & persisted}")
    assert(SessionStore.trained[Any]("annIndex").isEmpty)
    assert(SessionStore.trained[Any](ivfCents).isEmpty)
  }

  test("no session stash outside the store in the query and operator layers") {
    val roots = Seq("queries", "operators")
      .map(p => new java.io.File(s"src/main/scala/graft/$p"))
    assert(roots.forall(_.isDirectory), "run from the project root")
    val offenders = for {
      root <- roots
      f <- root.listFiles().toSeq
      if f.getName.endsWith(".scala") && f.getName != "SessionStore.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      bad <- Seq("TrieMap", "onClearStore") if src.contains(bad)
    } yield s"${f.getName}: $bad"
    assert(offenders.isEmpty, s"use SessionStore.memo instead: $offenders")
  }
}
