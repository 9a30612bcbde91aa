package graft

import org.apache.spark.sql.functions._

/** Pins the session-scoped ANN index reuse for the `nearest` language
  * stage (r20) and the r21 FULL-CORPUS staleness key (the r20 ADVICE
  * high item): the SECOND execution of the same `nearest` query in a
  * session must read the index committed by the first — same store
  * manifest (no rebuild commit), no new graft-hql-annidx-* temp
  * directory — and return row-identical results. The index table is
  * keyed by a full-corpus fingerprint, so ANY corpus change — even one
  * invisible to the ≤256-row codebook training sample — gets a fresh
  * index, and alternating corpora reuse their own instead of
  * rebuilding each other's. */
class AnnIndexReuseSpec extends SparkSpec {

  private def nearestQuery(e: org.apache.spark.sql.DataFrame) =
    graft.heroql.HeroQL.compileCollection(
      "data Embeddings(vec_id: int64, embedding: vecf32).\n",
      """collection_query(probe_id, neighbor_id, cos_sim, rank) :-
           Embeddings(vec_id, embedding)
         nearest(vec_id, embedding) k 5 probes 20
           as (probe_id, neighbor_id, cos_sim, rank)
         ;""",
      Map("Embeddings" -> e))

  private def annTmpDirs(): Set[String] = {
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir", "/tmp"))
    val it = java.nio.file.Files.list(tmp).iterator()
    var out = Set.empty[String]
    try {
      while (it.hasNext) {
        val p = it.next().getFileName.toString
        if (p.startsWith("graft-hql-annidx-")) out += p
      }
    } finally () // Files.list's stream is closed with the iterator GC; bounded test use
    out
  }

  /** The session store's committed (table → manifest) map for the
    * fp-keyed ann_index_* tables. */
  private def annManifests(): Map[String, Option[String]] = {
    val store = graft.heroql.Planner.annIndexStore(spark)
    store.tables.filter(_.startsWith("ann_index_"))
      .map(t => t -> store.currentManifestName(t)).toMap
  }

  test("second nearest execution reuses the session index (no rebuild, no new temp dir)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dirs0 = annTmpDirs()
    val r1 = nearestQuery(e).collect().sortBy(r => (r.getLong(0), r.getLong(3)))
    val m1 = annManifests()
    assert(m1.nonEmpty, "first execution must commit an index table")
    val dirs1 = annTmpDirs()
    // at most one new session dir (zero if an earlier test in this JVM
    // session already created it)
    assert((dirs1 -- dirs0).size <= 1)
    val r2 = nearestQuery(e).collect().sortBy(r => (r.getLong(0), r.getLong(3)))
    val m2 = annManifests()
    assert(m2 === m1, "second execution must NOT rebuild any index")
    assert(annTmpDirs() === dirs1, "no new temp dir per execution")
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq)
  }

  test("a corpus change gets its own index; alternating corpora reuse both") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    nearestQuery(e).collect()
    val m1 = annManifests()
    // different corpus (filtered ids + halved vectors) → different
    // corpus fingerprint → its OWN index table; the original's manifest
    // must not move (no rebuild churn when corpora alternate)
    val e2 = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        expr("transform(embedding, x -> x * 0.5F)").as("embedding"))
    nearestQuery(e2).collect()
    val m2 = annManifests()
    assert(m2.keySet.size > m1.keySet.size,
      "a changed corpus must build a NEW index table")
    m1.foreach { case (t, m) =>
      assert(m2(t) === m, s"corpus change must not touch $t")
    }
    // alternating back: both corpora now reuse their committed index
    nearestQuery(e).collect()
    nearestQuery(e2).collect()
    assert(annManifests() === m2,
      "alternating corpora must reuse both indexes, not rebuild")
  }

  test("three corpora in turn leave at most two index tables and two build locks") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpora = Seq(
      e,
      e.filter(col("vec_id") % 2 === 0),
      e.filter(col("vec_id") % 3 =!= 0)
        .select(col("vec_id"), expr("transform(embedding, x -> x * 2.0F)").as("embedding")))
    corpora.foreach(nearestQuery(_).collect())
    val kept = annManifests()
    val root = graft.heroql.Planner.annIndexStore(spark).root
    assert(kept.size <= 2, s"index tables kept: ${kept.keySet}")
    assert(graft.queries.Similarity.annBuildLockCount(root) <= 2)
    // the two most recently used are the ones kept: both still reuse
    corpora.tail.foreach(nearestQuery(_).collect())
    assert(annManifests() === kept)
  }

  test("a sample-INVISIBLE corpus change still rebuilds (full-corpus staleness key)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = nearestQuery(e).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    // append a row the codebook training sample can never see: the
    // sample filter is vec_id >= 20 && vec_id % 3 == 1, so a new max-id
    // row with id % 3 == 0 changes NOTHING about the sample or the
    // codebooks — the r20 sample-only fingerprint would silently reuse
    // the stale index and this vector could never be a neighbor. Give
    // it probe 0's embedding: cosine 1.0 makes it probe 0's rank-1
    // neighbor iff the index actually rebuilt.
    val maxId = e.agg(max("vec_id")).head.getLong(0)
    val newId = (maxId / 3 + 1) * 3 // next multiple of 3 above maxId
    val probe0vec = e.filter(col("vec_id") === 0L).head.getSeq[Float](1)
    val appended = e.unionByName(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(newId, probe0vec)),
      e.schema))
    val r2 = nearestQuery(appended).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(r2((0L, 1L)) === newId,
      "the appended exact-duplicate vector must be probe 0's top neighbor " +
        "— a stale (sample-keyed) index could never return it")
    assert(base((0L, 1L)) !== newId)
  }
}
