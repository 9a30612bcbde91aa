package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.{GraphOps, MinHashLSH}
import graft.queries.Dedup

/** Stage-by-stage wall profile of dd14c (the headline's heaviest line):
  * times each phase of layeredLshKeeper at sf0.1 so the optimization
  * target is measured, not guessed (guide §1.1). Each phase materializes
  * via noop-equivalent count on a localCheckpoint so downstream phases
  * don't re-pay upstream cost. */
object Dd14Prof {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.cc.debug", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup (same as Bench)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/nation.parquet").count()

    def phase[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); val r = f
      println(f"PHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    (1 to 3).foreach { round =>
      println(s"--- round $round ---")
      phase("dd14c END-TO-END") {
        graft.SparkEntry.queries("dd14c_fp_layered_keeper")(spark, d).count()
      }
      spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(true))
      val t0 = System.nanoTime()
      val docs = t(spark, d, "documents").select(col("doc_id"), col("text"))
      val reps = phase("fpCollapse+ckpt") {
        val r = Dedup.fpCollapse(docs).localCheckpoint(); r.count(); r
      }
      val repDocs = phase("repDocs-join") {
        val r = docs.join(reps.select(col("rep_id")),
          docs("doc_id") === col("rep_id"))
          .select(col("doc_id"), col("text")).localCheckpoint()
        println(s"  reps: ${r.count()}"); r
      }
      // --- inside nearDuplicates(HashFamily.Md5, ...) (replicated stage by stage) ---
      val (cas, cbs) = MinHashLSH.coeffs(63)
      graft.functions.VectorFns.register(spark, cas, cbs)
      val par = spark.sparkContext.defaultParallelism
      val sigs = phase("  md5 sigs+ckpt (native)") {
        val sg = repDocs.repartition(par)
          .withColumn("h", expr("graft_shingle_hashes_md5(text, 5)"))
          .filter(size(col("h")) > 0)
          .withColumn("_mh", expr("graft_minhash_sig_long(h)"))
          .select(col("doc_id"), col("h"), col("_mh"))
          .localCheckpoint()
        sg.count(); sg
      }
      def banded(idAs: String) = sigs.select(col("doc_id").as(idAs), explode(expr(
        """transform(sequence(0, 20),
              bi -> struct(bi AS band,
                array_join(transform(slice(_mh, bi * 3 + 1, 3),
                  x -> CAST(x AS STRING)), ':') AS sig))""")).as("b"))
        .select(col(idAs), col("b.band"), col("b.sig"))
      val rawCand = phase("  band self-join raw") {
        val c = banded("a_id")
          .join(banded("b_id"), Seq("band", "sig"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").localCheckpoint()
        println(s"  raw collisions: ${c.count()}"); c
      }
      val pairs = phase("  map-verify (production)") {
        import spark.implicits._
        val bmap = spark.sparkContext.broadcast(
          sigs.select(col("doc_id"), col("h"))
            .as[(Long, Array[Long])].collect().toMap)
        val p = rawCand.select(col("a_id"), col("b_id"))
          .as[(Long, Long)]
          .mapPartitions { it =>
            val m = bmap.value
            it.flatMap { case (aId, bId) =>
              val sa = m(aId); val sb = m(bId)
              val needed = math.ceil(0.25 / 1.25 * (sa.length + sb.length) - 1e-9).toInt
              var i = 0; var j = 0; var c = 0; var dead = false
              while (!dead && i < sa.length && j < sb.length) {
                val ra = sa.length - i; val rb = sb.length - j
                if (c + math.min(ra, rb) < needed) dead = true
                else {
                  val x = sa(i); val y = sb(j)
                  if (x == y) { c += 1; i += 1; j += 1 }
                  else if (x < y) i += 1 else j += 1
                }
              }
              if (dead) None
              else {
                val jac = c.toDouble / (sa.length + sb.length - c)
                if (jac >= 0.25) Some((aId, bId, jac)) else None
              }
            }
          }.toDF("a_id", "b_id", "jaccard")
          .dropDuplicates("a_id", "b_id").localCheckpoint()
        println(s"  pairs: ${p.count()}"); p
      }
      // r21 verify candidate A: broadcast-hash-joins + bounded
      // intersect inside WholeStageCodegen — MEASURED 2× SLOWER than
      // the map-verify (5.4 vs 2.7 s warm), kept here as the recorded
      // rejection
      phase("  bhj-verify (rejected)") {
        val sa = sigs.select(col("doc_id").as("a_id"), col("h").as("sa"))
        val sb = sigs.select(col("doc_id").as("b_id"), col("h").as("sb"))
        val p = rawCand.join(broadcast(sa), "a_id").join(broadcast(sb), "b_id")
          .withColumn("inter", expr("graft_sorted_intersect_bounded(sa, sb, 0.25D)"))
          .withColumn("jaccard", graft.operators.TextFns
            .jaccardFromIntersect("inter", "size(sa)", "size(sb)"))
          .filter(col("jaccard") >= 0.25)
          .dropDuplicates("a_id", "b_id")
          .select("a_id", "b_id", "jaccard").localCheckpoint()
        println(s"  pairs: ${p.count()}")
      }
      // r21 verify candidate B (the production form): the codegen'd
      // broadcast-probe expression over the raw candidate stream —
      // map-verify's lookup+intersect without its encoder boundary
      phase("  probe-verify (r21)") {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          graft.functions.VectorFns.IdHashesMap.build(
            sigs.select(col("doc_id"), col("h"))
              .as[(Long, Array[Long])].collect()))
        val fname = "graft_bjac_prof"
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname,
          exprs => graft.functions.VectorFns.BroadcastJaccardProbe(
            exprs(0), exprs(1), bc, 0.25), "built-in")
        val p = rawCand.withColumn("jaccard", expr(s"$fname(a_id, b_id)"))
          .filter(col("jaccard") >= 0.25)
          .dropDuplicates("a_id", "b_id")
          .select("a_id", "b_id", "jaccard").localCheckpoint()
        println(s"  pairs: ${p.count()}")
        bc.destroy()
      }
      // isolation micro-phases: where does the ~2.3 s probe phase go?
      phase("  rawCand ckpt scan only") {
        println(s"  rows: ${rawCand.count()}")
      }
      phase("  probe no-dedup noop") {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          graft.functions.VectorFns.IdHashesMap.build(
            sigs.select(col("doc_id"), col("h"))
              .as[(Long, Array[Long])].collect()))
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "graft_bjac_prof2",
          exprs => graft.functions.VectorFns.BroadcastJaccardProbe(
            exprs(0), exprs(1), bc, 0.25), "built-in")
        rawCand.withColumn("jaccard", expr("graft_bjac_prof2(a_id, b_id)"))
          .filter(col("jaccard") >= 0.25)
          .write.format("noop").mode("overwrite").save()
        println(s"  rawCand partitions: ${rawCand.rdd.getNumPartitions}")
        bc.destroy()
      }
      phase("  probe REPARTITIONED noop") {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          graft.functions.VectorFns.IdHashesMap.build(
            sigs.select(col("doc_id"), col("h"))
              .as[(Long, Array[Long])].collect()))
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "graft_bjac_prof3",
          exprs => graft.functions.VectorFns.BroadcastJaccardProbe(
            exprs(0), exprs(1), bc, 0.25), "built-in")
        rawCand.repartition(spark.sparkContext.defaultParallelism)
          .withColumn("jaccard", expr("graft_bjac_prof3(a_id, b_id)"))
          .filter(col("jaccard") >= 0.25)
          .write.format("noop").mode("overwrite").save()
        bc.destroy()
      }
      phase("  probe HASH-repart noop") {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          graft.functions.VectorFns.IdHashesMap.build(
            sigs.select(col("doc_id"), col("h"))
              .as[(Long, Array[Long])].collect()))
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "graft_bjac_prof4",
          exprs => graft.functions.VectorFns.BroadcastJaccardProbe(
            exprs(0), exprs(1), bc, 0.25), "built-in")
        rawCand.repartition(spark.sparkContext.defaultParallelism,
            col("a_id"), col("b_id"))
          .withColumn("jaccard", expr("graft_bjac_prof4(a_id, b_id)"))
          .filter(col("jaccard") >= 0.25)
          .write.format("noop").mode("overwrite").save()
        bc.destroy()
      }
      phase("  repart-only noop") {
        rawCand.repartition(spark.sparkContext.defaultParallelism,
            col("a_id"), col("b_id"))
          .write.format("noop").mode("overwrite").save()
      }
      val cc = phase("connectedComponents") {
        val c = GraphOps.connectedComponentsDF(spark,
          pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
          .localCheckpoint()
        c.count(); c
      }
      phase("label+keeper+final") {
        val keyed = docs.select(col("doc_id"),
          Dedup.fpKey("text").as("fp"),
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tokens"))
        val fpCluster = reps
          .join(cc, reps("rep_id") === cc("node"), "left")
          .select(col("fp"),
            coalesce(col("component"), col("rep_id")).as("cluster"))
        val labeled = keyed.join(fpCluster, "fp")
          .select(col("doc_id"), col("n_tokens"), col("cluster"))
        val keepers = labeled.groupBy("cluster")
          .agg(min(struct((-col("n_tokens")).as("nt"), col("doc_id").as("d"))).as("k"),
            count(lit(1)).as("cluster_size"))
          .select(col("cluster").as("c2"), col("k.d").as("keeper_id"),
            (-col("k.nt")).as("keeper_tokens"), col("cluster_size"))
        labeled.join(keepers, col("cluster") === col("c2"))
          .select(col("doc_id"), col("keeper_id"), col("keeper_tokens"),
            col("cluster_size")).count()
      }
      println(f"TOTAL (staged) ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(true))
    }
    spark.stop()
  }
}
