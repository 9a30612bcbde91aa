package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.store.TableStore

class StoreSpec extends SparkSpec {

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-store-spec-").toString)

  private def seedDf = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "tag", "v")
  }

  test("create + read round-trip") {
    val st = freshStore()
    st.create("t", seedDf)
    assert(st.read("t").count() == 3)
  }

  test("insert appends new files without rewriting old data") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    assert(st.read("t").count() == 4)
    assert(st.versionCount("t") == 2, "insert must add a commit, not rewrite history")
  }

  test("upsert replaces matching keys and inserts new ones") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.upsert("t", Seq((2L, "B", 99.0), (9L, "z", 9.0)).toDF("id", "tag", "v"), Seq("id"))
    val m = st.read("t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 9L -> 9.0))
  }

  test("update rewrites only matching rows") {
    val st = freshStore()
    st.create("t", seedDf)
    st.update("t", Map("v" -> (col("v") + 1.0)), col("tag") === "b")
    val m = st.read("t").collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(m == Map("a" -> 10.0, "b" -> 21.0, "c" -> 30.0))
  }

  test("file-level COW: mutations carry untouched data dirs by reference") {
    import spark.implicits._
    val st = freshStore()
    // three commits = three data dirs, disjoint id ranges
    st.create("t", Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "v"))
    st.insert("t", Seq((10L, "x", 1.0), (11L, "y", 2.0)).toDF("id", "tag", "v"))
    st.insert("t", Seq((20L, "p", 5.0)).toDF("id", "tag", "v"))
    val before = st.dataDirs("t")
    assert(before.size == 3)

    // update matches only the middle dir's rows
    st.update("t", Map("v" -> (col("v") * 100.0)), col("id") === 10L)
    val afterUpdate = st.dataDirs("t")
    assert(afterUpdate.toSet.intersect(before.toSet) == Set(before(0), before(2)),
      s"untouched dirs must be carried by reference: $before -> $afterUpdate")
    assert(st.read("t").filter(col("id") === 10L).head.getDouble(2) == 100.0)
    assert(st.read("t").count() == 5)

    // delete matches only the last original dir
    st.delete("t", col("id") === 20L)
    val afterDelete = st.dataDirs("t")
    assert(afterDelete.contains(before(0)), "first dir untouched by delete")
    assert(!afterDelete.contains(before(2)), "deleted dir must be rewritten out")
    assert(st.read("t").count() == 4)

    // upsert touching only dir 1: dir 0's files never rewritten across
    // all three mutations
    st.upsert("t", Seq((11L, "Y", 9.0), (30L, "n", 3.0)).toDF("id", "tag", "v"), Seq("id"))
    assert(st.dataDirs("t").contains(before(0)),
      "first dir survived update+delete+upsert untouched")
    val m = st.read("t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m == Map(1L -> 10.0, 2L -> 20.0, 10L -> 100.0, 11L -> 9.0, 30L -> 3.0))
  }

  test("pure-insert upsert rewrites nothing") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    val before = st.dataDirs("t")
    st.upsert("t", Seq((9L, "z", 9.0)).toDF("id", "tag", "v"), Seq("id"))
    assert(st.dataDirs("t").containsSlice(before),
      "no keys matched: every existing dir must be carried by reference")
    assert(st.read("t").count() == 4)
  }

  test("delete, truncate and drop") {
    val st = freshStore()
    st.create("t", seedDf)
    st.delete("t", col("id") === 1L)
    assert(st.read("t").count() == 2)
    st.truncate("t")
    assert(st.read("t").count() == 0)
    assert(st.read("t").schema.fieldNames.sameElements(Array("id", "tag", "v")))
    st.drop("t")
    assert(!st.exists("t"))
  }

  test("multi-table transaction commits atomically (all-or-nothing)") {
    import spark.implicits._
    val st = freshStore()
    st.create("a", seedDf)
    st.create("b", seedDf)
    val commitsBefore = st.commitCount()
    st.transaction { tx =>
      tx.insert("a", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
      tx.update("b", Map("v" -> (col("v") * 2.0)), col("id") === 1L)
    }
    assert(st.read("a").count() == 4)
    assert(st.read("b").filter(col("id") === 1L).head.getDouble(2) == 20.0)
    assert(st.commitCount() == commitsBefore + 1, "one store commit for the whole txn")
  }

  test("a failing transaction publishes nothing") {
    import spark.implicits._
    val st = freshStore()
    st.create("a", seedDf)
    intercept[RuntimeException] {
      st.transaction { tx =>
        tx.insert("a", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
        throw new RuntimeException("abort")
      }
    }
    assert(st.read("a").count() == 3, "aborted txn must stay invisible")
  }

  test("transaction read-your-writes sees buffered mutations") {
    import spark.implicits._
    val st = freshStore()
    st.create("a", seedDf)
    st.transaction { tx =>
      tx.insert("a", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
      assert(tx.read("a").count() == 4, "txn must see its own writes")
    }
  }

  test("snapshot isolation: a reader opened before a commit sees the old version") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    val before = st.read("t") // resolves the manifest now
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    assert(before.count() == 3, "pre-commit snapshot changed under the reader")
    assert(st.read("t").count() == 4)
  }

  test("optimistic CC: overlapping writers — one commits, one aborts, no lost update") {
    import spark.implicits._
    import graft.store.WriteConflictException
    val st = freshStore()
    st.create("t", seedDf)
    // interleave two transactions on the same table: t1 opens first,
    // t2 opens+commits while t1 is still buffering, t1's publish must
    // CAS-fail instead of silently clobbering t2's insert
    val ex = intercept[WriteConflictException] {
      st.transaction { t1 =>
        t1.insert("t", Seq((10L, "x", 1.0)).toDF("id", "tag", "v"))
        st.insert("t", Seq((20L, "y", 2.0)).toDF("id", "tag", "v")) // t2
      }
    }
    assert(ex.tables == Seq("t"))
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 20L), "t2's commit must survive, t1's must not appear")
  }

  test("optimistic CC: disjoint writers merge — neither commit is lost") {
    import spark.implicits._
    val st = freshStore()
    st.create("a", seedDf)
    st.create("b", seedDf)
    st.transaction { t1 =>
      t1.insert("a", Seq((10L, "x", 1.0)).toDF("id", "tag", "v"))
      st.insert("b", Seq((20L, "y", 2.0)).toDF("id", "tag", "v")) // concurrent, other table
    }
    assert(st.read("a").count() == 4, "t1's write committed")
    assert(st.read("b").count() == 4, "concurrent disjoint commit merged, not clobbered")
  }

  test("two instances on one root: concurrent disjoint creates all survive") {
    val root = Files.createTempDirectory("graft-store-spec-").toString
    val stores = Seq(new TableStore(spark, root), new TableStore(spark, root))
    val names = for (i <- 0 until 8; j <- 0 until 3) yield s"t_${i}_$j"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // 8 threads, alternating between the instances, 3 tables each
      (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = names.filter(_.startsWith(s"t_${i}_"))
            .foreach(stores(i % 2).create(_, seedDf))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val fresh = new TableStore(spark, root)
    assert(fresh.tables.toSet == names.toSet,
      s"commits lost: ${names.toSet -- fresh.tables}")
  }

  test("optimistic CC: transactionRetry re-runs the conflicting txn to success") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf.select(col("id"), col("tag"), col("v")))
    var injected = false
    // increment-style read-modify-write; first attempt gets a conflicting
    // commit injected mid-flight, retry must observe it and still land
    st.transactionRetry { tx =>
      val n = tx.read("t").count()
      if (!injected) {
        injected = true
        st.insert("t", Seq((50L, "z", 5.0)).toDF("id", "tag", "v"))
      }
      tx.insert("t", Seq((100L + n, "r", 9.0)).toDF("id", "tag", "v"))
    }
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids(50L), "injected concurrent commit survived")
    assert(ids(104L), "retry observed the concurrent insert (count was 4 on attempt 2)")
    assert(!ids(103L), "first attempt's write must not leak")
  }

  test("restore is a pointer commit: original dirs re-referenced, zero data written") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    val origDirs = st.dataDirPaths("t")
    // a botched interval: COW update + delete rewrite dirs
    st.update("t", Map("v" -> (col("v") * 2.0)), col("id") === 1L)
    st.delete("t", col("id") === 2L)
    val commits = st.commitCount()
    val onDisk = st.dataDirsOnDisk("t").toSet
    st.restoreTable("t", 2)
    assert(st.dataDirPaths("t") == origDirs,
      "restore must point back at the ORIGINAL immutable dirs")
    assert(st.dataDirsOnDisk("t").toSet == onDisk,
      "restore must write zero data bytes")
    assert(st.commitCount() == commits + 1, "restore is one forward commit")
    val m = st.read("t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(m == Map(1L -> ("a", 10.0), 2L -> ("b", 20.0), 3L -> ("c", 30.0)),
      s"restored contents must equal the pristine create: $m")
    // the botched interval stays time-travelable behind the restore
    assert(st.readVersion("t", 1).count() == 2, "pre-restore head = post-delete")
    // the table stays live, and GC never reclaims the re-referenced dirs
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    st.vacuum(graceMillis = 0)
    assert(st.read("t").count() == 4, "reads unchanged by GC after restore")
  }

  test("importance: a lower-class commit yields to an open higher-class writer") {
    import spark.implicits._
    import graft.store.WriteConflictException
    val st = freshStore()
    st.create("t", seedDf)
    st.create("u", seedDf)
    st.transactionImportance(9) { hi =>
      hi.insert("t", Seq((50L, "hi", 5.0)).toDF("id", "tag", "v"))
      // while the high-class txn holds buffered intent on t, a default-
      // class writer of the SAME table must yield (the reference's
      // scheduler submits the most important class first — a cheap
      // commit sneaking in would force the expensive txn to rerun)
      val e = intercept[WriteConflictException] {
        st.transaction(lo => lo.insert("t", Seq((60L, "lo", 6.0)).toDF("id", "tag", "v")))
      }
      assert(e.tables == Seq("t"))
      // intent is per-table: a default-class write to ANOTHER table
      // commits straight through
      st.transaction(lo => lo.insert("u", Seq((70L, "ok", 7.0)).toDF("id", "tag", "v")))
    }
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids(50L) && !ids(60L),
      "the high-class write must land, the yielded low one must not")
    assert(st.read("u").count() == 4)
  }

  test("importance: under concurrent contention the high class commits first") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf) // 3 rows
    val hiReady = new java.util.concurrent.CountDownLatch(1)
    @volatile var hiErr: Throwable = null
    val hiThread = new Thread(() => {
      try st.transactionImportance(9) { hi =>
        hi.insert("t", Seq((50L, "hi", 5.0)).toDF("id", "tag", "v"))
        hiReady.countDown()
        Thread.sleep(200) // stay open across the low txn's first publish
      } catch { case e: Throwable => hiErr = e }
    })
    var attempts = 0
    st.transactionRetry(maxAttempts = 50, importance = 0, f = { tx =>
      attempts += 1
      val n = tx.read("t").count()
      if (attempts == 1) {
        hiThread.start()
        hiReady.await()
      }
      tx.insert("t", Seq((100L + n, "lo", 9.0)).toDF("id", "tag", "v"))
    })
    hiThread.join()
    assert(hiErr == null, s"high-class txn must commit cleanly: $hiErr")
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids(50L), "high-class write committed")
    assert(ids(104L),
      s"the low txn must land AFTER the high one (observing its row): $ids")
    assert(!ids(103L), "the pre-yield attempt must not leak")
  }

  test("importance aging: a retried low txn cannot starve under a never-closing high txn") {
    import spark.implicits._
    import graft.store.WriteConflictException
    val st = freshStore()
    st.create("t", seedDf)
    // the adversarial schedule: the high-class txn holds buffered
    // intent on t for the WHOLE low-txn lifetime (perpetual churn's
    // limit case). Without aging the low writer yields forever and
    // exhausts its budget; with aging it defers for half the budget,
    // then commits through — liveness wins over unbounded deference.
    var attempts = 0
    val maxAttempts = 12
    val hiFails = intercept[WriteConflictException] {
      st.transactionImportance(9) { hi =>
        hi.insert("t", Seq((50L, "hi", 5.0)).toDF("id", "tag", "v"))
        st.transactionRetry(maxAttempts = maxAttempts, importance = 0, f = { tx =>
          attempts += 1
          tx.insert("t", Seq((60L, "lo", 6.0)).toDF("id", "tag", "v"))
        })
        // the low commit moved t's manifest, so the high publish must
        // now CAS-fail (an ordinary conflict, NOT an importance yield)
      }
    }
    assert(!hiFails.importanceYield, "high txn loses on CAS, not on priority")
    // deterministic schedule: every pre-aging attempt yields (the high
    // txn never closes), then the first aged attempt commits
    assert(attempts == maxAttempts / 2 + 2,
      s"expected ${maxAttempts / 2 + 1} yields then one aged commit, saw $attempts attempts")
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids(60L) && !ids(50L),
      s"the aged low write must land; the conflicted high one must not: $ids")
  }

  test("vacuum reclaims orphaned data dirs, manifests and store manifests") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    st.update("t", Map("v" -> (col("v") * 2.0)), col("id") === 4L) // strands the insert dir
    st.delete("t", col("id") === 1L) // strands the update's rewrite dir
    val live = st.dataDirs("t").toSet
    assert(st.dataDirsOnDisk("t").toSet != live,
      "copy-on-write mutations must have stranded dirs for GC to reclaim")
    val stats = st.vacuum(graceMillis = 0)
    assert(stats.dataDirsDeleted > 0, "stranded data dirs reclaimed")
    assert(stats.manifestsDeleted > 0, "superseded table manifests reclaimed")
    assert(stats.storeManifestsDeleted > 0, "old store manifests reclaimed")
    assert(st.dataDirsOnDisk("t").toSet == live,
      "disk view must equal the manifest view after vacuum")
    assert(st.commitCount() == 1, "only the current store manifest survives")
    val m = st.read("t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m == Map(2L -> 20.0, 3L -> 30.0, 4L -> 80.0), "reads unchanged by GC")
    assert(st.vacuum(graceMillis = 0) == graft.store.VacuumStats(0, 0, 0), "second sweep finds nothing")
  }

  test("vacuum keeps cross-table refs alive; reclaims unpublished tables") {
    val st = freshStore()
    st.create("src", seedDf)
    st.create("solo", seedDf)
    // pointer-share src's data into pkg (the package-inheritance path)
    st.transaction(tx => tx.link("pkg", st.entriesAsRefs("src")))
    st.unpublish(Seq("src", "solo"))
    st.vacuum(graceMillis = 0)
    assert(st.dataDirsOnDisk("src").nonEmpty,
      "src's data dir is reachable through pkg's manifest — must survive")
    assert(st.versionCount("src") == 0, "src's own manifests are unreachable")
    assert(st.dataDirsOnDisk("solo").isEmpty, "nothing references solo — fully reclaimed")
    assert(st.read("pkg").count() == 3, "shared data still readable through the ref")
  }

  test("vacuum retainVersions keeps older roots readable for snapshot grace") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    val before = st.read("t") // resolves against the first root
    st.create("t", Seq((9L, "z", 9.0)).toDF("id", "tag", "v")) // full rewrite: old dir orphaned from HEAD
    val stats = st.vacuum(retainVersions = 2, graceMillis = 0)
    assert(stats.dataDirsDeleted == 0, "previous root still retains the old dir")
    assert(before.count() == 3, "pre-vacuum snapshot reader survives a retain-2 sweep")
    st.vacuum(graceMillis = 0) // retain only HEAD
    assert(st.dataDirsOnDisk("t").size == 1, "old vintage reclaimed once out of retention")
    assert(st.read("t").count() == 1)
  }

  test("vacuum never reclaims an open transaction's eager writes") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.transaction { tx =>
      tx.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
      // sweep while the txn is open, zero grace: its buffered manifest
      // and data dir (written eagerly, pre-publish) must be roots —
      // otherwise the txn would commit pointers to deleted files
      st.vacuum(graceMillis = 0)
    }
    val ids = st.read("t").select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 4L),
      "txn's writes survive a concurrent vacuum and then commit intact")
  }

  test("vacuum grace age protects young orphans (writers this JVM can't see)") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.create("t", Seq((9L, "z", 9.0)).toDF("id", "tag", "v")) // orphans the first dir
    assert(st.vacuum() == graft.store.VacuumStats(0, 0, 0),
      "default grace: freshly written files are too young to reclaim")
    val stats = st.vacuum(graceMillis = 0)
    assert(stats.dataDirsDeleted == 1, "past the grace age the orphan is reclaimed")
  }

  test("rapid commits: retention follows true commit order (seq-named manifests)") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    // back-to-back commits land in the same mtime granule; the commit
    // sequence in the manifest name, not mtime, must order retention
    for (i <- 0 until 5)
      st.create("t", Seq((i.toLong, "x", 1.0)).toDF("id", "tag", "v"))
    val prev = st.read("t") // snapshot reader on what is about to be version N-1
    st.create("t", Seq((99L, "z", 9.0)).toDF("id", "tag", "v"))
    st.vacuum(retainVersions = 2, graceMillis = 0)
    assert(prev.collect().map(_.getLong(0)).toSet == Set(4L),
      "true previous version retained despite same-mtime commits")
    assert(st.commitCount() == 2, "exactly the two newest versions survive")
  }

  test("time travel: readVersion resolves prior commits, survives retained vacuum") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)                                        // -2
    st.update("t", Map("v" -> (col("v") * 10)), col("id") === 1L) // -1
    st.delete("t", col("id") === 2L)                              // HEAD
    assert(st.readVersion("t", 0).count() == 2, "version 0 is HEAD")
    assert(st.readVersion("t", 1).select(sum("v")).as[Double].head() == 150.0,
      "one back: update applied, delete not yet")
    assert(st.readVersion("t", 2).select(sum("v")).as[Double].head() == 60.0,
      "two back: the original create")
    st.vacuum(retainVersions = 2, graceMillis = 0)
    assert(st.readVersion("t", 1).select(sum("v")).as[Double].head() == 150.0,
      "retained previous version still readable after the sweep")
    assertThrows[IllegalArgumentException](st.readVersion("t", 2))
  }

  test("changefeed: added rows only, all-new for born-in-interval, refusal on rewrites") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    st.insert("t", Seq((5L, "e", 50.0)).toDF("id", "tag", "v"))
    // the feed over the two inserts carries exactly their rows
    assert(st.changesSince("t", 2).select("id").as[Long].collect().toSet
      == Set(4L, 5L), "feed must be exactly the two inserted batches")
    // a window reaching before the table's creation: every dir is new
    assert(st.changesSince("t", 0).count() == 0, "HEAD-to-HEAD is empty")
    // a rewrite in the interval (delete COWs dirs) must refuse loudly
    st.delete("t", col("id") === 1L)
    val e = intercept[IllegalArgumentException](st.changesSince("t", 1))
    assert(e.getMessage.contains("not append-only"), e.getMessage)
    // a post-rewrite append-only window works again
    st.insert("t", Seq((6L, "f", 60.0)).toDF("id", "tag", "v"))
    assert(st.changesSince("t", 1).select("id").as[Long].collect().toSet
      == Set(6L), "window after the rewrite is append-only again")
  }

  test("exportRing rotates slots, reuses the oldest, each independently readable") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    val ring = Files.createTempDirectory("graft-ring-").toString
    val s0 = st.exportRing("t", ring, slots = 3)
    st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
    val s1 = st.exportRing("t", ring, slots = 3)
    st.insert("t", Seq((5L, "e", 50.0)).toDF("id", "tag", "v"))
    val s2 = st.exportRing("t", ring, slots = 3)
    st.insert("t", Seq((6L, "f", 60.0)).toDF("id", "tag", "v"))
    val s3 = st.exportRing("t", ring, slots = 3)
    assert(Seq(s0, s1, s2, s3) == Seq(0, 1, 2, 0), "slot index must rotate through the ring")
    assert(spark.read.parquet(s"$ring/slot-0").count() == 6,
      "oldest slot overwritten with the newest snapshot")
    assert(spark.read.parquet(s"$ring/slot-1").count() == 4)
    assert(spark.read.parquet(s"$ring/slot-2").count() == 5)
  }

  test("update: condition and every RHS see pre-update values (SQL UPDATE semantics)") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", Seq((1L, 0L, 7L), (2L, 5L, 9L)).toDF("id", "a", "b"))
    // multi-assignment guarded by a column IT updates: both columns
    // must change on the matched row — a per-assignment fold would
    // re-evaluate a=0 after setting a=1 and skip b
    st.update("t", Map("a" -> lit(1L), "b" -> lit(2L)), col("a") === 0L)
    val r1 = st.read("t").orderBy("id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(r1.toSeq == Seq((1L, 2L), (5L, 9L)), s"got ${r1.toSeq}")
    // cross-referencing assignments must SWAP, not copy-then-overwrite
    st.update("t", Map("a" -> col("b"), "b" -> col("a")), col("id") === 2L)
    val r2 = st.read("t").orderBy("id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(r2.toSeq == Seq((1L, 2L), (9L, 5L)), s"got ${r2.toSeq}")
  }

  test("versions anchor at _CURRENT: an orphaned higher-seq manifest is not a version") {
    val st = freshStore()
    st.create("t", seedDf)
    st.insert("t", seedDf)
    val before = st.versions()
    // simulate a crash between store-manifest write and the pointer
    // swap: a higher-sequence manifest exists on disk, never published
    val orphan = s"store-${"9" * 12}-deadbeef"
    Files.write(java.nio.file.Paths.get(st.root).resolve(orphan),
      "t\tmanifest-nonexistent".getBytes("UTF-8"))
    assert(st.versions() == before,
      "an unpublished manifest must not appear in the version history")
    assert(st.readVersion("t", 0).count() == st.read("t").count(),
      "version 0 must be the PUBLISHED head, not the aborted commit")
  }

  test("table names colliding with store layout files are rejected") {
    val st = freshStore()
    intercept[IllegalArgumentException] { st.create("store-1-x", seedDf) }
    intercept[IllegalArgumentException] { st.create("_CURRENT", seedDf) }
    intercept[IllegalArgumentException] { st.create("a/b", seedDf) }
    st.create("ok.name-2", seedDf) // dots/dashes stay legal
    assert(st.read("ok.name-2").count() == 3)
  }

  test("txn reads are repeatable: the open-time snapshot is the read view") {
    import spark.implicits._
    val st = freshStore()
    st.create("t", seedDf)
    st.transaction { tx =>
      assert(tx.read("t").count() == 3)
      st.insert("t", Seq((4L, "d", 40.0)).toDF("id", "tag", "v"))
      assert(tx.read("t").count() == 3,
        "a concurrent commit must not bleed into an open txn's reads")
      () // no writes buffered → publish is a no-op, no conflict
    }
    assert(st.read("t").count() == 4)
  }
}
