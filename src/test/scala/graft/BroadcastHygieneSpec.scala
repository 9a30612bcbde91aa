package graft

import org.apache.spark.sql.functions._

/** Pins the r21 broadcast lifecycle of the LSH verify probe
  * (MinHashLSH.probeVerify): the id→hashes broadcast is destroy()ed —
  * synchronously — right after the eagerly-materialized verify, so
  * repeated in-session executions must NOT accumulate broadcast data
  * blocks (the r20 leak: the hand-held `bmap` broadcast outlived every
  * execution). Counting only LARGE broadcast blocks keeps the check
  * deterministic: task-binary broadcasts are created per job and only
  * reclaimed via GC-driven ContextCleaner sweeps, but they are orders
  * of magnitude smaller than the data broadcast. */
class BroadcastHygieneSpec extends SparkSpec {

  private def largeBroadcastBlocks(minBytes: Long): Int = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    val ids = bm.master.getMatchingBlockIds(_.isBroadcast,
      askStorageEndpoints = true)
    ids.count { id =>
      val st = bm.master.getBlockStatus(id, askStorageEndpoints = true)
      st.values.exists(s => s.memSize + s.diskSize >= minBytes)
    }
  }

  test("repeated md5 near-dup executions do not accumulate verify broadcasts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(): Long = graft.operators.MinHashLSH.nearDuplicates(
      graft.operators.HashFamily.Md5, docs, "doc_id", "text",
      shingleLen = 5, bands = 21, rowsPerBand = 3, threshold = 0.25).count()
    val r1 = run()
    // the per-doc hash arrays at sf0.001 make the probe broadcast
    // ~100s of KB; task binaries stay well under this threshold
    val thresh = 64L * 1024
    val after1 = largeBroadcastBlocks(thresh)
    (2 to 10).foreach(_ => assert(run() === r1))
    val after10 = largeBroadcastBlocks(thresh)
    assert(after10 <= after1 + 1,
      s"large broadcast blocks grew $after1 -> $after10 over 9 repeat executions " +
        "— the verify probe's broadcast is leaking again")
  }
}
