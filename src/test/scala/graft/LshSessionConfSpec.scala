package graft

import org.apache.spark.sql.functions._
import graft.operators.{HashFamily, MinHashLSH}

/** The LSH verify probe runs without touching the session: no SQL conf
  * is changed while it runs (a concurrent query in the same session
  * would see the change) and no function is registered. Every SQL
  * execution copies the session's explicitly set confs into its jobs'
  * properties, so the jobs show what they ran under. */
class LshSessionConfSpec extends SparkSpec with JobWatch {

  test("nearDuplicates leaves the session's SQL conf and functions unchanged while it runs") {
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    // the engine's own functions are registered once per session: do it
    // first, so the comparison below sees only what the run adds
    val (as, bs) = MinHashLSH.coeffs(21 * 3)
    graft.functions.VectorFns.register(spark, as, bs)
    val confBefore = spark.conf.getAll
    val fnsBefore = spark.sessionState.functionRegistry.listFunction().toSet
    // long ids on a fixture-scale corpus: the broadcast-probe verify path
    val (pairs, jobs) = jobsDuring(MinHashLSH.nearDuplicates(HashFamily.XxHash,
      docs, "doc_id", "text", shingleLen = 5, bands = 21, rowsPerBand = 3,
      threshold = 0.25))
    assert(jobs.nonEmpty, "nearDuplicates ran no job")
    val changed = jobs.count(_.getProperty(coalesceKey) == "false")
    assert(changed == 0, s"$coalesceKey was changed for $changed of ${jobs.size} jobs")
    assert(spark.conf.getAll == confBefore, "session conf differs after the run")
    assert(spark.sessionState.functionRegistry.listFunction().toSet == fnsBefore,
      "the run left a function registered in the session")
    assert(pairs.count() > 0, "nearDuplicates found nothing at sf0.001")
  }
}
