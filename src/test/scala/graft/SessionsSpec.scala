package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every session the repo builds runs under [[Sessions.conf]]: the
  * specs' shared session, and by the same keys the benchmark harness's
  * `perfbench/session.conf`. */
class SessionsSpec extends SparkSpec {

  test("the spec session carries every factory setting, on 4 cores") {
    Sessions.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
    assert(spark.sparkContext.defaultParallelism == 4)
  }

  test("perfbench/session.conf agrees with the factory on every key both set") {
    val bench = Files.readAllLines(Paths.get("perfbench/session.conf")).asScala
      .map(_.trim).filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("=", 2); k.trim -> v.trim }.toMap
    // the core count is the harness's own choice
    val factory = Sessions.conf(4) -- Seq("spark.master", "spark.sql.shuffle.partitions")
    val shared = factory.keySet.intersect(bench.keySet)
    assert(shared.nonEmpty, "perfbench/session.conf shares no key with the factory")
    shared.foreach(k => assert(bench(k) == factory(k), s"$k"))
  }
}
