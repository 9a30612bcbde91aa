package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches, seen through a listener: each job's
  * properties carry its description and, for SQL executions, every
  * explicitly set session conf. */
trait JobWatch { self: SparkSpec =>

  /** Properties of every job started, in listener-bus order. */
  private val started = new ConcurrentLinkedQueue[Properties]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).getOrElse(new Properties()))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def seen(tag: String): Boolean =
    started.asScala.exists(_.getProperty("spark.job.description") == tag)

  /** Run a one-task job tagged `tag` and wait until the listener has
    * seen it: the bus delivers in order, so every earlier job is in. */
  private def fence(tag: String): Unit = {
    listener
    val sc = spark.sparkContext
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen(tag) && System.nanoTime() < deadline) Thread.sleep(5)
    assert(seen(tag), s"listener never saw fence job $tag")
  }

  /** The properties of each Spark job launched while `body` runs. */
  def jobsDuring[T](body: => T): (T, Vector[Properties]) = {
    val id = java.util.UUID.randomUUID().toString
    fence(s"before-$id")
    val out = body
    fence(s"after-$id")
    val all = started.asScala.toVector
    def at(tag: String) = all.indexWhere(_.getProperty("spark.job.description") == tag)
    (out, all.slice(at(s"before-$id") + 1, at(s"after-$id")))
  }
}
