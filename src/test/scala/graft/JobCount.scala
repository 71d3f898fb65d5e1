package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits from the calling thread.
  * Listener events arrive asynchronously but in submission order, so
  * after the block a one-task sentinel job runs under its own group;
  * once the listener has seen the sentinel start, every job of the
  * block has been counted. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val counted = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == s"counted-$id" => counted.incrementAndGet()
          case Some(g) if g == s"sentinel-$id" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"counted-$id", "JobCount")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"sentinel-$id", "JobCount sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(sentinel.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }
}
