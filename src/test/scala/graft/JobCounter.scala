package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. Listener events
  * arrive asynchronously, so the count is fenced by two marker jobs: only
  * jobs whose start event the bus delivers between the opening and the
  * closing marker's count — the bus delivers one listener's events in
  * posting order, so every job the block started lies between them. */
object JobCounter {
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft.JobCounter.${java.util.UUID.randomUUID()}"
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(d) if d == s"$tag.open" => opened.countDown()
          case Some(d) if d == s"$tag.close" => closed.countDown()
          case _ if opened.getCount == 0 && closed.getCount > 0 =>
            jobs.incrementAndGet(); ()
          case _ => ()
        }
    }
    def marker(kind: String): Unit = {
      sc.setJobDescription(s"$tag.$kind")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      require(closed.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the closing marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
