package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = SparkEntry.session("local[4]", 4)

  /** Runs `body` with the given session confs set, restoring (or unsetting)
    * each one afterwards. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val JobTag = "graft.test.jobsIn"

  /** Runs `body` and counts the Spark jobs it started from this thread (a
    * listener on `onJobStart`, removed afterwards). Listener events arrive
    * asynchronously but in order, so one tagged barrier job after the body
    * flushes every event the body posted. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(JobTag)).orNull match {
          case `token` => jobs.incrementAndGet()
          case t if t == token + "-barrier" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, token)
      val r = try body finally sc.setLocalProperty(JobTag, token + "-barrier")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(JobTag, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not deliver the barrier job")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
