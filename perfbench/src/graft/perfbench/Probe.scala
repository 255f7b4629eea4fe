package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.io.Source

/** Host-phase probe and process figures. The phase probe pairs a fixed
  * single-thread memory stream (an array at least 4x the last-level
  * cache) with a fixed tiny Spark job, so a slow phase of the host shows
  * beside the numbers it slowed. */
object Probe {

  /** Last-level cache size from sysfs; 32 MiB when it cannot be read. */
  lazy val llcBytes: Long = {
    val dir = new java.io.File("/sys/devices/system/cpu/cpu0/cache")
    val sizes = Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith("index")).flatMap { d =>
      val f = new java.io.File(d, "size")
      if (!f.canRead) None
      else {
        val src = Source.fromFile(f)
        val s = try src.mkString.trim finally src.close()
        val mult = s.last match { case 'K' => 1024L; case 'M' => 1048576L; case _ => 1L }
        scala.util.Try(s.filter(_.isDigit).toLong * mult).toOption
      }
    }
    if (sizes.isEmpty) 32L << 20 else sizes.max
  }

  lazy val streamBytes: Long = math.max(4 * llcBytes, 256L << 20)
  private lazy val array: Array[Long] = {
    val a = new Array[Long]((streamBytes / 8).toInt)
    var i = 0
    while (i < a.length) { a(i) = i; i += 1 }
    a
  }

  private def sum(a: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i); i += 1 }
    s
  }

  /** Single-thread read bandwidth in GB/s: best of three passes. */
  def streamGbps(): Double = {
    val a = array
    var best = Double.MaxValue
    var sink = 0L
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      sink += sum(a)
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (sink == 42L) println("") // keeps the sums live
    a.length * 8.0 / best / 1e9
  }

  /** Median wall time in ms of a fixed tiny job over three tries. */
  def tinyJobMs(spark: SparkSession): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 10000, 1, 4).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e6
    })

  def phase(spark: SparkSession): (Double, Double) = (streamGbps(), tinyJobMs(spark))

  /** CPU time this process has used, all threads, in seconds. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Waits until the listener bus has delivered every event of the jobs
    * run so far: runs a marker job and waits for its end event. */
  def drainListener(spark: SparkSession, col: Collector): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, "-2")
    spark.range(1).count()
    sc.setLocalProperty(Tracer.SpanKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = col.synchronized(col.jobs.exists(j => j.span == -2 && col.hasEnded(j.jobId)))
    while (!done) {
      require(System.nanoTime() < deadline, "listener events did not arrive within 30 s")
      Thread.sleep(5)
    }
  }
}
