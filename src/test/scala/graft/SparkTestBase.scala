package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy), UTC, quiet. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", graft.ops.FsUtil.localFsImpl)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` and counts the Spark jobs it started. The listener bus is
    * drained before the listener goes on (so a late event of earlier work
    * is not counted) and again before the count is read.
    */
  def jobs[T](body: => T): (T, Int) = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(spark.sparkContext)
      (out, counter.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"
}
