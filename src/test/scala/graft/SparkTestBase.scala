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

  /** One Spark job, as its start event carried it: its description
    * (None when it ran unlabeled) and its job tags.
    */
  final case class Job(description: Option[String], tags: Set[String])

  /** Runs `body` and returns the Spark jobs it started, in start order;
    * their count is the job budget. The listener bus is drained before the
    * listener goes on (so a late event of earlier work is not counted) and
    * again before the jobs are read.
    */
  def jobs[T](body: => T): (T, Seq[Job]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        started.add(Job(p.flatMap(x => Option(x.getProperty("spark.job.description"))),
          p.flatMap(x => Option(x.getProperty("spark.job.tags")))
            .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)))
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toVector)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Asserts a job budget: every call in `budget` ran exactly its
    * pinned number of jobs, none of them unlabeled. Job counts are
    * deterministic, so a change that adds or saves one job fails here and
    * the message lists each call's jobs per label.
    */
  def assertJobBudget(budget: (String, Seq[Job], Int)*): Unit = {
    val report = budget.map { case (call, started, _) =>
      call + ": " + started.groupBy(_.description.getOrElse("UNLABELED"))
        .map { case (d, js) => s"$d ${js.size}" }.toSeq.sorted.mkString(", ")
    }
    assert(budget.forall(_._2.forall(_.description.isDefined)),
      s"unlabeled jobs: $report")
    assert(budget.map(_._2.size) === budget.map(_._3), report)
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"
}
