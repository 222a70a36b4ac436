package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic per-key job profile for the optimization rounds:
  *
  *   runMain graft.tools.KeyProfile <key> [sfDir] [runs]
  *
  * Each run invokes the catalog key exactly as the bench does (builder
  * + noop sink) and prints wall, Spark-job count, summed job wall, the
  * DRIVER GAP (wall − jobwall when jobs are sequential — scheduling +
  * planning + non-job driver work like fixture copies), and the top
  * job sites by summed duration, always with the unlabeled `?` row.
  * Run 1 is the warmup-pass analogue; later runs are the steady state
  * the bench times.
  */
object KeyProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", graft.ops.FsUtil.localFsImpl)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (System.nanoTime(),
            Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(j.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")))
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(j.jobId)
          if (s != null) jobs.add((System.nanoTime() - s._1, s._2))
        }
      })

    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftbridge.Bridge
        .awaitListenerBusEmpty(spark.sparkContext)
      val wall = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq
      val jw = js.map(_._1).sum / 1e9
      println(f"KEYPROFILE $name run$r wall=$wall%7.2fs jobs=${js.size}%4d " +
        f"jobwall=$jw%7.2fs gap=${wall - jw}%7.2fs")
      val rows = js.groupBy(_._2).toSeq
        .map { case (site, g) => (site, g.size, g.map(_._1).sum / 1e9) }
        .sortBy(-_._3)
      // the 14 costliest labels, and the unlabeled `?` row wherever it ranks
      (rows.take(14) ++ rows.drop(14).filter(_._1 == "?"))
        .foreach { case (site, nj, s) =>
          println(f"    $nj%3d jobs $s%6.2fs  $site") }
    }
    spark.stop()
  }
}
