package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Write-time layouts: bucketed co-located join (both sides pre-bucketed
  * on the key ⇒ NO shuffle Exchange — pay-once-shuffle-never for repeated
  * fact joins) and range+sort ingest (parquet stats become real row-group
  * skipping for range predicates — the LayoutBench 51x finding, pinned
  * here as a regression via [[Bucketing.writeSorted]]).
  */
class BucketingSpec extends SparkTestBase {

  test("writeSorted: a 1% range query decodes >=10x fewer rows than arrival order") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("layout_spec").toString
    val n = 1000000L
    // arrival order = a bijection-ish scramble of id, so the plain write
    // below preserves a scattered ts order (what unmanaged ingest produces)
    val df = spark.range(n).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(n)).as("ts_ms"),
      (col("id") % 97).as("value"))
    // 256 KiB row groups surface group-level skipping at 1M-row scale; at
    // real scale the default 128 MiB groups give the same ratio against
    // TB-sized files (same reasoning as tools/LayoutBench)
    val opts = Map("parquet.block.size" -> (256 * 1024).toString)
    df.repartition(8).write.options(opts).mode("overwrite").parquet(s"$dir/hash")
    Bucketing.writeSorted(df, s"$dir/range", "ts_ms", partitions = 8, options = opts)
    // a 1% window in the middle of the ts range
    val lo = n * 45 / 100
    val hi = lo + n / 100
    def run(path: String): (Long, Long) = {
      val q = spark.read.parquet(path)
        .filter(col("ts_ms") >= lo && col("ts_ms") < hi)
      val rows = q.collect().length.toLong
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // rows the scan DECODED (post row-group/page skip, pre re-check)
      val scanned = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (scanned, rows)
    }
    val (hScan, hRows) = run(s"$dir/hash")
    val (rScan, rRows) = run(s"$dir/range")
    assert(hRows === rRows, "layouts must agree on the query answer")
    assert(rRows > 0L, "the window must select rows")
    assert(rScan * 10 <= hScan,
      s"sorted layout must prune >=10x on a 1% window: hash decoded $hScan, " +
        s"range decoded $rScan")
  }

  test("interleaveBits: known-value pin (x=5, y=3, 3 bits -> 27)") {
    import spark.implicits._
    // x=0b101 occupies even bit positions, y=0b011 odd ones:
    // bits 0,1,3,4 set -> 0b11011 = 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(Bucketing.interleaveBits(Seq(col("x"), col("y")), 3).as("z"))
      .head().getLong(0)
    assert(got === 27L)
    // 3-dim pin: (1,1,1) -> bits 0,1,2 set = 7; (4,0,0) bits=3 -> bit 6
    val got3 = Seq((1L, 1L, 1L)).toDF("x", "y", "z")
      .select(Bucketing.interleaveBits(Seq(col("x"), col("y"), col("z")), 3))
      .head().getLong(0)
    assert(got3 === 7L)
    val got4 = Seq((4L, 0L, 0L)).toDF("x", "y", "z")
      .select(Bucketing.interleaveBits(Seq(col("x"), col("y"), col("z")), 3))
      .head().getLong(0)
    assert(got4 === 64L)
  }

  test("writeZOrdered: a 2-D box query decodes >=2x fewer rows than the 1-D sort") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("zorder_spec").toString
    val n = 1000000L
    // two INDEPENDENT uniform dimensions (distinct hash scrambles), the
    // shape where a single-column sort leaves the other axis scattered
    val df = spark.range(n).select(
      col("id").as("row_id"),
      pmod(xxhash64(col("id")), lit(n)).as("x"),
      pmod(xxhash64(col("id"), lit(7)), lit(n)).as("y"))
    // 64 KiB row groups: the box test needs enough granules that the
    // z-curve's locality can show (40 granules cannot resolve a 1% box);
    // at real scale TB-sized files vs 128 MiB groups give the same ratio
    val opts = Map("parquet.block.size" -> (64 * 1024).toString,
      "parquet.page.size" -> (16 * 1024).toString)
    Bucketing.writeSorted(df, s"$dir/xsort", "x", partitions = 8, options = opts)
    Bucketing.writeZOrdered(df, s"$dir/z", Seq("x", "y"), bits = 12,
      partitions = 8, options = opts)
    def run(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.parquet(path).filter(pred)
      val rows = q.collect().length.toLong
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scanned = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (scanned, rows)
    }
    // 10% x 10% box in the middle -> ~1% of rows selected
    val box = col("x").between(n * 45 / 100, n * 55 / 100 - 1) &&
      col("y").between(n * 45 / 100, n * 55 / 100 - 1)
    val (xsBox, xsRows) = run(s"$dir/xsort", box)
    val (zBox, zRows) = run(s"$dir/z", box)
    assert(xsRows === zRows, "layouts must agree on the box answer")
    assert(zRows > 0L)
    assert(zBox * 2 <= xsBox,
      s"z-order must out-prune the 1-D sort on a box: xsort decoded $xsBox, z decoded $zBox")
    // y-only window: the x-sort cannot skip AT ALL on y; z-order can
    val yOnly = col("y").between(n * 45 / 100, n * 46 / 100 - 1)
    val (xsY, xsYRows) = run(s"$dir/xsort", yOnly)
    val (zY, zYRows) = run(s"$dir/z", yOnly)
    assert(xsYRows === zYRows)
    assert(zY * 2 <= xsY,
      s"z-order must out-prune the 1-D sort on the non-sort axis: $xsY vs $zY")
  }

  test("writeZOrdered 3-D: the reference box predicate (SpecimenCut.Box) prunes multiplicatively") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.pipeline.SpecimenCut
    val dir = java.nio.file.Files.createTempDirectory("zorder3_spec").toString
    val n = 1000000L
    // a 3-D point cloud in [0, 200)^3 — the facet-centroid shape the
    // reference's TestInsideBox filter (SURVEY P2) runs over
    val pts = spark.range(n).select(
      col("id").as("pt_id"),
      (pmod(xxhash64(col("id")), lit(n)) / lit(n / 200)).as("x"),
      (pmod(xxhash64(col("id"), lit(1)), lit(n)) / lit(n / 200)).as("y"),
      (pmod(xxhash64(col("id"), lit(2)), lit(n)) / lit(n / 200)).as("z"))
    val opts = Map("parquet.block.size" -> (64 * 1024).toString,
      "parquet.page.size" -> (16 * 1024).toString)
    Bucketing.writeSorted(pts, s"$dir/xsort", "x", partitions = 8, options = opts)
    Bucketing.writeZOrdered(pts, s"$dir/z", Seq("x", "y", "z"), bits = 12,
      partitions = 8, options = opts)
    // a 20%-per-axis box around the center: 0.8% of rows, the specimen-
    // cut shape (SpecimenCut.Box.contains is the SAME predicate the
    // pipeline's cutBySolid applies to facet vertices)
    val box = SpecimenCut.Box(80, 120, 80, 120, 80, 120)
    def run(path: String): (Long, Long) = {
      val q = spark.read.parquet(path)
        .filter(box.contains(col("x"), col("y"), col("z")))
      val rows = q.collect().length.toLong
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scanned = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (scanned, rows)
    }
    val (xsScan, xsRows) = run(s"$dir/xsort")
    val (zScan, zRows) = run(s"$dir/z")
    assert(xsRows === zRows, "layouts must agree on the box answer")
    assert(zRows > 0L)
    assert(zScan * 2 <= xsScan,
      s"3-D z-order must out-prune the 1-D sort on the specimen box: " +
        s"xsort decoded $xsScan, z decoded $zScan")
  }

  test("compactZOrdered: litter merges, rows survive, box-pruning is restored") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("zcompact_spec").toString
    val path = s"$dir/facts"
    val n = 200000L
    val df = spark.range(n).select(
      col("id").as("row_id"),
      pmod(xxhash64(col("id")), lit(n)).as("x"),
      pmod(xxhash64(col("id"), lit(7)), lit(n)).as("y"))
    // micro-batch litter: 30 unsorted appends of ~6.7k rows each
    (0 until 30).foreach(i =>
      df.filter(pmod(col("row_id"), lit(30)) === i).coalesce(1)
        .write.mode("append").parquet(path))
    val opts = Map("parquet.block.size" -> (64 * 1024).toString,
      "parquet.page.size" -> (16 * 1024).toString)
    val (before, after) = Bucketing.compactZOrdered(spark, path,
      Seq("x", "y"), bits = 12, targetFileBytes = 1L << 20, options = opts)
    assert(before >= 30, s"litter expected, found $before files")
    assert(after < before / 3, s"compaction must merge litter: $before -> $after")
    // every row survives the swap exactly once
    val out = spark.read.parquet(path)
    assert(out.count() === n)
    assert(out.agg(sum("row_id")).head().getLong(0) === n * (n - 1) / 2)
    // and the rewritten layout prunes a 10%x10% box (litter cannot:
    // every unsorted file overlaps every box)
    val box = col("x").between(n * 45 / 100, n * 55 / 100 - 1) &&
      col("y").between(n * 45 / 100, n * 55 / 100 - 1)
    val q = out.filter(box)
    val rows = q.collect().length.toLong
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanned = plan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    assert(rows > 0L)
    assert(scanned * 2 <= n,
      s"compacted z layout must skip most of the corpus on a 1% box: decoded $scanned of $n")
  }

  test("compactZOrdered heals a torn swap: a stranded __old is restored, a stale __old is dropped") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val n = 2000L
    val df = spark.range(n).select(col("id").as("row_id"),
      pmod(xxhash64(col("id")), lit(n)).as("x"),
      pmod(xxhash64(col("id"), lit(7)), lit(n)).as("y"))
    def littered(tag: String): String = {
      val path = java.nio.file.Files.createTempDirectory(tag).toString + "/facts"
      (0 until 4).foreach(i =>
        df.filter(pmod(col("row_id"), lit(4)) === i).coalesce(1)
          .write.mode("append").parquet(path))
      path
    }
    def rowIds(path: String) = spark.read.parquet(path)
      .select("row_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (0L until n).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    // a crash between rename(live -> __old) and rename(staged -> live):
    // __old is the only copy of the facts
    val stranded = littered("zcompact_stranded")
    val fs = new Path(stranded).getFileSystem(conf)
    assert(fs.rename(new Path(stranded), new Path(stranded + "__old")))
    val (before, after) = Bucketing.compactZOrdered(spark, stranded,
      Seq("x", "y"))
    assert(before === 4 && after === 1, s"$before -> $after")
    assert(rowIds(stranded) === want, "the stranded facts must be restored")
    assert(!fs.exists(new Path(stranded + "__old")))
    // a crash after the swap, before the aside was deleted: __old is a
    // stale copy beside the live dir, and restoring it would roll back
    val stale = littered("zcompact_stale")
    FileUtil.copy(fs, new Path(stale), fs, new Path(stale + "__old"), false,
      conf)
    Bucketing.compactZOrdered(spark, stale, Seq("x", "y"))
    assert(rowIds(stale) === want, "every row exactly once")
    assert(!fs.exists(new Path(stale + "__old")),
      "a stale __old must be dropped")
  }

  test("writeZOrdered rejects empty / all-null z-columns with a clear error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zguard_spec").toString
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    val exEmpty = intercept[IllegalArgumentException] {
      Bucketing.writeZOrdered(empty, s"$dir/e", Seq("x", "y"))
    }
    assert(exEmpty.getMessage.contains("x"))
    val nullCol = Seq((Some(1.0), Option.empty[Double]),
        (Some(2.0), Option.empty[Double])).toDF("x", "y")
    val exNull = intercept[IllegalArgumentException] {
      Bucketing.writeZOrdered(nullCol, s"$dir/n", Seq("x", "y"))
    }
    assert(exNull.getMessage.contains("y") && !exNull.getMessage.contains("x,"))
  }

  test("join of two tables bucketed on the key plans without Exchange") {
    // (managed tables land in ./spark-warehouse — dropped in the cleanup)
    // disable auto-broadcast so an un-bucketed join WOULD shuffle
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(
        Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity"),
        "li_b", "l_orderkey", buckets = 8)
      Bucketing.writeBucketed(
        Tables.orders(spark, Sf0001)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
        "o_b", "l_orderkey", buckets = 8)
      val joined = Bucketing.bucketedJoin(spark, "li_b", "o_b", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // and it still returns the right rows
      val want = Tables.lineitem(spark, Sf0001)
        .join(Tables.orders(spark, Sf0001),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
