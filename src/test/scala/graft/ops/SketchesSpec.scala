package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Mergeable sketches + incremental summary maintenance: the split-merge
  * invariance that licenses per-batch ingest aggregation, estimate
  * accuracy against exact distincts, and the maintained-summary ==
  * from-scratch-summary contract through the staged parquet swap.
  */
class SketchesSpec extends SparkTestBase {

  private def events = Tables.events(spark, Sf0001)
  private val Keys = Seq("event_type")

  test("union-merged per-batch sketches == one-shot sketch, bit-identical estimates") {
    val whole = Sketches.report(
        Sketches.summarize(events, Keys, "value", "user_id"))
      .select(col("event_type"), col("n_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // split the facts three ways on an unrelated axis, summarize each
    // split independently, merge the summaries
    val parts = Seq(0, 1, 2).map(i =>
      Sketches.summarize(events.filter(pmod(col("event_id"), lit(3)) === i),
        Keys, "value", "user_id"))
    val merged = Sketches.report(
        Sketches.merge(parts.reduce(_ unionByName _), Keys))
      .select(col("event_type"), col("n_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged === whole,
      "sketch merge must be exactly split-invariant (register max is associative)")
  }

  test("estimates land within 2% of exact distinct counts") {
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val est = Sketches.report(
        Sketches.summarize(events, Keys, "value", "user_id"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_distinct"))).toMap
    exact.foreach { case (k, d) =>
      assert(math.abs(est(k) - d) <= math.max(1L, (d * 0.02).toLong),
        s"$k: estimate ${est(k)} vs exact $d")
    }
    // algebraic measures are exact, not estimated
    val sums = Sketches.report(
        Sketches.summarize(events, Keys, "value", "user_id"))
      .select(col("event_type"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val wantN = events.groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sums === wantN)
  }

  test("summaries are partitioning-independent") {
    def est(parts: Int): Map[String, Long] = Sketches.report(
        Sketches.summarize(events.repartition(parts), Keys, "value", "user_id"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_distinct"))).toMap
    assert(est(2) === est(7))
  }

  test("histogram measures: split-merge count-exact; quantiles within one bin width of exact") {
    // declared range from the data envelope (at ingest you'd use domain
    // knowledge or a first-batch min/max): values outside land in the
    // clamp slots, so the range IS part of the accuracy contract
    val env = events.agg(min("value"), max("value")).head()
    val hs = Sketches.HistSpec(math.floor(env.getDouble(0)),
      math.ceil(env.getDouble(1)) + 1.0, 100)
    def hists(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      df.select(col("event_type"), col("value_hist"))
        .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).toMap
    val whole = Sketches.summarize(events, Keys, "value", "user_id",
      hist = Some(hs))
    // counts are exact longs: split-summarize-merge must be bit-equal
    val parts = Seq(0, 1, 2).map(i =>
      Sketches.summarize(events.filter(pmod(col("event_id"), lit(3)) === i),
        Keys, "value", "user_id", hist = Some(hs)))
    val merged = Sketches.merge(parts.reduce(_ unionByName _), Keys)
    assert(hists(merged) === hists(whole))
    // every histogram covers exactly its group's rows
    val nRows = events.groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    hists(whole).foreach { case (k, h) => assert(h.sum === nRows(k), k) }
    // quantile off the histogram lands within one bin width of exact
    val binW = (hs.hi - hs.lo) / hs.bins
    for (et <- nRows.keys; q <- Seq(0.5, 0.95)) {
      val vals = events.filter(col("event_type") === et)
        .select("value").collect().map(_.getDouble(0)).sorted
      val exact = vals(math.max(0, math.ceil(q * vals.length).toInt - 1))
      val got = Sketches.histQuantile(hists(whole)(et), hs, q)
      assert(math.abs(got - exact) <= binW,
        s"$et p$q: hist says $got, exact $exact (bin width $binW)")
    }
    // maintained-with-hist through disk == from-scratch
    val dir = java.nio.file.Files.createTempDirectory("summary_hist")
      .toString + "/s"
    Seq(0, 1, 2).foreach(i => Sketches.maintain(spark, dir,
      events.filter(col("event_id") % 3 === i), Keys, "value", "user_id",
      hist = Some(hs)))
    assert(hists(spark.read.parquet(dir)) === hists(whole))
  }

  test("null values land in the underflow slot, not a crash (null-safe histogram)") {
    import spark.implicits._
    val spec = Sketches.HistSpec(0.0, 10.0, 5)
    val df = Seq[(String, Option[Double], Long)](
      ("a", Some(2.5), 1L), ("a", None, 2L), ("a", Some(12.0), 3L),
      ("a", None, 4L), ("a", Some(-1.0), 5L))
      .toDF("k", "v", "u")
    val s = Sketches.summarize(df, Seq("k"), "v", "u", hist = Some(spec))
      .collect()(0)
    val histogram = s.getAs[scala.collection.Seq[Long]]("value_hist")
    // underflow slot: 2 nulls + 1 genuine underflow; overflow slot: 1;
    // bin 2 (values [2,4)): 1. n_rows counts null rows; sum skips them.
    assert(histogram.head === 3L)
    assert(histogram.last === 1L)
    assert(histogram.sum === 5L)
    assert(s.getAs[Long]("n_rows") === 5L)
    assert(s.getAs[Double]("sum_v") === 13.5)
  }

  test("maintainStream: micro-batched maintenance == one from-scratch summary") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("summary_stream")
      .toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("summary_ck").toString
    val rows = events.select(col("event_type"), col("value"), col("user_id"))
      .as[(String, Double, Long)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double, Long)]
    val q = Sketches.maintainStream(dir,
      mem.toDF().toDF("event_type", "value", "user_id"), ckpt,
      Keys, "value", "user_id", kllK = Some(256))
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = Sketches.report(spark.read.parquet(dir))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Long]("n_distinct")))
    val scratch = Sketches.report(
        Sketches.summarize(events, Keys, "value", "user_id"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Long]("n_distinct")))
    assert(streamed.toSeq === scratch.toSeq,
      "streamed maintenance must equal the one-shot summary")
    // the streamed summary's KLL column answers quantiles within the
    // envelope (same read path as the batch-maintained spec)
    val p50s = spark.read.parquet(dir).select(col("event_type"),
        graft.functions.KllF.quantile(spark, col("value_kll"), 0.5).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = events.select(col("event_type"), col("value").cast("double").as("v"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    for ((et, est) <- p50s) {
      val sorted = exact(et)
      val n = sorted.length.toDouble
      val lo = sorted.count(_ < est) / n
      val hi = sorted.count(_ <= est) / n
      val err = if (0.5 < lo) lo - 0.5 else if (0.5 > hi) 0.5 - hi else 0.0
      assert(err <= 0.02, f"$et streamed p50 err $err%.4f")
    }
  }

  test("maintain: three incremental batches == one from-scratch summary (through disk)") {
    val dir = java.nio.file.Files.createTempDirectory("summary").toString + "/s"
    val batches = Seq(
      events.filter(col("event_id") % 3 === 0),
      events.filter(col("event_id") % 3 === 1),
      events.filter(col("event_id") % 3 === 2))
    batches.foreach(b =>
      Sketches.maintain(spark, dir, b, Keys, "value", "user_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = Sketches.report(df)
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getAs[Long]("n_distinct")))
    val maintained = rows(spark.read.parquet(dir))
    val scratch = rows(Sketches.summarize(events, Keys, "value", "user_id"))
    assert(maintained.length === scratch.length)
    maintained.zip(scratch).foreach { case (m, s) =>
      assert(m._1 === s._1 && m._2 === s._2 && m._6 === s._6,
        s"key/count/distinct must match exactly: $m vs $s")
      assert(m._4 === s._4 && m._5 === s._5, s"min/max exact: $m vs $s")
      // double sums re-associate across batch partials: equal to 1e-9 rel
      assert(math.abs(m._3 - s._3) <= 1e-9 * math.max(1.0, math.abs(s._3)),
        s"sum drift: $m vs $s")
    }
    // the summary is key-bounded: as many rows as event types
    assert(spark.read.parquet(dir).count() ===
      events.select("event_type").distinct().count())
  }

  test("maintain recovers the summary stranded at __old by a crash in the rename window") {
    // kill-point injection (r9 verdict #5): in maintain's swap the one
    // non-atomic window is between rename(p, __old) and
    // rename(staging, p) — a death there leaves __old as the SOLE copy
    // of the accumulated summary. Write that exact on-disk state, then
    // assert the next maintain call restores it rather than silently
    // resetting the summary to the incoming delta (the pre-r9 bug class).
    val dir = java.nio.file.Files.createTempDirectory("summarycrash")
      .toString + "/s"
    val batches = Seq(0, 1, 2).map(i =>
      events.filter(col("event_id") % 3 === i))
    Sketches.maintain(spark, dir, batches(0), Keys, "value", "user_id")
    Sketches.maintain(spark, dir, batches(1), Keys, "value", "user_id")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crash: live summary is mid-swap — only __old exists
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(dir + "__old")))
    Sketches.maintain(spark, dir, batches(2), Keys, "value", "user_id")
    val got = Sketches.report(spark.read.parquet(dir)).orderBy("event_type")
      .select(col("event_type"), col("n_rows")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = events.groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want,
      "post-crash maintain must fold the delta into the RESTORED summary " +
        "(a reset-to-delta would drop two batches of counts)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__old")),
      "recovery must not strand the aside copy")
  }

  test("maintain discards a stale __old left beside a live summary") {
    // the other kill point: death AFTER rename(staging, p) but before
    // delete(__old) leaves a live (newer) summary plus a stale aside.
    // Recovery must keep the live one and delete the orphan — restoring
    // __old over p here would roll the summary back a batch.
    val dir = java.nio.file.Files.createTempDirectory("summarystale")
      .toString + "/s"
    val batches = Seq(0, 1, 2).map(i =>
      events.filter(col("event_id") % 3 === i))
    Sketches.maintain(spark, dir, batches(0), Keys, "value", "user_id")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    val fs = p.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, old, false, conf)
    Sketches.maintain(spark, dir, batches(1), Keys, "value", "user_id")
    Sketches.maintain(spark, dir, batches(2), Keys, "value", "user_id")
    val got = Sketches.report(spark.read.parquet(dir)).orderBy("event_type")
      .select(col("event_type"), col("n_rows")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = events.groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want, "stale aside must not corrupt the fold")
    assert(!fs.exists(old), "stale aside must be deleted, not restored")
  }

  test("maintain drops a torn first write: a staged copy with no live summary and no aside") {
    // a crash in the FIRST maintain, before its staged summary was
    // renamed in, leaves only `__staging`: nothing was ever live, and the
    // copy may be incomplete — it is dropped, not promoted
    val dir = java.nio.file.Files.createTempDirectory("summarytorn")
      .toString + "/s"
    val batches = Seq(0, 1).map(i => events.filter(col("event_id") % 2 === i))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir + "__staging")
    Sketches.summarize(batches(0), Keys, "value", "user_id")
      .write.parquet(staging.toString)
    Sketches.maintain(spark, dir, batches(1), Keys, "value", "user_id")
    def counts(df: org.apache.spark.sql.DataFrame) = Sketches.report(df)
      .select(col("event_type"), col("n_rows")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts(spark.read.parquet(dir)) ===
      counts(Sketches.summarize(batches(1), Keys, "value", "user_id")),
      "the summary after a torn first write is the delta alone")
    assert(!fs.exists(staging), "the torn staged copy must be dropped")
  }

  test("KLL k=32 replay (n=1047, seeds 0/1): error within the k-dependent envelope") {
    // The r11 flaky-red replay cases: at k=32 these measure ~3.4%/3.7% rank
    // error — EXPECTED within KLL's O(1/k) envelope (max(0.02, 2.8/k) =
    // 8.75% at k=32; KllEnvelopeSweep measured 7.55% worst over a 9000-case
    // grid), not a sketch defect. Production serves DefaultK=256 (~0.3%).
    for (seed <- Seq(0L, 1L)) {
      val n = 1047
      val rnd = new scala.util.Random(seed)
      val vals = Seq.fill(n)(rnd.nextDouble() * 100 - 50)
      val s = graft.functions.KllState.empty(32)
      vals.foreach(s.insert)
      val sorted = vals.sorted
      for (q <- Seq(0.1, 0.5, 0.9)) {
        val est = s.quantile(q)
        val lo = sorted.count(_ < est).toDouble / n
        val hi = sorted.count(_ <= est).toDouble / n
        val err = if (q < lo) lo - q else if (q > hi) q - hi else 0.0
        assert(err <= math.max(0.02, 2.8 / 32),
          s"seed=$seed q=$q err=$err must sit inside the k=32 envelope")
      }
    }
  }
}
