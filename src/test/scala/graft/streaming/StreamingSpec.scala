package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins vs batch twins (SURVEY G5/G6): feed the sf0.001 events
  * through a MemoryStream and compare the windowed aggregates with the
  * batch operators the oracle already verified.
  */
class StreamingSpec extends SparkTestBase {

  private def streamEvents() = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .collect()
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    mem.addData(rows.toIndexedSeq)
    val df = mem.toDF().toDF("event_id", "ts_ms", "user_id", "event_type", "value")
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
    (mem, df)
  }

  test("streaming tumbling agg == batch tumbling agg (complete mode)") {
    val (_, stream) = streamEvents()
    val agg = StreamOps.tumblingAgg(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .orderBy("window_start_ms", "event_type").collect()
      val want = graft.ops.TimeOps.tumblingAgg(Tables.events(spark, Sf0001))
        .orderBy("window_start_ms", "event_type").collect()
      assert(got.length === want.length)
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("streaming decontamination (stateless stream-static) == batch q_decontaminate") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, Sf0001)
    // benchmark shingle set: same construction as the batch query
    val bench = docs
      .select(col("doc_id"), array_distinct(graft.functions.WordShinglesF
        .shingles(spark, split(trim(col("text")), "\\s+"), 3)).as("sh"))
      .filter(size(col("sh")) > 0 && col("doc_id") % 100 === 0)
      .select(explode(col("sh")).as("shingle")).distinct()
    // corpus arrives in two micro-batches
    val rows = docs.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (first, rest) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.decontaminateStream(stream, bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try {
      mem.addData(first.toIndexedSeq); q.processAllAvailable()
      mem.addData(rest.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("decon_out").orderBy("doc_id").collect()
      val want = graft.SparkEntry.queries("q_decontaminate")(spark, Sf0001)
        .collect()
      assert(got.length === want.length)
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
      // and the query held NO state across the two batches (stateless gate)
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.isEmpty ||
        prog.stateOperators.forall(_.numRowsTotal == 0),
        s"decontamination must be stateless: ${prog.json}")
    } finally q.stop()
  }

  test("file-source streaming (readStream.parquet) == batch tumbling agg") {
    // the production shape: a directory of event parquet files consumed as
    // a stream (the reference's every-250-steps snapshot cadence)
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString + "/events"
    val batch = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"), col("value"), col("ts_utc"))
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(dir)
    val q = StreamOps.tumblingAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("file_tumbling").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_tumbling")
        .orderBy("window_start_ms", "event_type").collect()
      val want = graft.ops.TimeOps.tumblingAgg(Tables.events(spark, Sf0001))
        .orderBy("window_start_ms", "event_type").collect()
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("checkpointed restart: no loss, no duplicates across stop/start") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("ckptsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val outName = "ckpt_out"
    val batch = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"), col("value"), col("ts_utc"))
    val (first, second) = {
      val all = batch.orderBy("event_id")
      (all.filter(col("event_id") < 500), all.filter(col("event_id") >= 500))
    }
    first.write.mode("overwrite").parquet(s"$srcDir/b0")

    def start() = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(s"$srcDir/*")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // second half lands while the query is DOWN; restart must pick it up
    // exactly once from the checkpoint
    second.write.mode("overwrite").parquet(s"$srcDir/b1")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.table(outName).orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val want = batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq === want.toSeq) // every event counted exactly once
    } finally q2.stop()
  }

  test("Trigger.AvailableNow backfill: drains the file source, then terminates on its own") {
    // the batch-backfill shape: process everything currently in the
    // directory at snapshot cadence, then stop — no manual stop() needed
    val dir = java.nio.file.Files.createTempDirectory("evbackfill").toString + "/events"
    val batch = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"),
        col("value"), col("ts_utc"))
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = StreamOps.tumblingAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("backfill_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(120000) // self-terminates after the drain
    assert(finished, "AvailableNow query must terminate by itself")
    val got = spark.table("backfill_out")
      .orderBy("window_start_ms", "event_type").collect()
    val want = graft.ops.TimeOps.tumblingAgg(Tables.events(spark, Sf0001))
      .orderBy("window_start_ms", "event_type").collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("timer-based session expiry: sessions close as the watermark passes last+gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = 30000L
      val mem = MemoryStream[(Long, Long)]
      val q = StreamOps.sessionExpiryTWS(mem.toDS(), gap)
        .toDF("user_id", "n_events", "session_end_ms")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_expiry_out").start()
      try {
        def emitted() = spark.table("sess_expiry_out")
          .orderBy("user_id", "session_end_ms").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // batch 1: user 1's session = 3 events ending at t=5000
        mem.addData(Seq((1L, 1000L), (1L, 2000L), (1L, 5000L)))
        q.processAllAvailable()
        // watermark is still behind 5000+gap: nothing closes
        assert(emitted().isEmpty)
        // batch 2: user 2 far in the future pushes the watermark past
        // user 1's timer -> session (1, 3, 5000) closes via the TIMER,
        // with no further user-1 input
        mem.addData(Seq((2L, 200000L)))
        q.processAllAvailable()
        mem.addData(Seq((2L, 200001L))) // nudge batch: watermark=200000 applies
        q.processAllAvailable()
        assert(emitted().toSeq === Seq((1L, 3L, 5000L)))
        // batch 3: another future event closes user 2's session (2 events)
        mem.addData(Seq((3L, 900000L)))
        q.processAllAvailable()
        mem.addData(Seq((3L, 900001L)))
        q.processAllAvailable()
        assert(emitted().toSeq === Seq((1L, 3L, 5000L), (2L, 2L, 200001L)))
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateRunsTWS: streamed closed runs == batch stateRuns closed rows across multi-batch feeds") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val e = Tables.events(spark, Sf0001).select(
        col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      // feed in global (ts_ms, event_id) order — in-order per key — split
      // into three micro-batches so runs open and close ACROSS batches
      val rows = e.as[(Long, Long, Long, String)].collect()
        .sortBy(r => (r._2, r._3))
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = StreamOps.stateRunsTWS(mem.toDS())
        .toDF("user_id", "run_id", "state", "valid_from_ms", "valid_to_ms", "n_events")
        .writeStream.outputMode("append").format("memory")
        .queryName("scd2_tws_out").start()
      try {
        rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.table("scd2_tws_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        val want = graft.ops.TimeOps.stateRuns(e)
          .filter(col("valid_to_ms").isNotNull).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        assert(want.nonEmpty, "fixture produced no closed runs — vacuous")
        assert(got === want)
      } finally q.stop()
      // NULL-first-state run_id parity: the batch twin's first change flag
      // is !(NULL <=> NULL) = 0, so a key opening on a null state starts
      // at run_id 0 — the processor must mirror it (r12 review)
      val memN = MemoryStream[(Long, Long, Long, String)]
      val qN = StreamOps.stateRunsTWS(memN.toDS())
        .toDF("user_id", "run_id", "state", "valid_from_ms", "valid_to_ms", "n_events")
        .writeStream.outputMode("append").format("memory")
        .queryName("scd2_tws_null_out").start()
      try {
        memN.addData(Seq((9L, 10L, 1L, null), (9L, 20L, 2L, "A"), (9L, 30L, 3L, null)))
        qN.processAllAvailable()
        val gotN = spark.table("scd2_tws_null_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        val batchN = graft.ops.TimeOps.stateRuns(
          Seq((9L, 10L, 1L, null.asInstanceOf[String]), (9L, 20L, 2L, "A"),
            (9L, 30L, 3L, null.asInstanceOf[String]))
            .toDF("user_id", "ts_ms", "event_id", "event_type"))
          .filter(col("valid_to_ms").isNotNull).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        assert(gotN === batchN)
        assert(gotN.map(_._2) === Set(0L, 1L)) // runs 0 (null) and 1 ("A") closed
      } finally qN.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dedupIncrementalStream: arriving micro-batches vs the static band index == batch pairs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, Sf0001)
    val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    val stored = graft.ops.Dedup.lshBandTable(history, "doc_id", "text")
      .cache()
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.dedupIncrementalStream(
        mem.toDF().toDF("doc_id", "text"), stored)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_inc_out").start()
    try {
      arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val got = spark.table("dedup_inc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin: arrival bands × stored bands on the band key
      val want = graft.ops.Dedup.lshBandTableLocal(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text")
        .join(stored.select(col("doc_id").as("matched_doc"), col("band")), "band")
        .select("doc_id", "matched_doc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "fixture produced no cross-matches — vacuous")
      assert(got === want)
      // every emission is arrival-vs-history: odd doc_id, even match
      assert(got.forall { case (d, m) => d % 2 == 1 && m % 2 == 0 })
    } finally q.stop()
  }

  test("stateRunsLateTWS: out-of-order arrival within the watermark still matches batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // hand-built feed: e2 (ts=2000) arrives a batch AFTER e3 (ts=3500) —
      // out of order, but still >= the watermark (1500 after batch 1 with
      // a 2 s delay), so the buffer must fold it back into place; the
      // in-order twin would have mis-compacted this feed
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = StreamOps.stateRunsLateTWS(mem.toDS(), delay = "2 seconds")
        .toDF("user_id", "run_id", "state", "valid_from_ms", "valid_to_ms", "n_events")
        .writeStream.outputMode("append").format("memory")
        .queryName("scd2_late_out").start()
      try {
        mem.addData(Seq((1L, 1000L, 1L, "A"), (1L, 3500L, 3L, "B")))
        q.processAllAvailable()
        mem.addData(Seq((1L, 2000L, 2L, "A"), (1L, 6000L, 4L, "C")))
        q.processAllAvailable()
        // watermark sentinel (other key) pushes the drain past every row;
        // the pending (6000, C) then folds via the event-time TIMER in the
        // no-data batch — no further input for key 1
        mem.addData(Seq((99L, 20000L, 9L, "X")))
        q.processAllAvailable()
        val got = spark.table("scd2_late_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        val want = graft.ops.TimeOps.stateRuns(
          Seq((1L, 1000L, 1L, "A"), (1L, 2000L, 2L, "A"), (1L, 3500L, 3L, "B"),
            (1L, 6000L, 4L, "C"), (99L, 20000L, 9L, "X"))
            .toDF("user_id", "ts_ms", "event_id", "event_type"))
          .filter(col("valid_to_ms").isNotNull).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        assert(want === Set((1L, 1L, "A", 1000L, 3500L, 2L),
          (1L, 2L, "B", 3500L, 6000L, 1L)), "fixture sanity")
        assert(got === want)
      } finally q.stop()

      // real events, fully SHUFFLED arrival: with delay >= the whole ts
      // span nothing is ever dropped, everything buffers, and a far-future
      // sentinel drains the lot — closed output must equal the batch
      // twin's closed rows despite arbitrary arrival order
      val e = Tables.events(spark, Sf0001).select(
        col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      val rows = e.as[(Long, Long, Long, String)].collect()
      val shuffled = new scala.util.Random(20260814L).shuffle(rows.toVector)
      val spanMs = rows.map(_._2).max - rows.map(_._2).min
      val memR = MemoryStream[(Long, Long, Long, String)]
      val qR = StreamOps.stateRunsLateTWS(memR.toDS(),
          delay = s"${spanMs / 1000 + 1} seconds")
        .toDF("user_id", "run_id", "state", "valid_from_ms", "valid_to_ms", "n_events")
        .writeStream.outputMode("append").format("memory")
        .queryName("scd2_late_real_out").start()
      try {
        shuffled.grouped(math.max(1, shuffled.length / 4 + 1)).foreach { chunk =>
          memR.addData(chunk)
          qR.processAllAvailable()
        }
        memR.addData(Seq((999999L, rows.map(_._2).max + 2 * spanMs + 10000L, 0L, "X")))
        qR.processAllAvailable()
        val gotR = spark.table("scd2_late_real_out")
          .filter(col("user_id") =!= 999999L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        val wantR = graft.ops.TimeOps.stateRuns(e)
          .filter(col("valid_to_ms").isNotNull).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        assert(wantR.nonEmpty, "fixture produced no closed runs — vacuous")
        assert(gotR === wantR)
      } finally qR.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dedupIndexIngestStream: streamed micro-batch ingest finds every full-corpus pair exactly once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the streaming twin of OpsSpec's 3-batch sharded-ingest property:
    // foreachBatch serializes the single-writer loop, each batch probes
    // the bucket-pruned index and appends itself
    val docs = Tables.documents(spark, Sf0001)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val dir = java.nio.file.Files.createTempDirectory("stream_ingest").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.dedupIndexIngestStream(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/idx", s"$dir/out", s"$dir/ckpt")
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val got = spark.read.parquet(s"$dir/out")
      val gotPairs = got.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = graft.ops.Dedup.lshCandidatePairs(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(full.nonEmpty, "fixture produced no pairs — vacuous")
      assert(gotPairs === full)
      // exactly once: no pair found by two different batches
      assert(got.groupBy("doc_a", "doc_b")
        .agg(countDistinct("batch_id").as("n"))
        .filter(col("n") > 1).count() === 0)
    } finally q.stop()
  }

  test("sessionLateTWS: fully shuffled arrival still matches batch sessionize (in-order twin's contract gap closed)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = 1800000L
      val e = Tables.events(spark, Sf0001).select(col("user_id"), col("ts_ms"))
      val rows = e.as[(Long, Long)].collect()
      val shuffled = new scala.util.Random(14L).shuffle(rows.toVector)
      val span = rows.map(_._2).max - rows.map(_._2).min
      val mem = MemoryStream[(Long, Long)]
      val q = StreamOps.sessionLateTWS(mem.toDS(), gap,
          delay = s"${span / 1000 + 1} seconds")
        .toDF("user_id", "n_events", "session_end_ms")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_late_out").start()
      try {
        shuffled.grouped(math.max(1, shuffled.length / 4 + 1)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        // the far-future sentinel drives the watermark past last+gap for
        // every user — ALL sessions close, including each user's final one
        mem.addData(Seq((999999L, rows.map(_._2).max + 3 * (span + gap))))
        q.processAllAvailable()
        val got = spark.table("sess_late_out")
          .filter(col("user_id") =!= 999999L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val want = graft.ops.TimeOps.sessionize(
            e.withColumn("event_id", lit(0L)), gap)
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n"), max(col("ts_ms")).as("last"))
          .select("user_id", "n", "last").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(want.nonEmpty, "fixture produced no sessions — vacuous")
        assert(got === want)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("intervalUnionLateTWS: shuffled arrival closed intervals == the batch sweep's merged intervals") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val len = 600000L
      val e = Tables.events(spark, Sf0001).select(col("user_id"), col("ts_ms"))
      val rows = e.as[(Long, Long)].collect()
      val shuffled = new scala.util.Random(15L).shuffle(rows.toVector)
      val span = rows.map(_._2).max - rows.map(_._2).min
      val mem = MemoryStream[(Long, Long)]
      val q = StreamOps.intervalUnionLateTWS(mem.toDS(), len,
          delay = s"${span / 1000 + 1} seconds")
        .toDF("user_id", "s_ms", "e_ms", "n_events")
        .writeStream.outputMode("append").format("memory")
        .queryName("iu_late_out").start()
      try {
        shuffled.grouped(math.max(1, shuffled.length / 4 + 1)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        mem.addData(Seq((999999L, rows.map(_._2).max + 3 * (span + len))))
        q.processAllAvailable()
        val got = spark.table("iu_late_out")
          .filter(col("user_id") =!= 999999L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        // independent oracle: the merge sweep folded locally per user
        val want = rows.groupBy(_._1).flatMap { case (u, es) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var cur: Option[(Long, Long, Long)] = None
          es.map(_._2).sorted.foreach { ms =>
            cur match {
              case None => cur = Some((ms, ms + len, 1L))
              case Some((s, en, n)) =>
                if (ms > en) { out += ((u, s, en, n)); cur = Some((ms, ms + len, 1L)) }
                else cur = Some((s, math.max(en, ms + len), n + 1L))
            }
          }
          cur.foreach { case (s, en, n) => out += ((u, s, en, n)) }
          out
        }.toSet
        assert(want.nonEmpty, "fixture produced no intervals — vacuous")
        assert(got === want)
        // and the per-user aggregate over the emissions equals the batch
        // intervalUnion (every run is closed after the sentinel)
        val aggGot = spark.table("iu_late_out")
          .filter(col("user_id") =!= 999999L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("e_ms") - col("s_ms")).as("covered_ms"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val aggWant = graft.ops.TimeOps.intervalUnion(
            e.withColumn("event_id", lit(0L)), len)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(aggGot === aggWant)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionLateTWS + intervalUnionLateTWS: checkpointed restart mid-stream — still == batch") {
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = 1800000L; val len = 600000L
      val e = Tables.events(spark, Sf0001).select(col("user_id"), col("ts_ms"))
      val rows = e.as[(Long, Long)].collect()
      val tsCut = rows.map(_._2).sorted.apply(rows.length / 2)
      val span = rows.map(_._2).max - rows.map(_._2).min
      val rnd = new scala.util.Random(16L)
      val p1 = rnd.shuffle(rows.filter(_._2 < tsCut).toVector)
      val p2 = rnd.shuffle(rows.filter(_._2 >= tsCut).toVector) :+
        ((999999L, rows.map(_._2).max + 3 * (span + gap)))
      val schema = p1.toDF("user_id", "ts_ms").schema
      for (which <- Seq("sess", "iu")) {
        val srcDir = java.nio.file.Files.createTempDirectory(s"${which}src").toString
        val ckpt = java.nio.file.Files.createTempDirectory(s"${which}ckpt").toString
        val outDir = java.nio.file.Files.createTempDirectory(s"${which}out").toString
        p1.toDF("user_id", "ts_ms")
          .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b0")
        def start() = {
          val src = spark.readStream.schema(schema).parquet(s"$srcDir/*")
            .as[(Long, Long)]
          val out =
            if (which == "sess")
              StreamOps.sessionLateTWS(src, gap, delay = "2 seconds")
                .toDF("user_id", "a", "b").withColumn("c", lit(0L))
            else
              StreamOps.intervalUnionLateTWS(src, len, delay = "2 seconds")
                .toDF("user_id", "a", "b", "c")
          out.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet").option("path", outDir).start()
        }
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop()
        p2.toDF("user_id", "ts_ms")
          .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        val got = spark.read.parquet(outDir)
          .filter(col("user_id") =!= 999999L)
          .select("user_id", "a", "b", "c").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val want =
          if (which == "sess")
            graft.ops.TimeOps.sessionize(e.withColumn("event_id", lit(0L)), gap)
              .groupBy(col("user_id"), col("session_idx"))
              .agg(count(lit(1)).as("n"), max(col("ts_ms")).as("last"))
              .select(col("user_id"), col("n"), col("last"), lit(0L).as("c"))
              .collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          else rows.groupBy(_._1).flatMap { case (u, es) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var cur: Option[(Long, Long, Long)] = None
            es.map(_._2).sorted.foreach { ms =>
              cur match {
                case None => cur = Some((ms, ms + len, 1L))
                case Some((s, en, n)) =>
                  if (ms > en) { out += ((u, s, en, n)); cur = Some((ms, ms + len, 1L)) }
                  else cur = Some((s, math.max(en, ms + len), n + 1L))
              }
            }
            cur.foreach { case (s, en, n) => out += ((u, s, en, n)) }
            out
          }.toSet
        assert(want.nonEmpty, s"$which: vacuous fixture")
        assert(got === want, s"$which: restart diverged from batch")
      }
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateRunsLateTWS: checkpointed restart restores buffer + open runs — stream still == batch") {
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = java.nio.file.Files.createTempDirectory("scd2src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("scd2ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("scd2out").toString
      val e = Tables.events(spark, Sf0001).select(
        col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      val rows = e.as[(Long, Long, Long, String)].collect()
      val tsCut = rows.map(_._2).sorted.apply(rows.length / 2)
      val span = rows.map(_._2).max - rows.map(_._2).min
      // split BY TIME so phase-2 arrivals can never be behind the
      // phase-1 watermark (any positive delay keeps wm below the cut);
      // shuffle within each phase — out-of-order inside the lateness
      val rnd = new scala.util.Random(13L)
      val p1 = rnd.shuffle(rows.filter(_._2 < tsCut).toVector)
      val p2 = rnd.shuffle(rows.filter(_._2 >= tsCut).toVector) :+
        ((999999L, rows.map(_._2).max + 2 * span + 10000L, 0L, "X"))
      val schema = p1.toDF("user_id", "ts_ms", "event_id", "event_type").schema
      p1.toDF("user_id", "ts_ms", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b0")
      def start() = StreamOps.stateRunsLateTWS(
          spark.readStream.schema(schema).parquet(s"$srcDir/*")
            .as[(Long, Long, Long, String)],
          delay = "2 seconds")
        .toDF("user_id", "run_id", "state", "valid_from_ms", "valid_to_ms", "n_events")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // phase 2 (plus the far-future flush sentinel) lands while the query
      // is DOWN; the restart must restore the RocksDB buffer + open runs
      // and finish the fold exactly once
      p2.toDF("user_id", "ts_ms", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(outDir)
        .filter(col("user_id") =!= 999999L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val want = graft.ops.TimeOps.stateRuns(e)
        .filter(col("valid_to_ms").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(want.nonEmpty, "fixture produced no closed runs — vacuous")
      assert(got === want)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState running max (Spark 4 StatefulProcessor) == flatMapGroupsWithState twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.events(spark, Sf0001)
        .select(col("user_id"), col("ts_ms"), col("value"))
        .as[(Long, Long, Double)].collect()
      val mem = MemoryStream[(Long, Long, Double)]
      mem.addData(rows.toIndexedSeq)
      val q = StreamOps.runningMaxPerUserTWS(mem.toDS())
        .toDF("user_id", "new_max", "at_ms")
        .writeStream.outputMode("append").format("memory")
        .queryName("runmax_tws_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("runmax_tws_out")
          .orderBy("user_id", "at_ms").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
          var best = Double.NegativeInfinity
          rs.sortBy(r => (r._2, r._3)).flatMap { case (_, ms, v) =>
            if (v > best) { best = v; Some((u, v, ms)) } else None
          }
        }.sortBy(r => (r._1, r._3)).map(r => (r._1, r._2))
        assert(got.toSeq === want.toSeq)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("flatMapGroupsWithState running max: change-only emissions match batch prefix maxima") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts_ms"), col("value"))
      .as[(Long, Long, Double)].collect()
    val mem = MemoryStream[(Long, Long, Double)]
    mem.addData(rows.toIndexedSeq)
    val q = StreamOps.runningMaxPerUser(mem.toDS())
      .toDF("user_id", "new_max", "at_ms")
      .writeStream.outputMode("append").format("memory")
      .queryName("runmax_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("runmax_out")
        .orderBy("user_id", "at_ms").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // batch twin: strictly increasing prefix maxima per user in ts order
      val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        var best = Double.NegativeInfinity
        rs.sortBy(r => (r._2, r._3)).flatMap { case (_, ms, v) =>
          if (v > best) { best = v; Some((u, v, ms)) } else None
        }
      }.sortBy(r => (r._1, r._3)).map(r => (r._1, r._2))
      assert(got.toSeq === want.toSeq)
      // state boundedness: emissions are strictly increasing per user
      got.groupBy(_._1).values.foreach { seq =>
        assert(seq.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
      }
    } finally q.stop()
  }

  test("stream-stream interval join (attribution) == identical batch join; runs stateful") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ev = Tables.events(spark, Sf0001)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .as[(Long, Long, Long, Double)].collect()
    val clicksRows = side("click")
    val signupRows = side("signup")
    val memC = MemoryStream[(Long, Long, Long, Double)]
    val memS = MemoryStream[(Long, Long, Long, Double)]
    def shape(df: org.apache.spark.sql.DataFrame, p: String) = df
      .toDF(s"${p}_user", s"${p}_id", s"${p}_ms", s"${p}_val")
      .withColumn(s"${p}_ts", timestamp_millis(col(s"${p}_ms")))
    val joined = StreamOps.attributionJoin(
      shape(memC.toDF(), "c").select("c_user", "c_id", "c_ts"),
      shape(memS.toDF(), "s").select("s_user", "s_ts", "s_val"))
      .select(col("c_id"), col("c_user"), unix_millis(col("s_ts")).as("s_ms"),
        col("s_val"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      // both sides arrive across two interleaved micro-batches — matches
      // must form regardless of which side lands first
      val (c1, c2) = clicksRows.splitAt(clicksRows.length / 2)
      val (s1, s2) = signupRows.splitAt(signupRows.length / 2)
      memS.addData(s1.toIndexedSeq); q.processAllAvailable()
      memC.addData(c1.toIndexedSeq); q.processAllAvailable()
      memC.addData(c2.toIndexedSeq); q.processAllAvailable()
      memS.addData(s2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("attr_out")
        .orderBy("c_id", "c_user", "s_ms", "s_val").collect().map(_.toSeq).toSeq
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
          col("ts_utc").as("c_ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts_utc").as("s_ts"),
          col("value").as("s_val"))
      val want = clicks.join(signups,
          expr("c_user = s_user AND s_ts BETWEEN c_ts - interval 1 hour AND c_ts"))
        .select(col("c_id"), col("c_user"), unix_millis(col("s_ts")).as("s_ms"),
          col("s_val"))
        .orderBy("c_id", "c_user", "s_ms", "s_val").collect().map(_.toSeq).toSeq
      assert(want.nonEmpty, "fixture must produce at least one attribution pair")
      assert(got === want)
      // opposite pin to the stateless decontamination gate: a
      // stream-stream join MUST hold buffered state
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.nonEmpty,
        "stream-stream join must run stateful")
    } finally q.stop()
  }

  test("streaming session_window: per-user session counts match batch totals") {
    val (_, stream) = streamEvents()
    val agg = StreamOps.sessionAgg(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("session_out")
      val batch = graft.ops.TimeOps.sessionize(Tables.events(spark, Sf0001), 1800000L)
      // same number of sessions and events per user
      val gotPerUser = got.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .orderBy("user_id").collect()
      val batchPerUser = batch.groupBy("user_id")
        .agg((max("session_idx") + 1).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id").collect()
      assert(gotPerUser.map(_.toSeq).toSeq === batchPerUser.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("embIndexIngestStream: streamed vector ingest finds every Hamming<=1 home-sig pair exactly once; empty batch safe") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the embedding twin of the dedupIndexIngestStream property: each
    // micro-batch probes home + 1-bit flips against the pruned index and
    // appends its home rows; union across batches == full-corpus contract
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val rows = emb.as[(Long, Array[Float])].collect()
    val dir = java.nio.file.Files.createTempDirectory("emb_stream").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.embIndexIngestStream(
      mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/idx", s"$dir/out", s"$dir/ckpt", dim = 16)
    try {
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      chunks.take(1).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      // an EMPTY micro-batch mid-stream must neither throw nor emit
      mem.addData(Seq.empty[(Long, Array[Float])])
      q.processAllAvailable()
      chunks.drop(1).foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      val got = spark.read.parquet(s"$dir/out")
      val gotPairs = got.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val homes = graft.ops.Similarity
        .embBandTable(emb, "vec_id", "embedding", dim = 16)
        .collect().map(r => (r.getLong(0), r.getString(1).toLong))
      val full = (for {
        (a, sa) <- homes; (b, sb) <- homes
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= 1
      } yield (a, b)).toSet
      assert(full.nonEmpty, "fixture produced no Hamming<=1 pairs — vacuous")
      assert(gotPairs === full)
      // exactly once: no pair found by two different batches
      assert(got.groupBy("doc_a", "doc_b")
        .agg(countDistinct("batch_id").as("n"))
        .filter(col("n") > 1).count() === 0)
    } finally q.stop()
  }

  // --- the continuous corpus build (CurationFlow through foreachBatch) ---

  private def curationDocs() =
    Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "n_chars")
      .filter(col("doc_id") < 150)

  private def keptRows(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("status") === "kept")
      .select("doc_id", "n_tok", "seq_id", "seq_offset")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def statusRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  test("curationIngestStream: streamed chunks == sequential batch ingests; empty micro-batch safe; checkpointed restart continues the cursor") {
    import spark.implicits._
    val docs = curationDocs()
    val rows = docs.as[(Long, String, Long)].collect()
    val bench = graft.ops.CurationFlow.benchShingles(docs)
    val chunks = rows.grouped(50).toSeq // 3 chunks of 50
    val schema = docs.schema

    // streamed through a FILE source so the query can restart from its
    // checkpoint mid-feed (the sessionLateTWS restart mechanics)
    val srcDir = java.nio.file.Files.createTempDirectory("cursrc").toString
    val base = java.nio.file.Files.createTempDirectory("curstream").toString
    def start() = StreamOps.curationIngestStream(
      spark.readStream.schema(schema).parquet(s"$srcDir/*"),
      s"$base/idx", s"$base/out", s"$base/ckpt", bench)
    chunks.head.toSeq.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b0")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // restart from the checkpoint with two more chunks landed
    chunks(1).toSeq.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    chunks(2).toSeq.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // sequential batch reference over the SAME chunk sequence
    val refDir = java.nio.file.Files.createTempDirectory("curref").toString
    var cursor = 0L
    val ref = chunks.map { c =>
      val r = graft.ops.CurationFlow.ingest(refDir,
        c.toSeq.toDF("doc_id", "text", "n_chars"), bench, cursor)
      cursor = r.cursor
      r.decisions
    }.reduce(_ unionByName _)

    val got = spark.read.parquet(s"$base/out")
    assert(statusRows(got) === statusRows(ref))
    assert(keptRows(got) === keptRows(ref))
    assert(keptRows(got).nonEmpty)
    // the ledger committed the final cursor
    val Some((_, _, end)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
    assert(end === cursor)
    // an empty trailing micro-batch is a no-op (file source with no new
    // files emits none — drive the step directly to pin the contract)
    StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16)(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars"), 99L)
    val Some((bid, _, end2)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
    assert(bid === 99L && end2 === cursor)
  }

  test("maintainRoots: the per-batch roots view equals the full-artifact recompute at every batch boundary") {
    import spark.implicits._
    val docs = curationDocs()
    val rows = docs.as[(Long, String, Long)].collect()
    val bench = graft.ops.CurationFlow.benchShingles(docs)
    val chunks = rows.grouped(50).toSeq
    val base = java.nio.file.Files.createTempDirectory("curroots").toString
    def recompute(upTo: Int): Map[Long, Long] = {
      // q_dup_map's oracle shape: the closure over ALL landed decisions
      val edges = spark.read.parquet(s"$base/out")
        .filter(col("batch_id") <= upTo && col("matched_id").isNotNull)
        .select("doc_id", "matched_id")
      if (edges.isEmpty) Map.empty
      else graft.ops.Graph.dupRoots(edges)
        .join(edges.select("doc_id"), Seq("doc_id"), "left_semi")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        rootsPath = Some(s"$base/roots"))(
        c.toSeq.toDF("doc_id", "text", "n_chars"), i.toLong)
      val maintained = spark.read.parquet(s"$base/roots")
        .filter(col("batch_id") <= i)
        .select("doc_id", "root_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(maintained === recompute(i),
        s"maintained roots must equal the batch recompute after batch $i")
    }
    // the view is non-trivial: the fixture plants cross-batch dup chains
    assert(spark.read.parquet(s"$base/roots").count() > 0)
    // replay of a ledger-committed batch leaves the view untouched
    val before = spark.read.parquet(s"$base/roots").count()
    StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      rootsPath = Some(s"$base/roots"))(
      chunks.last.toSeq.toDF("doc_id", "text", "n_chars"),
      (chunks.size - 1).toLong)
    assert(spark.read.parquet(s"$base/roots").count() === before)
  }

  test("curationStep replay: never re-decides — no new rows, cursor exact, kept corpus idempotent; half-commit window healed") {
    import spark.implicits._
    val docs = curationDocs()
    val rows = docs.as[(Long, String, Long)].collect()
    val bench = graft.ops.CurationFlow.benchShingles(docs)
    val base = java.nio.file.Files.createTempDirectory("curreplay").toString
    val (b0, b1) = rows.splitAt(rows.length / 2)
    def step(chunk: Seq[(Long, String, Long)], id: Long): Unit =
      StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16)(
        chunk.toDF("doc_id", "text", "n_chars"), id)
    step(b0.toSeq, 0L)
    val led0 = graft.ops.CurationFlow.readLedger(spark, s"$base/idx").get
    val rows0 = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 0)
    val keptIds = rows0.filter(col("status") === "kept")
      .select("doc_id").as[Long].collect().toSet
    val nRows0 = rows0.count()
    assert(keptIds.nonEmpty)
    // simulate the half-commit crash window: wipe ONE of the two indexes
    // (as if the crash hit between commit's digest and band appends),
    // then replay — the step must re-commit from the recorded output,
    // not re-decide
    org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(s"$base/idx/bands"))
    step(b0.toSeq, 0L)
    assert(graft.ops.CurationFlow.readLedger(spark, s"$base/idx").get
      === led0)
    // NO new decision rows: a ledger-committed batch never re-decides
    assert(spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 0).count() === nRows0)
    // batch 1 then behaves exactly as a never-crashed twin: same
    // decisions, packing continued from led0's end
    step(b1.toSeq, 1L)
    val refDir = java.nio.file.Files.createTempDirectory("curtwin").toString
    val r0 = graft.ops.CurationFlow.ingest(refDir,
      b0.toSeq.toDF("doc_id", "text", "n_chars"), bench, 0L)
    r0.decisions.count()
    val r1 = graft.ops.CurationFlow.ingest(refDir,
      b1.toSeq.toDF("doc_id", "text", "n_chars"), bench, r0.cursor)
    val gotB1 = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 1)
    assert(statusRows(gotB1) === statusRows(r1.decisions))
    assert(keptRows(gotB1) === keptRows(r1.decisions))
  }

  test("curationStep pre-ledger crash: replay REPLACES the decisions partition — exactly-once rows") {
    import spark.implicits._
    val docs = curationDocs()
    val rows = docs.as[(Long, String, Long)].collect()
    val bench = graft.ops.CurationFlow.benchShingles(docs)
    val base = java.nio.file.Files.createTempDirectory("curpreled").toString
    val (b0, b1) = rows.splitAt(rows.length / 2)
    def step(chunk: Seq[(Long, String, Long)], id: Long): Unit =
      StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16)(
        chunk.toDF("doc_id", "text", "n_chars"), id)
    step(b0.toSeq, 0L)
    // stage batch 1's r14-verdict crash window: decisions landed in
    // outPath, then the crash hits BEFORE the ledger write and the commit
    val Some((_, _, end0)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
    val staged = graft.ops.CurationFlow.decide(s"$base/idx",
      b1.toSeq.toDF("doc_id", "text", "n_chars"), bench, end0)
    StreamOps.writeDecisions(staged.decisions, 1L, s"$base/out")
    val crashed = spark.read.parquet(s"$base/out").filter(col("batch_id") === 1)
    val nRows = crashed.count()
    assert(nRows > 0 && nRows === b1.length.toLong)
    // replay: the ledger is still at batch 0, so the step re-decides
    // (identically — the indexes were never touched) and must REPLACE the
    // crashed attempt's partition, not append a duplicate row set
    step(b1.toSeq, 1L)
    val got = spark.read.parquet(s"$base/out").filter(col("batch_id") === 1)
    assert(got.count() === nRows,
      s"replay duplicated decision rows: ${got.count()} vs $nRows")
    assert(got.groupBy("doc_id").count().filter(col("count") > 1).count() === 0,
      "every doc must be decided exactly once within the batch")
    // the whole artifact holds the exactly-once reading: one decision row
    // per (batch_id, doc_id) across every batch
    val all = spark.read.parquet(s"$base/out")
    assert(all.count() === all.select("batch_id", "doc_id").distinct().count())
    // and the replayed decisions match the staged (crashed) ones bit for bit
    assert(statusRows(got) === statusRows(staged.decisions))
    assert(keptRows(got) === keptRows(staged.decisions))
    // ledger advanced and the commit ran: a later batch sees b1's kept docs
    assert(graft.ops.CurationFlow.readLedger(spark, s"$base/idx").get._1 === 1L)
  }

  test("vectorCurationStep: stream ≡ sequential ingests; ledger replay re-commits only; pre-ledger crash exactly-once") {
    import spark.implicits._
    val p = graft.ops.VectorFlow.Params(dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    // 0.2-rad spacing (all distinct) + planted twins across the batches
    val b0 = (0L until 20L).map(i => i -> rot(0.2 * i))
    val b1 = (20L until 40L).map(i => i -> rot(0.2 * (i - 20) + 0.01))
    def vdf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val base = java.nio.file.Files.createTempDirectory("vecstream").toString
    def step(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
      StreamOps.vectorCurationStep(s"$base/idx", s"$base/out", p)(
        vdf(rows), id)
    step(b0, 0L)
    step(b1, 1L)
    // sequential batch reference over the same chunks
    val refDir = java.nio.file.Files.createTempDirectory("vecref").toString
    val r0 = graft.ops.VectorFlow.ingest(s"$refDir/idx", vdf(b0), 0L, p)
    val r1 = graft.ops.VectorFlow.ingest(s"$refDir/idx", vdf(b1), r0.cursor, p)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id", "status").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val got = spark.read.parquet(s"$base/out")
    assert(rows(got) === rows(r0.decisions.unionByName(r1.decisions)))
    assert(graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
      === Some((1L, r0.cursor, r1.cursor)))
    // every twin in b1 dropped as history (b0's keeps are all kept)
    assert(got.filter(col("status") === "neardup_history").count() === 20L)
    // LEDGER REPLAY: re-deliver batch 1 — no re-decide, no new rows, and
    // the re-commit is idempotent (kept corpus/indexes unchanged for a
    // later probe)
    val n1 = got.filter(col("batch_id") === 1).count()
    step(b1, 1L)
    assert(spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 1).count() === n1)
    // PRE-LEDGER CRASH on batch 2: decisions written, no ledger/commit —
    // the replay must REPLACE the partition (exactly-once rows)
    val b2 = (40L until 50L).map(i => i -> rot(1.0 * (i - 40) + 0.1))
    val staged = graft.ops.VectorFlow.decide(s"$base/idx", vdf(b2),
      r1.cursor, p)
    StreamOps.writeDecisions(staged.decisions, 2L, s"$base/out")
    step(b2, 2L)
    val all = spark.read.parquet(s"$base/out")
    assert(all.filter(col("batch_id") === 2).count() === b2.length.toLong)
    assert(all.count() === all.select("batch_id", "vec_id").distinct().count())
  }

  test("lateEmbeddingStep: ledger replay re-commits only; mid-crash eviction converges through the fetch-first replay") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("latestream").toString
    // unified corpus: doc 3 text-kept WITHOUT its embedding (batch 0);
    // doc 21 kept WITH a near-identical one (batch 1) — the retro target
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec)(udf2(Seq((1L, goodText("a"), rot(0)),
        (3L, goodText("c"), noEmb))), 0L)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec)(udf2(Seq((21L, goodText("k"), rot(2.02)))), 1L)
    val late = Seq((3L, rot(2.0), 0L)).toDF("doc_id", "embedding", "prio")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // MID-CRASH window: corrections + ledger durable, commit never ran
    val staged = graft.ops.VectorFlow.lateDecide(s"$base/idx/vec",
      late.withColumnRenamed("doc_id", "vec_id"), vec)
    StreamOps.writeDecisions(staged.corrections
      .withColumnRenamed("vec_id", "doc_id"), 0L, s"$base/lateout")
    graft.ops.CurationFlow.writeLedger(spark, s"$base/idx/vec", 0L, 0L, 1L)
    assert(spark.read.parquet(s"$base/idx/vec/vectors")
      .filter(col("vec_id") === 21L).count() === 1L,
      "precondition: the crash window left 21's vector in place")
    // replay: the step's fetch-first reconstruction must evict 21,
    // attach 3, and not duplicate corrections
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec)(
      late, 0L)
    val ids = spark.read.parquet(s"$base/idx/vec/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(ids === Set(1L, 3L), s"post-replay store: $ids")
    val cor = spark.read.parquet(s"$base/lateout")
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(cor.toSeq.sorted === Seq(3L -> "attached", 21L -> "semdup_late"))
    // a SECOND replay of the completed batch converges (all no-ops) —
    // and converges to EXACTLY ONE store row per id (r16 ADVICE: the
    // set-based assert masked the duplicate rows an unconditional
    // replay re-append used to create for already-attached ids)
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec)(
      late, 0L)
    val perId = spark.read.parquet(s"$base/idx/vec/vectors")
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId === Map(1L -> 1L, 3L -> 1L),
      s"store must hold exactly one row per id after replays: $perId")
    assert(spark.read.parquet(s"$base/lateout").count() === 2L)
    // and the corrected corpus serves the ingest loop: a near-copy of
    // rot(2.0) drops against 3, not the evicted 21
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec)(udf2(Seq((31L, goodText("z"), rot(2.01)))), 2L)
    val st = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 2)
      .select("doc_id", "status", "matched_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(st.toSeq === Seq((31L, "semdup_history", 3L)))
  }

  test("correctRoots: the roots view stays exact through late-correction evictions; serve latest-wins == full recompute; replay no-op") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("corroots").toString
    val roots = Some(s"$base/roots")
    def served: Map[Long, Long] =
      StreamOps.serveRoots(spark, s"$base/roots").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the q_dup_map oracle shape over decisions ∪ corrections
    def recompute: Map[Long, Long] = {
      val dec = spark.read.parquet(s"$base/out")
        .select("doc_id", "matched_id")
      val cor = spark.read.parquet(s"$base/lateout")
        .select("doc_id", "matched_id")
      val edges = dec.unionByName(cor).filter(col("matched_id").isNotNull)
      graft.ops.Graph.dupRoots(edges)
        .join(edges.select("doc_id"), Seq("doc_id"), "left_semi")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // batch 0: docs 2 and 3 text-kept WITHOUT embeddings (pending
    // semantic); doc 1 kept with one; doc 25 an exact text copy of 1
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(
      udf2(Seq((1L, goodText("a"), rot(0)), (2L, goodText("b"), noEmb),
        (3L, goodText("c"), noEmb), (25L, goodText("a"), rot(1.0)))), 0L)
    // batch 1: 21 kept at rot(2.02); 23 semdups against it in-batch
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(
      udf2(Seq((21L, goodText("k"), rot(2.02)),
        (23L, goodText("m"), rot(2.03)))), 1L)
    assert(served === Map(23L -> 21L, 25L -> 1L))
    // late pass 0: 3's embedding (prio 0) beats 21 (prio 1) — 21
    // evicted, and 23's recorded root must chase one hop to 3
    def lateDf(rows: Seq[(Long, Seq[Float], Long)]) =
      rows.toDF("doc_id", "embedding", "prio")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
      roots)(lateDf(Seq((3L, rot(2.0), 0L))), 0L)
    assert(served === Map(23L -> 3L, 21L -> 3L, 25L -> 1L))
    assert(served === recompute)
    // late pass 1: 2's embedding ties prio with 3 — (prio, id) elects
    // 2, evicting 3: BOTH pass-0 correction rows (21→3) and plain rows
    // (23→3-by-rewrite) must re-root at 2 (cross-pass rewrite)
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
      roots)(lateDf(Seq((2L, rot(1.99), 0L))), 1L)
    assert(served === Map(23L -> 2L, 21L -> 2L, 3L -> 2L, 25L -> 1L))
    assert(served === recompute)
    // replay of the ledger-committed pass leaves the view untouched
    val before = spark.read.parquet(s"$base/roots_corr").count()
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
      roots)(lateDf(Seq((2L, rot(1.99), 0L))), 1L)
    assert(spark.read.parquet(s"$base/roots_corr").count() === before)
    assert(served === recompute)
  }

  test("lateTextStep: mid-crash eviction converges fetch-first; global token cursor continues; roots corrected") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val t = goodText("t42")
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("latetext").toString
    val roots = Some(s"$base/roots")
    // batch 0: doc 8 kept PENDING (vector only); batch 1: doc 42 keeps
    // the text doc 8 will later deliver; batch 2: doc 44 exact-dups 42
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(
      udf2(Seq((1L, goodText("a"), rot(0)),
        (8L, null.asInstanceOf[String], rot(1.0)))), 0L)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(udf2(Seq((42L, t, noEmb))), 1L)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(udf2(Seq((44L, t, noEmb))), 2L)
    val Some((_, _, e2)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
    // MID-CRASH window: corrections + ltext ledger durable, commit
    // never ran — 42's meta/index rows still serve
    val late = Seq((8L, t, t.length.toLong, 0L))
      .toDF("doc_id", "text", "n_chars", "prio")
    val staged = graft.ops.UnifiedFlow.lateTextDecide(s"$base/idx", late,
      bench, e2)
    StreamOps.writeDecisions(staged.corrections, 0L, s"$base/ltout")
    // the step's own order: decisions → roots → ledger (a committed
    // ledger implies the roots correction is durable)
    StreamOps.correctRoots(s"$base/roots", staged.corrections, 0L)
    graft.ops.CurationFlow.writeLedger(spark, s"$base/idx/ltext", 0L, e2,
      staged.cursor)
    assert(graft.ops.CurationFlow.KeeperMeta.fetch(
      s"$base/idx/textmeta", Seq(42L).toDF("doc_id"), 16).count() === 1L,
      "precondition: the crash window left 42's keeper-meta in place")
    // replay: fetch-first reconstruction must evict 42 (meta-guided
    // handles), attach+pack 8, and correct the roots view
    StreamOps.lateTextStep(s"$base/idx", s"$base/ltout", bench, 256L, 16,
      vec = vec, rootsPath = roots)(late, 0L)
    def metaIds = graft.ops.CurationFlow.KeeperMeta.fetch(
      s"$base/idx/textmeta", Seq(1L, 8L, 42L).toDF("doc_id"), 16)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(metaIds === Seq(1L, 8L))
    val cor = spark.read.parquet(s"$base/ltout")
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(cor === Seq(8L -> "attached", 42L -> "exact_late"))
    // roots: 42 chains to 8, and 44's recorded root rewrites to 8
    def served = StreamOps.serveRoots(spark, s"$base/roots").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === Map(42L -> 8L, 44L -> 8L))
    // SECOND replay converges: exactly one meta/digest row per id
    StreamOps.lateTextStep(s"$base/idx", s"$base/ltout", bench, 256L, 16,
      vec = vec, rootsPath = roots)(late, 0L)
    assert(metaIds === Seq(1L, 8L))
    val digestPerId = spark.read.parquet(s"$base/idx/digest")
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(digestPerId.getOrElse(42L, 0L) === 0L, s"42 evicted: $digestPerId")
    assert(digestPerId(8L) === 1L, s"8 attached once: $digestPerId")
    // cursor continuity: the late pass advanced the GLOBAL token
    // cursor; the next ingest batch must continue from it
    val Some((_, ls, le)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx/ltext")
    assert(ls === e2 && le > e2, "the late pass packs at the carried cursor")
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(udf2(Seq((66L, t, noEmb))), 3L)
    val Some((_, s3, _)) =
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
    assert(s3 === le, "ingest continues from the ltext ledger's end")
    // and the corrected corpus serves: 66's text dups against 8, not 42
    val st = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 3)
      .select("doc_id", "status", "matched_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(st.toSeq === Seq((66L, "exact_history", 8L)))
    assert(served === Map(42L -> 8L, 44L -> 8L, 66L -> 8L))
  }

  /** Every row under `path` (partition columns included), in a stable
    * order — the equality key for a stream run and its step twin.
    */
  private def storeRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  test("lateEmbeddingStream: one MemoryStream micro-batch == its lateEmbeddingStep twin (corrections, vec stores, ledger)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    // two identical unified corpora: doc 3 text-kept WITHOUT its
    // embedding, doc 21 kept with one near-identical to 3's late vector
    def corpus(): String = {
      val base = java.nio.file.Files.createTempDirectory("lateembstream").toString
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec)(udf2(Seq((1L, goodText("a"), rot(0)),
          (3L, goodText("c"), noEmb))), 0L)
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec)(udf2(Seq((21L, goodText("k"), rot(2.02)))), 1L)
      base
    }
    val late = Seq((3L, rot(2.0).toArray, 0L))
    val streamed = corpus()
    val mem = MemoryStream[(Long, Array[Float], Long)]
    val q = StreamOps.lateEmbeddingStream(
      mem.toDF().toDF("doc_id", "embedding", "prio"),
      s"$streamed/idx", s"$streamed/lateout", s"$streamed/ckpt", vec)
    try {
      mem.addData(late)
      q.processAllAvailable()
    } finally q.stop()
    val stepped = corpus()
    StreamOps.lateEmbeddingStep(s"$stepped/idx", s"$stepped/lateout", vec)(
      late.toDF("doc_id", "embedding", "prio"), 0L)
    val cor = storeRows(s"$streamed/lateout")
    assert(cor.nonEmpty, "the micro-batch decided nothing — vacuous")
    assert(cor === storeRows(s"$stepped/lateout"))
    for (store <- Seq("vec/digest", "vec/bands", "vec/vectors"))
      assert(storeRows(s"$streamed/idx/$store") ===
        storeRows(s"$stepped/idx/$store"), store)
    assert(graft.ops.CurationFlow.readLedger(spark, s"$streamed/idx/vec") ===
      graft.ops.CurationFlow.readLedger(spark, s"$stepped/idx/vec"))
  }

  test("lateTextStream: one MemoryStream micro-batch == its lateTextStep twin (corrections, text and vec stores, ledger)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val t = goodText("t42")
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    // two identical unified corpora: doc 8 kept PENDING (vector only),
    // doc 42 kept with the text doc 8 later delivers
    def corpus(): String = {
      val base = java.nio.file.Files.createTempDirectory("latetextstream").toString
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec)(udf2(Seq((1L, goodText("a"), rot(0)),
          (8L, null.asInstanceOf[String], rot(1.0)))), 0L)
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec)(udf2(Seq((42L, t, noEmb))), 1L)
      base
    }
    val late = Seq((8L, t, t.length.toLong, 0L))
    val streamed = corpus()
    val mem = MemoryStream[(Long, String, Long, Long)]
    val q = StreamOps.lateTextStream(
      mem.toDF().toDF("doc_id", "text", "n_chars", "prio"),
      s"$streamed/idx", s"$streamed/ltout", s"$streamed/ckpt", bench,
      vec = vec)
    try {
      mem.addData(late)
      q.processAllAvailable()
    } finally q.stop()
    val stepped = corpus()
    StreamOps.lateTextStep(s"$stepped/idx", s"$stepped/ltout", bench,
      vec = vec)(late.toDF("doc_id", "text", "n_chars", "prio"), 0L)
    val cor = storeRows(s"$streamed/ltout")
    assert(cor.nonEmpty, "the micro-batch decided nothing — vacuous")
    assert(cor === storeRows(s"$stepped/ltout"))
    for (store <- Seq("digest", "bands", "textmeta", "vec/vectors"))
      assert(storeRows(s"$streamed/idx/$store") ===
        storeRows(s"$stepped/idx/$store"), store)
    assert(graft.ops.CurationFlow.readLedger(spark, s"$streamed/idx/ltext") ===
      graft.ops.CurationFlow.readLedger(spark, s"$stepped/idx/ltext"))
  }

  test("late-TEXT lane serving removals: a retroactive gate drop tombstones the pending vector in-loop (empty-append watch cycle)") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("ltsrv").toString
    val watches =
      scala.collection.mutable.ArrayBuffer
        .empty[graft.ops.IvfIndex.MaintainWatch]
    val sv = Some(StreamOps.Serving(s"$base/serving", maxCellRows = 1000L,
      nlist = 2, driftMargin = 1.0, onWatch = w => watches += w))
    // doc 8 kept PENDING TEXT (vector only) — its vector serves
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, serving = sv)(
      udf2(Seq((1L, goodText("a"), rot(0)),
        (8L, null.asInstanceOf[String], rot(1.0)))), 0L)
    def servedIds = graft.ops.IvfIndex.load(spark, s"$base/serving")
      .assignments.select("vec_id").as[Long].collect().toSet
    assert(servedIds === Set(1L, 8L), "the pending doc's vector serves")
    // the late text FAILS a gate (1-distinct-token repetition): the doc
    // retroactively never qualified — lateTextCommit drops its pending
    // vector from the store, and the serving attachment must tombstone
    // it in the SAME batch (the ltext lane's removal-only cycle)
    val bad = Seq.fill(30)("the").mkString(" ")
    StreamOps.lateTextStep(s"$base/idx", s"$base/ltout", bench, 256L, 16,
      vec = vec, serving = sv)(
      Seq((8L, bad, bad.length.toLong, 0L))
        .toDF("doc_id", "text", "n_chars", "prio"), 0L)
    val st = spark.read.parquet(s"$base/ltout")
      .filter(col("doc_id") === 8L).select("status").head().getString(0)
    assert(Set("shape", "repetition").contains(st), s"gate drop, got $st")
    assert(servedIds === Set(1L), "the dropped pending vector stops serving")
    val storeIds = spark.read.parquet(s"$base/idx/vec/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(servedIds === storeIds, "served membership == the store's")
    // the removal-only cycle ran the watch with an empty append (the
    // drop-heavy-text-feed purge path needs no other feed's traffic)
    assert(watches.last.appended === 0L)
    // replay of the ledger-committed late batch changes nothing
    StreamOps.lateTextStep(s"$base/idx", s"$base/ltout", bench, 256L, 16,
      vec = vec, serving = sv)(
      Seq((8L, bad, bad.length.toLong, 0L))
        .toDF("doc_id", "text", "n_chars", "prio"), 0L)
    assert(servedIds === Set(1L))
  }

  test("unifiedStep replay re-commits the FULL store set: keeper-meta rows survive the crash window") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding",
          lit(null).cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench")))))
    val base = java.nio.file.Files.createTempDirectory("unireplay").toString
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec)(udf2(Seq((1L, goodText("a")))), 0L)
    // CRASH WINDOW on batch 1: decisions + ledger durable, the modal
    // index commits ran, the keeper-meta append NEVER did (the exact
    // interleaving the concurrent commit permits — and the pre-r17
    // replay made permanent)
    val batch1 = udf2(Seq((3L, goodText("c"))))
    val staged = graft.ops.UnifiedFlow.decide(s"$base/idx", batch1, bench,
      graft.ops.CurationFlow.readLedger(spark, s"$base/idx").get._3)
    StreamOps.writeDecisions(staged.decisions, 1L, s"$base/out")
    graft.ops.CurationFlow.writeLedger(spark, s"$base/idx", 1L, 0L,
      staged.cursor)
    graft.ops.CurationFlow.commit(s"$base/idx", staged.kept, 16,
      Some(staged.keptBands))
    assert(graft.ops.CurationFlow.KeeperMeta.fetch(
      s"$base/idx/textmeta", Seq(3L).toDF("doc_id"), 16).isEmpty,
      "precondition: the crash lost 3's keeper-meta row")
    // replay must heal the meta store (the late-text pass depends on it)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec)(batch1, 1L)
    val meta = graft.ops.CurationFlow.KeeperMeta.fetch(
      s"$base/idx/textmeta", Seq(3L).toDF("doc_id"), 16)
    assert(meta.count() === 1L)
    assert(meta.select("prio").as[Long].head() === 1L,
      "replayed meta carries the batch's keep order")
  }

  test("correctRoots: in-pass chains chase to terminal roots and gate re-verdicts contribute no edge (text-late schema)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("corrtext").toString
    // a plain roots partition with 60 rooted at 40
    StreamOps.maintainRoots(s"$base/roots",
      Seq((60L, Option(40L)), (40L, Option.empty[Long]))
        .toDF("doc_id", "matched_id"), 0L)
    // one text-late pass: 50 beaten by stored keeper 40 in stage A,
    // 40 itself evicted by attaching winner 30 in stage C, 70 a gate
    // re-verdict (no edge) — the chase must land everything at 30
    StreamOps.correctRoots(s"$base/roots",
      Seq((50L, Option(40L), "exact_late"),
        (40L, Option(30L), "neardup_late"),
        (70L, Option.empty[Long], "contaminated"),
        (30L, Option.empty[Long], "attached"))
        .toDF("doc_id", "matched_id", "status"), 0L)
    val got = StreamOps.serveRoots(spark, s"$base/roots").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(50L -> 30L, 40L -> 30L, 60L -> 30L))
  }

  test("late-feed compactEvery: the correction stream compacts the stores it mutates; serve and elections identical across folds") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("latecomp").toString
    val roots = Some(s"$base/roots")
    def served: Map[Long, Long] =
      StreamOps.serveRoots(spark, s"$base/roots").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def lateDf(rows: Seq[(Long, Seq[Float], Long)]) =
      rows.toDF("doc_id", "embedding", "prio")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    // the certified correctRoots eviction scenario, now with the LATE
    // feed compacting after every pass (compactEvery = 1)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(
      udf2(Seq((1L, goodText("a"), rot(0)), (2L, goodText("b"), noEmb),
        (3L, goodText("c"), noEmb), (25L, goodText("a"), rot(1.0)))), 0L)
    StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
      vec = vec, rootsPath = roots)(
      udf2(Seq((21L, goodText("k"), rot(2.02)),
        (23L, goodText("m"), rot(2.03)))), 1L)
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
      roots, compactEvery = 1)(lateDf(Seq((3L, rot(2.0), 0L))), 0L)
    // the pass compacted: roots folded into the reserved __fold
    // correction partition, absorbed partitions dropped — serve exact
    assert(served === Map(23L -> 3L, 21L -> 3L, 25L -> 1L))
    val fs = new org.apache.hadoop.fs.Path(s"$base/roots")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(new java.io.File(s"$base/roots_corr").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq === Seq("feed=__fold"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/roots")) ||
      new java.io.File(s"$base/roots").listFiles()
        .count(_.isDirectory) === 0,
      "the plain dir's absorbed batch partitions are gone")
    // a second pass runs against the COMPACTED stores: 2 ties prio with
    // 3, (prio, id) elects 2 — the index probes, the store fetch, and
    // the cross-pass roots rewrite (re-rooting FOLDED rows) all read
    // the compacted layouts
    StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
      roots, compactEvery = 1)(lateDf(Seq((2L, rot(1.99), 0L))), 1L)
    assert(served === Map(23L -> 2L, 21L -> 2L, 3L -> 2L, 25L -> 1L))
    val cor = spark.read.parquet(s"$base/lateout")
      .filter(col("batch_id") === 1)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cor === Map(2L -> "attached", 3L -> "semdup_late"))
    // the vector store after two fold/compact cycles holds exactly the
    // surviving vectors: 1 (kept with its vector), 2 (late-attached);
    // 25 dropped at ingest (exact copy of 1), 21 and 3 evicted late
    val stored = graft.ops.VectorFlow.KeptVectors.fetch(
      s"$base/idx/vec/vectors", Seq(1L, 2L, 3L, 21L, 25L).toDF("vec_id"),
      vec.buckets).select("vec_id").as[Long].collect().sorted.toSeq
    assert(stored === Seq(1L, 2L))
  }

  test("correctRoots: two feeds share one view — colliding batch ids don't clobber, serve follows true pass order (seq), not batch id") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tworoots").toString
    def corr(rows: Seq[(Long, Option[Long], String)], id: Long,
             feed: String): Unit =
      StreamOps.correctRoots(s"$base/roots",
        rows.toDF("doc_id", "matched_id", "status"), id, feed)
    def served: Map[Long, Long] =
      StreamOps.serveRoots(spark, s"$base/roots").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    StreamOps.maintainRoots(s"$base/roots",
      Seq((61L, Option(41L))).toDF("doc_id", "matched_id"), 0L)
    // the lemb feed is several passes along (its own ledger id 5) when
    // it evicts 41 in favor of 30
    corr(Seq((41L, Option(30L), "semdup_late"),
      (30L, Option.empty[Long], "attached")), 5L, "lemb")
    // the ltext feed's FIRST pass (batch id 0 < 5, but it runs LATER)
    // then evicts 30 in favor of 20 — ordering by batch id would keep
    // 61/41 at the stale root 30
    corr(Seq((30L, Option(20L), "exact_late"),
      (20L, Option.empty[Long], "attached")), 0L, "ltext")
    assert(served === Map(61L -> 20L, 41L -> 20L, 30L -> 20L))
    // a lemb pass whose batch id COLLIDES with the ltext partition: the
    // feed-namespaced layout keeps both (one shared partition space
    // dynamic-overwrote the other feed's rows away)
    corr(Seq((20L, Option(10L), "semdup_late"),
      (10L, Option.empty[Long], "attached")), 0L, "lemb")
    assert(served ===
      Map(61L -> 10L, 41L -> 10L, 30L -> 10L, 20L -> 10L))
    val parts = new java.io.File(s"$base/roots_corr").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts === Seq("feed=lemb", "feed=ltext"))
  }

  test("compactRoots: folds plain+corr into one resolved __fold partition; serve identical; stale replay after fold loses; torn swap heals") {
    import spark.implicits._
    val roots = java.nio.file.Files.createTempDirectory("rcomp")
      .toString + "/roots"
    def plain(rows: Seq[(Long, Option[Long])], id: Long): Unit =
      StreamOps.maintainRoots(roots,
        rows.toDF("doc_id", "matched_id"), id)
    def corr(rows: Seq[(Long, Option[Long], String)], id: Long,
             feed: String): Unit =
      StreamOps.correctRoots(roots,
        rows.toDF("doc_id", "matched_id", "status"), id, feed)
    def served: Map[Long, Long] =
      StreamOps.serveRoots(spark, roots).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fs = new org.apache.hadoop.fs.Path(roots)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    plain(Seq((61L, Option(41L))), 0L)
    plain(Seq((62L, Option(42L))), 1L)
    corr(Seq((41L, Option(30L), "semdup_late"),
      (30L, Option.empty[Long], "attached")), 0L, "lemb")
    val before = served
    StreamOps.compactRoots(spark, roots)
    assert(served === before)
    assert(before === Map(61L -> 30L, 41L -> 30L, 62L -> 42L))
    // the fold keeps CORRECTION rank (r17 ADVICE, fold-vs-replay): it
    // lands under the reserved feed on the corr side; the absorbed
    // plain batches and correction passes are deleted (scoped)
    val corrParts = new java.io.File(roots + "_corr").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(corrParts === Seq("feed=__fold"),
      s"one reserved resolved fold partition, got $corrParts")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(roots)) ||
      new java.io.File(roots).listFiles().count(_.isDirectory) === 0,
      "the plain dir's absorbed batch partitions are gone")
    // the view keeps working on top of the fold: a new ingest batch and
    // a new correction pass that re-roots a FOLDED row (62 -> 42 must
    // chase through 42's eviction)
    plain(Seq((63L, Option(43L))), 2L)
    corr(Seq((42L, Option(31L), "exact_late"),
      (31L, Option.empty[Long], "attached")), 0L, "ltext")
    val after = Map(61L -> 30L, 41L -> 30L, 62L -> 31L, 42L -> 31L,
      63L -> 43L)
    assert(served === after)
    StreamOps.compactRoots(spark, roots)
    assert(served === after)
    // the r17 ADVICE scenario: batch 1 (doc 62 -> keeper 42) crashed
    // un-ledgered; the ltext pass corrected 62 past 42's eviction and
    // the fold absorbed the correction; NOW the batch replays and
    // rewrites its plain partition with the recomputed STALE root —
    // the folded correction must win the per-doc serve
    plain(Seq((62L, Option(42L))), 1L)
    assert(served === after,
      "a stale replay after the fold never resurfaces past the folded correction")
    // identical replay of a just-folded batch: no duplicate rows either
    plain(Seq((63L, Option(43L))), 2L)
    val rows = StreamOps.serveRoots(spark, roots).collect()
    assert(rows.length === after.size, "no duplicate rows from the replays")
    assert(served === after)
    // torn swap: a complete fold tmp staged (Spark _SUCCESS marker),
    // the previous fold partition dropped, crash — the next serve
    // heals by promoting the tmp
    StreamOps.compactRoots(spark, roots)
    StreamOps.serveRoots(spark, roots).withColumn("seq", lit(2L))
      .repartition(1)
      .write.mode("overwrite").parquet(roots + "_corr.foldtmp")
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(roots + "_corr/feed=__fold"), true))
    assert(served === after, "recovery promotes the complete fold tmp")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(roots + "_corr.foldtmp")))
    // a PARTIAL tmp (no _SUCCESS — crash mid-write) is deleted, never
    // promoted: the live fold partition still holds every row
    val junkTmp = new java.io.File(roots + "_corr.foldtmp")
    junkTmp.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junkTmp.getPath, "part-torn.parquet"),
      Array[Byte](80, 65, 82))
    assert(served === after, "a partial fold tmp is discarded, not promoted")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(roots + "_corr.foldtmp")))
    // a second fold on the already-folded view is a no-op in content
    StreamOps.compactRoots(spark, roots)
    assert(served === after)
  }

  test("in-loop serving maintenance: bootstrap, ledgered appends, eviction tombstones, and the watch's PURGE fire inside the streaming loop; decisions identical to the serving-less twin") {
    import spark.implicits._
    val vec = graft.ops.VectorFlow.Params(minCos = 0.99, dim = 8)
    def rot(a: Double): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(0) = math.cos(a).toFloat; v(1) = math.sin(a).toFloat; v.toSeq
    }
    def goodText(seed: String): String =
      "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")
    def udf2(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .select("doc_id", "text", "n_chars", "embedding")
    def lateDf(rows: Seq[(Long, Seq[Float], Long)]) =
      rows.toDF("doc_id", "embedding", "prio")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val noEmb = null.asInstanceOf[Seq[Float]]
    val bench = graft.ops.CurationFlow.benchShingles(
      udf2(Seq((100L, goodText("bench"), noEmb))))
    // batches: ingest 0 = 4 pending docs (1-4, embeddings late) + 6
    // vectored docs (11-16); ingest 1 = 6 vectored (21-26); two late
    // passes attach 1-4's embeddings as near-dups of 21-24 (earlier
    // prio -> each EVICTS its stored twin); ingest 2 = 2 vectored
    // (31,32). Tombstones cross maxTombstoneFrac=0.2 before batch 2's
    // cycle, which must purge IN-LOOP.
    def b0 = udf2((1L to 4L).map(i => (i, goodText(s"p$i"), noEmb)) ++
      (0 until 6).map(i => (11L + i, goodText(s"a$i"), rot(0.25 * i))))
    def b1 = udf2((0 until 6).map(i =>
      (21L + i, goodText(s"b$i"), rot(2.0 + 0.25 * i))))
    def b2 = udf2(Seq((31L, goodText("c0"), rot(4.0)),
      (32L, goodText("c1"), rot(4.25))))
    def l0 = lateDf(Seq((1L, rot(2.005), 0L), (2L, rot(2.255), 0L)))
    def l1 = lateDf(Seq((3L, rot(2.505), 0L), (4L, rot(2.755), 0L)))
    def drive(base: String, serving: Option[StreamOps.Serving]): Unit = {
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec, serving = serving)(b0, 0L)
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec, serving = serving)(b1, 1L)
      StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
        serving = serving)(l0, 0L)
      StreamOps.lateEmbeddingStep(s"$base/idx", s"$base/lateout", vec,
        serving = serving)(l1, 1L)
      StreamOps.unifiedStep(s"$base/idx", s"$base/out", bench, 256L, 16,
        vec = vec, serving = serving)(b2, 2L)
    }
    val a = java.nio.file.Files.createTempDirectory("srvA").toString
    val b = java.nio.file.Files.createTempDirectory("srvB").toString
    val watches =
      scala.collection.mutable.ArrayBuffer
        .empty[graft.ops.IvfIndex.MaintainWatch]
    // driftMargin 1.0: this scenario's batches land far from the
    // bootstrap centroids by construction — the purge lifecycle is
    // under test, not the retrain escalation (IvfServeSoak's drift
    // modes own that)
    val sv = StreamOps.Serving(s"$b/serving", maxCellRows = 1000L,
      nlist = 2, driftMargin = 1.0, maxTombstoneFrac = 0.2,
      onWatch = w => watches += w)
    drive(a, None)
    drive(b, Some(sv))
    // the watch fired purge INSIDE the loop (batch 2's cycle: 4
    // tombstones / 18 physical = 0.22 > 0.2), and the purge landed —
    // tombstones dir gone, occupancy compacted
    assert(watches.map(_.action).toSeq === Seq("ok", "ok", "ok", "purge"),
      s"watch actions: ${watches.map(_.action)}")
    assert(watches.last.tombstoneFrac > 0.2)
    val fs = new org.apache.hadoop.fs.Path(s"$b/serving")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$b/serving/tombstones")),
      "purgeInPlace must drop the tombstone log")
    // served membership == the kept-vector store, exactly (bootstrap +
    // ledgered appends + tombstoned evictions + purge)
    val servedIds = graft.ops.IvfIndex.load(spark, s"$b/serving")
      .assignments.select("vec_id").as[Long].collect().toSet
    val storeIds = spark.read.parquet(s"$b/idx/vec/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(servedIds === storeIds, s"served=$servedIds store=$storeIds")
    assert(servedIds === ((11L to 16L) ++ (25L to 26L) ++ (1L to 4L) ++
      Seq(31L, 32L)).toSet)
    // decisions byte-identical with and without the serving attachment
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(s"$b/out") === rows(s"$a/out"))
    assert(rows(s"$b/lateout") === rows(s"$a/lateout"))
    // replay of a ledgered batch: the serving lane ledger skips the
    // append — membership unchanged, no duplicate rows
    StreamOps.unifiedStep(s"$b/idx", s"$b/out", bench, 256L, 16,
      vec = vec, serving = Some(sv))(b2, 2L)
    val perId = graft.ops.IvfIndex.load(spark, s"$b/serving")
      .assignments.groupBy("vec_id").count()
      .filter(col("count") > 1).count()
    assert(perId === 0L, "no duplicate served rows after a replay")
    assert(graft.ops.IvfIndex.load(spark, s"$b/serving")
      .assignments.count() === storeIds.size.toLong)
  }

  test("serveRoots: served rows are materialized under the lock — a later compact's scoped deletes cannot fail consumption") {
    import spark.implicits._
    val roots = java.nio.file.Files.createTempDirectory("rserve")
      .toString + "/roots"
    StreamOps.maintainRoots(roots,
      Seq((61L, Option(41L))).toDF("doc_id", "matched_id"), 0L)
    // take a serve handle, then let TWO compacts delete and rewrite the
    // partitions a lazy plan would have scanned at consumption time (the
    // r18 ADVICE race: compactEvery folds on a concurrent feed thread)
    val snapshot = StreamOps.serveRoots(spark, roots)
    StreamOps.compactRoots(spark, roots)
    StreamOps.correctRoots(roots,
      Seq((41L, Option(30L), "semdup_late"),
        (30L, Option.empty[Long], "attached"))
        .toDF("doc_id", "matched_id", "status"), 0L, "lemb")
    StreamOps.compactRoots(spark, roots)
    val got = snapshot.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(61L -> 41L),
      "the pre-compact snapshot must read intact after the folds")
    // and the live serve sees the corrected state
    val live = StreamOps.serveRoots(spark, roots).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live === Map(61L -> 30L, 41L -> 30L))
  }

  test("recoverRoots: one-shot legacy heal of a pre-r18 mid-compact crash (aside restore and complete-tmp promote)") {
    import spark.implicits._
    val fsFor = (p: String) => new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def served(roots: String): Map[Long, Long] =
      StreamOps.serveRoots(spark, roots).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (a) crash between the old layout's live->aside rename and the tmp
    // promote with an INCOMPLETE tmp: the aside holds the only copy —
    // restore it
    val r1 = java.nio.file.Files.createTempDirectory("rleg1")
      .toString + "/roots"
    StreamOps.maintainRoots(r1,
      Seq((61L, Option(41L))).toDF("doc_id", "matched_id"), 0L)
    val fs1 = fsFor(r1)
    assert(fs1.rename(new org.apache.hadoop.fs.Path(r1),
      new org.apache.hadoop.fs.Path(r1 + ".aside")))
    val junk = new java.io.File(r1 + ".tmp")
    junk.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junk.getPath, "part-torn.parquet"),
      Array[Byte](80, 65, 82))
    assert(served(r1) === Map(61L -> 41L),
      "the stranded aside rows are restored")
    assert(!fs1.exists(new org.apache.hadoop.fs.Path(r1 + ".aside")))
    assert(!fs1.exists(new org.apache.hadoop.fs.Path(r1 + ".tmp")))
    // (b) crash after staging a COMPLETE old-layout fold tmp (_SUCCESS)
    // with the live dir already set aside: the tmp holds the full
    // pre-crash serve — promote it
    val r2 = java.nio.file.Files.createTempDirectory("rleg2")
      .toString + "/roots"
    StreamOps.maintainRoots(r2,
      Seq((62L, Option(42L))).toDF("doc_id", "matched_id"), 0L)
    StreamOps.serveRoots(spark, r2)
      .withColumn("batch_id", lit(-1L)).repartition(1)
      .write.mode("overwrite").partitionBy("batch_id").parquet(r2 + ".tmp")
    val fs2 = fsFor(r2)
    assert(fs2.rename(new org.apache.hadoop.fs.Path(r2),
      new org.apache.hadoop.fs.Path(r2 + ".aside")))
    assert(served(r2) === Map(62L -> 42L),
      "the complete legacy fold tmp is promoted")
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(r2 + ".aside")))
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(r2 + ".tmp")))
    // the healed view keeps working under the current layout
    StreamOps.maintainRoots(r2,
      Seq((63L, Option(43L))).toDF("doc_id", "matched_id"), 1L)
    StreamOps.compactRoots(spark, r2)
    assert(served(r2) === Map(62L -> 42L, 63L -> 43L))
  }

  test("rootsLock: concurrent correction passes from separate threads stamp distinct, gapless seqs") {
    import spark.implicits._
    val roots = java.nio.file.Files.createTempDirectory("rlock")
      .toString + "/roots"
    StreamOps.maintainRoots(roots,
      Seq((100L, Option(1L))).toDF("doc_id", "matched_id"), 0L)
    // three feeds of one view run their foreachBatch bodies on
    // concurrent threads (ingest compactEvery + both late steps) — the
    // seq stamp is read-then-write, so without rootsLock two passes can
    // read the same max(seq) and collide; with it the stamps are the
    // true pass order 1..n
    val n = 6
    val threads = (0 until n).map { i =>
      new Thread(() => StreamOps.correctRoots(roots,
        Seq((200L + i, Option(50L + i), "semdup_late"),
          (50L + i, Option.empty[Long], "attached"))
          .toDF("doc_id", "matched_id", "status"),
        i.toLong, feed = if (i % 2 == 0) "lemb" else "ltext"))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val seqs = spark.read.parquet(roots + "_corr")
      .select("seq").as[Long].collect().toSeq.sorted
    assert(seqs === (1 to n).map(_.toLong),
      s"expected gapless distinct seqs 1..$n, got $seqs")
    // and a concurrent-era compact folds to the exact recompute
    StreamOps.compactRoots(spark, roots)
    val got = StreamOps.serveRoots(spark, roots).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (Map(100L -> 1L) ++
      (0 until n).map(i => (200L + i) -> (50L + i)).toMap))
  }

  test("compactEvery: scheduled compaction bounds index files, decisions identical to the uncompacted twin") {
    import spark.implicits._
    val p = graft.ops.VectorFlow.Params(dim = 16)
    // batch b lives in its own orthogonal 2D plane: cross-batch cosines
    // are 0, so every batch's 12 vectors are all KEPT and the stores
    // genuinely grow one batch per step (0.2-rad in-plane spacing)
    def rot(plane: Int, a: Double): Seq[Float] = {
      val v = Array.fill(16)(0f)
      v(2 * plane) = math.cos(a).toFloat
      v(2 * plane + 1) = math.sin(a).toFloat
      v.toSeq
    }
    def vdf(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    def mkBatch(b: Long) = (0L until 12L).map(i =>
      (b * 100 + i) -> rot(b.toInt, 0.2 * i))
    val withC = java.nio.file.Files.createTempDirectory("veccmp_c").toString
    val noC = java.nio.file.Files.createTempDirectory("veccmp_n").toString
    (0L until 6L).foreach { b =>
      StreamOps.vectorCurationStep(s"$withC/idx", s"$withC/out", p,
        compactEvery = 2)(vdf(mkBatch(b)), b)
      StreamOps.vectorCurationStep(s"$noC/idx", s"$noC/out", p)(
        vdf(mkBatch(b)), b)
    }
    def rows(base: String) = spark.read.parquet(s"$base/out")
      .select("vec_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(withC) === rows(noC),
      "compaction must not change any decision")
    def partFiles(path: String): Int = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).count(_.getName.endsWith(".parquet"))
    }
    // after the batch-5 compaction (batches 4-5 appended nothing new to
    // compact away? no — every batch keeps its distinct vectors), the
    // compacted stores hold ONE file per non-empty bucket; the
    // uncompacted twin holds one per (batch, touched bucket)
    for (store <- Seq("digest", "bands", "vectors")) {
      val c = partFiles(s"$withC/idx/$store")
      val n = partFiles(s"$noC/idx/$store")
      assert(c < n, s"$store: compacted $c files !< uncompacted $n")
    }
    // and the compacted index keeps serving: one more batch of exact
    // copies of batch 0 must all drop as history, identically on both
    val b6 = (0L until 12L).map(i => (900L + i) -> rot(0, 0.2 * i))
    StreamOps.vectorCurationStep(s"$withC/idx", s"$withC/out", p,
      compactEvery = 2)(vdf(b6), 6L)
    StreamOps.vectorCurationStep(s"$noC/idx", s"$noC/out", p)(vdf(b6), 6L)
    assert(rows(withC) === rows(noC))
    val st6 = spark.read.parquet(s"$withC/out")
      .filter(col("batch_id") === 6).select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(st6 === Set("exact_history"),
      s"post-compact probe must still see all history: $st6")
  }

  test("first-ever EMPTY batch: ledger commits, replay is a safe no-op, next batch decides normally") {
    import spark.implicits._
    // an empty batch 0 writes no decisions partition but DOES write its
    // ledger — its replay must read "no kept ids", not crash on a
    // missing/data-less decisions path (r15 review)
    val bench = graft.ops.CurationFlow.benchShingles(
      Seq((0L, "the of a b")).toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long")))
    val base = java.nio.file.Files.createTempDirectory("curempty0").toString
    def step(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamOps.curationStep(s"$base/idx", s"$base/out", bench, 256L, 16)(
        df, id)
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars")
    step(empty, 0L)
    assert(graft.ops.CurationFlow.readLedger(spark, s"$base/idx")
      === Some((0L, 0L, 0L)))
    step(empty, 0L) // replay of the ledger-committed empty batch
    // and the vector twin
    val vbase = java.nio.file.Files.createTempDirectory("vecempty0").toString
    val p = graft.ops.VectorFlow.Params(dim = 4)
    def vstep(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
      StreamOps.vectorCurationStep(s"$vbase/idx", s"$vbase/out", p)(
        rows.toDF("vec_id", "embedding")
          .withColumn("embedding", col("embedding").cast("array<float>")), id)
    vstep(Nil, 0L)
    vstep(Nil, 0L) // replay
    vstep(Seq(1L -> Seq(1f, 0f, 0f, 0f)), 1L)
    assert(spark.read.parquet(s"$vbase/out")
      .filter(col("status") === "kept").count() === 1L)
    assert(graft.ops.CurationFlow.readLedger(spark, s"$vbase/idx")
      === Some((1L, 0L, 1L)))
  }

  test("small records (cursor ledger, maintain ledger, maintain sidecar, vecflow params): a tmp-only record is promoted, an unparseable tmp-only one reads absent, a corrupt live one is refused") {
    import org.apache.hadoop.fs.Path
    val fsOf = (d: String) =>
      new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val one = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // each record: its file, its real writer and its real reader
    val records: Seq[(String, String => Unit, String => Option[Any])] = Seq(
      ("_cursor",
        d => graft.ops.CurationFlow.writeLedger(spark, d, 3L, 100L, 250L),
        d => graft.ops.CurationFlow.readLedger(spark, d)),
      ("_maintain_ledger_ing",
        d => graft.ops.IvfIndex.writeMaintainLedger(fsOf(d), d, 7L, "ing"),
        d => graft.ops.IvfIndex.readMaintainLedger(fsOf(d), d, "ing")),
      ("_graft_maintain.json",
        d => graft.ops.IvfIndex.writeMaintainSidecar(fsOf(d), d, 0.75, 2L),
        d => graft.ops.IvfIndex.readMaintainSidecar(fsOf(d), d)),
      ("_graft_vecflow.json",
        d => graft.ops.VectorFlow.ingest(d, one, 0L,
          graft.ops.VectorFlow.Params(dim = 4)),
        d => graft.ops.VectorFlow.frozenDim(spark, d)))
    def put(fs: org.apache.hadoop.fs.FileSystem, p: Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    for ((file, write, read) <- records) {
      val dir = java.nio.file.Files.createTempDirectory("record").toString
      val fs = fsOf(dir)
      val (live, tmp) = (new Path(dir, file), new Path(dir, file + ".tmp"))
      write(dir)
      val want = read(dir)
      assert(want.isDefined, s"$file: the writer left no record")
      // crash between the delete and the rename: only a complete tmp left
      assert(fs.rename(live, tmp))
      assert(read(dir) === want, s"$file: a complete tmp was not promoted")
      assert(fs.exists(live) && !fs.exists(tmp), s"$file: promote left a tmp")
      // a torn first write: no live record, a tmp that does not parse
      assert(fs.delete(live, false))
      put(fs, tmp, "{")
      assert(read(dir) === None, s"$file: a torn tmp must read as absent")
      assert(!fs.exists(tmp), s"$file: a torn tmp must be dropped")
      // a live record that does not parse is refused, not guessed at
      put(fs, live, "not,a")
      intercept[java.io.IOException](read(dir))
    }
  }
}
