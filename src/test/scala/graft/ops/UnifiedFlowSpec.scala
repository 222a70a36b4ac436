package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The unified text+vector corpus build ([[UnifiedFlow]]): one
  * first-wins decision per doc over both modalities — text gates/dedup
  * first, semantic dedup of the survivors second, packing last.
  * Planted scenarios with hand-computable verdicts for every boundary:
  * text dup beats the semantic stage to it, a paraphrase (fresh text,
  * near-identical embedding) drops ONLY via the semantic stage, a
  * missing modality never drops a text-good doc, and the streaming
  * step's ledger/replay contract covers both stores.
  */
class UnifiedFlowSpec extends SparkTestBase {

  private val Dim = 8

  private def rot(a: Double): Seq[Float] = {
    val v = Array.fill(Dim)(0f)
    v(0) = math.cos(a).toFloat
    v(1) = math.sin(a).toFloat
    v.toSeq
  }

  /** 22-token gate-passing text, distinct per seed word. */
  private def goodText(seed: String): String =
    "the of " + (0 until 20).map(j => s"w$seed$j").mkString(" ")

  private def df(rows: Seq[(Long, String, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "embedding")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .select("doc_id", "text", "n_chars", "embedding")
  }

  private def statuses(d: org.apache.spark.sql.DataFrame) =
    d.select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def matches(d: org.apache.spark.sql.DataFrame) =
    d.filter(col("matched_id").isNotNull)
      .select("doc_id", "matched_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val noEmb = null.asInstanceOf[Seq[Float]]

  // wave 1: 1 kept (text+emb); 2 text-copies 1 (exact_batch — the
  // TEXT stage wins before semantics ever see it); 3 kept text-only;
  // 4 fails shape; 5 kept with an embedding ORTHOGONAL to 1's
  private def wave1 = df(Seq(
    (1L, goodText("a"), rot(0)),
    (2L, goodText("a"), rot(0.001)),
    (3L, goodText("c"), noEmb),
    (4L, "too short", noEmb),
    (5L, goodText("e"), { val v = Array.fill(Dim)(0f); v(3) = 1f; v.toSeq })))

  // wave 2: 11 = paraphrase of 1 (fresh text, near emb) →
  // semdup_history matched 1; 12 = fresh text + EXACT emb of 1 →
  // embdup_history matched 1; 13 = text copy of 3 → exact_history
  // (text stage, though it has a fresh embedding); 14 kept (fresh
  // both); 15/16 = fresh texts with near-identical NEW embeddings →
  // one kept, one semdup_batch; 17 = fresh text, null emb → kept
  private def wave2 = {
    val eNew = { val v = Array.fill(Dim)(0f); v(5) = 1f; v.toSeq }
    val eNew2 = { val v = Array.fill(Dim)(0f)
      v(5) = math.cos(0.02).toFloat; v(6) = math.sin(0.02).toFloat; v.toSeq }
    df(Seq(
      (11L, goodText("k"), rot(0.02)),
      (12L, goodText("l"), rot(0)),
      (13L, goodText("c"), rot(1.2)),
      (14L, goodText("n"), rot(2.8)),
      (15L, goodText("p"), eNew),
      (16L, goodText("q"), eNew2),
      (17L, goodText("r"), noEmb)))
  }

  private def benchOf = CurationFlow.benchShingles(
    df(Seq((100L, goodText("bench"), noEmb))))

  private val Description = "spark.job.description"

  test("two waves over both modalities: text dup first, semantic second, missing modality passes, pack continues") {
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = java.nio.file.Files.createTempDirectory("uni").toString + "/c"
    val bench = benchOf
    val w1 = UnifiedFlow.ingest(dir, wave1, bench, cursor = 0L, vec = vec)
    assert(statuses(w1.decisions) === Map(1L -> "kept", 2L -> "exact_batch",
      3L -> "kept", 4L -> "shape", 5L -> "kept"))
    // text-stage drops carry the duplicate map too (r16)
    assert(matches(w1.decisions) === Map(2L -> 1L))
    assert(w1.cursor === 66L, s"3 kept x 22 tokens, got ${w1.cursor}")

    val w2 = UnifiedFlow.ingest(dir, wave2, bench, cursor = w1.cursor,
      vec = vec)
    assert(statuses(w2.decisions) === Map(11L -> "semdup_history",
      12L -> "embdup_history", 13L -> "exact_history", 14L -> "kept",
      15L -> "kept", 16L -> "semdup_batch", 17L -> "kept"))
    assert(matches(w2.decisions) === Map(11L -> 1L, 12L -> 1L,
      13L -> 3L, 16L -> 15L))
    assert(w2.cursor === w1.cursor + 66L)
    // pack fields only on kept rows, seq ids continuing across waves
    val seqs = w2.decisions.filter(col("status") === "kept")
      .select("seq_id").collect().map(_.getLong(0))
    assert(seqs.forall(_ >= w1.cursor / 256L))
    // decided exactly once per wave
    assert(w1.decisions.count() === 5L && w2.decisions.count() === 7L)
  }

  test("late embeddings ≡ everything-on-time: final kept set, duplicate map, and vector corpus match the recompute") {
    import spark.implicits._
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val bench = CurationFlow.benchShingles(
      df(Seq((100L, goodText("bench"), noEmb))))
    def mkDir() = java.nio.file.Files.createTempDirectory("unilate")
      .toString + "/c"
    // doc 3's embedding rot(2.0) is computed HOURS after its text was
    // kept; doc 21 (wave 2) carries a near-identical embedding on time.
    // ON TIME: 21 drops at the semantic stage (semdup_history m3).
    // LATE: 21 is kept and its vector stored — then 3's embedding
    // arrives with its original keep order (prio 0 < 21's 1), evicts
    // 21's vector, and corrects 21 → semdup_late m3.
    val dirA = mkDir()
    val a1 = UnifiedFlow.ingest(dirA, df(Seq((1L, goodText("a"), rot(0)),
      (3L, goodText("c"), rot(2.0)))), bench, 0L, vec = vec, prio = 0L)
    val a2 = UnifiedFlow.ingest(dirA, df(Seq((21L, goodText("k"), rot(2.02)),
      (22L, goodText("m"), rot(4.0)))), bench, a1.cursor, vec = vec,
      prio = 1L)
    assert(statuses(a2.decisions)(21L) === "semdup_history")

    val dirB = mkDir()
    val b1 = UnifiedFlow.ingest(dirB, df(Seq((1L, goodText("a"), rot(0)),
      (3L, goodText("c"), noEmb))), bench, 0L, vec = vec, prio = 0L)
    val b2 = UnifiedFlow.ingest(dirB, df(Seq((21L, goodText("k"), rot(2.02)),
      (22L, goodText("m"), rot(4.0)))), bench, b1.cursor, vec = vec,
      prio = 1L)
    // before the correction, 21 is (wrongly but inevitably) kept
    assert(statuses(b2.decisions)(21L) === "kept")
    val cor = UnifiedFlow.lateEmbeddings(dirB,
      Seq((3L, rot(2.0), 0L)).toDF("doc_id", "embedding", "prio")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      vec)
    assert(statuses(cor) === Map(3L -> "attached", 21L -> "semdup_late"))
    assert(matches(cor) === Map(21L -> 3L))

    // FINAL-STATE equivalence: kept docs, duplicate map, vector corpus
    val onTimeKept = Set(1L, 3L, 22L)
    val lateKept = (statuses(b1.decisions) ++ statuses(b2.decisions))
      .filter(_._2 == "kept").keySet --
      statuses(cor).filter(kv => kv._2 == "semdup_late" ||
        kv._2 == "embdup_late").keySet
    assert(lateKept === onTimeKept)
    assert((matches(a2.decisions) ++ matches(a1.decisions)) ===
      (matches(cor)), "duplicate maps must agree (21 -> 3)")
    def storeIds(dir: String) = spark.read
      .parquet(s"$dir/vec/vectors").select("vec_id").as[Long].collect().toSet
    assert(storeIds(dirA) === storeIds(dirB) &&
      storeIds(dirA) === Set(1L, 3L, 22L))

    // FORWARD equivalence: the corrected corpus serves the next wave
    // identically — a later near-copy of rot(2.0) drops against 3 (not
    // the evicted 21) in BOTH worlds
    def next(dir: String, cursor: Long) = UnifiedFlow.ingest(dir,
      df(Seq((31L, goodText("z"), rot(2.01)))), bench, cursor, vec = vec,
      prio = 2L)
    val nA = next(dirA, a2.cursor)
    val nB = next(dirB, b2.cursor)
    assert(statuses(nA.decisions) === statuses(nB.decisions) &&
      statuses(nA.decisions) === Map(31L -> "semdup_history"))
    assert(matches(nA.decisions) === matches(nB.decisions) &&
      matches(nA.decisions) === Map(31L -> 3L))
  }

  test("late texts ≡ everything-on-time: pending docs hold on their vectors; the retroactive text pass evicts, attaches, and corrects") {
    import spark.implicits._
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val bench = CurationFlow.benchShingles(
      df(Seq((100L, goodText("bench"), noEmb))))
    def mkDir() = java.nio.file.Files.createTempDirectory("unilatetext")
      .toString + "/c"
    // doc 3 and doc 5's texts render HOURS after their embeddings: in
    // the late world they ingest TEXTLESS (pending). Doc 21 (wave 2)
    // carries an exact COPY of 3's text, doc 23 a band-sharing NEAR dup
    // of 5's — on time both drop at the text stage; late-fed, both are
    // kept and indexed until the correction pass.
    val T3 = goodText("c")
    val T5 = goodText("e") + " tail99"
    val T23 = goodText("e")

    val dirA = mkDir()
    val a1 = UnifiedFlow.ingest(dirA, df(Seq(
      (1L, goodText("a"), rot(0)), (3L, T3, rot(2.0)),
      (5L, T5, rot(4.0)))), bench, 0L, vec = vec, prio = 0L)
    val a2 = UnifiedFlow.ingest(dirA, df(Seq(
      (21L, T3, rot(1.0)), (23L, T23, rot(3.0)),
      (22L, goodText("m"), rot(5.0)))), bench, a1.cursor, vec = vec,
      prio = 1L)
    assert(statuses(a2.decisions) === Map(21L -> "exact_history",
      23L -> "neardup_history", 22L -> "kept"))
    assert(matches(a2.decisions) === Map(21L -> 3L, 23L -> 5L))

    val dirB = mkDir()
    val nullText = null.asInstanceOf[String]
    val b1 = UnifiedFlow.ingest(dirB, df(Seq(
      (1L, goodText("a"), rot(0)), (3L, nullText, rot(2.0)),
      (5L, nullText, rot(4.0)))), bench, 0L, vec = vec, prio = 0L)
    // pending docs hold as kept on their vectors, with NULL pack fields
    assert(statuses(b1.decisions) === Map(1L -> "kept", 3L -> "kept",
      5L -> "kept"))
    assert(b1.decisions.filter(col("doc_id").isin(3L, 5L) &&
      col("n_tok").isNull).count() === 2L,
      "pending-text keeps must carry no pack fields")
    val b2 = UnifiedFlow.ingest(dirB, df(Seq(
      (21L, T3, rot(1.0)), (23L, T23, rot(3.0)),
      (22L, goodText("m"), rot(5.0)))), bench, b1.cursor, vec = vec,
      prio = 1L)
    // before the correction, the copies are (wrongly but inevitably) kept
    assert(statuses(b2.decisions) === Map(21L -> "kept", 23L -> "kept",
      22L -> "kept"))

    // the late feed, at the docs' original keep order
    val late = Seq((3L, T3, 0L), (5L, T5, 0L))
      .toDF("doc_id", "text", "prio")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "n_chars", "prio")
    val cor = UnifiedFlow.lateTexts(dirB, late, bench, b2.cursor,
      vec = vec)
    assert(statuses(cor.decisions) === Map(3L -> "attached",
      5L -> "attached", 21L -> "exact_late", 23L -> "neardup_late"))
    assert(matches(cor.decisions) === Map(21L -> 3L, 23L -> 5L))
    // attached texts PACK at the carried cursor (the documented
    // divergence is the pack position, never the kept set)
    assert(cor.decisions.filter(col("status") === "attached" &&
      col("n_tok").isNotNull && col("seq_id").isNotNull).count() === 2L)
    assert(cor.cursor === b2.cursor + 22L + 23L,
      "T3 is 22 tokens, T5 23 (the tail word)")

    // FINAL-STATE equivalence: the vector corpus — the evicted copies'
    // vectors left all stores (on time they were never indexed)
    def storeIds(dir: String) = spark.read
      .parquet(s"$dir/vec/vectors").select("vec_id").as[Long]
      .collect().toSet
    assert(storeIds(dirA) === storeIds(dirB) &&
      storeIds(dirA) === Set(1L, 3L, 5L, 22L))
    // and the keeper-meta store (the text corpus' id surface)
    def metaIds(dir: String) = spark.read
      .parquet(s"$dir/textmeta").select("doc_id").as[Long]
      .collect().toSet
    assert(metaIds(dirA) === metaIds(dirB) &&
      metaIds(dirA) === Set(1L, 3L, 5L, 22L))

    // FORWARD equivalence: the corrected corpus serves the next wave
    // identically — a near-copy of T3 drops against 3 (not the evicted
    // 21) in BOTH worlds, an exact copy likewise
    def next(dir: String, cursor: Long) = UnifiedFlow.ingest(dir,
      df(Seq((31L, T3 + " tail77", noEmb), (33L, T3, noEmb))), bench,
      cursor, vec = vec, prio = 2L)
    val nA = next(dirA, a2.cursor)
    val nB = next(dirB, cor.cursor)
    assert(statuses(nA.decisions) === statuses(nB.decisions) &&
      statuses(nA.decisions) === Map(31L -> "neardup_history",
        33L -> "exact_history"))
    assert(matches(nA.decisions) === matches(nB.decisions) &&
      matches(nA.decisions) === Map(31L -> 3L, 33L -> 3L))

    // replaying the SAME late feed is inert (redundant_late; nothing
    // evicts, nothing re-attaches, stores unchanged)
    val cor2 = UnifiedFlow.lateTexts(dirB, late, bench, cor.cursor,
      vec = vec)
    assert(statuses(cor2.decisions) === Map(3L -> "redundant_late",
      5L -> "redundant_late"))
    assert(cor2.cursor === cor.cursor)
    assert(storeIds(dirB) === Set(1L, 3L, 5L, 22L) &&
      metaIds(dirB) === Set(1L, 3L, 5L, 22L))
  }

  test("job budget: the late-text pass over a corpus with two pending docs, every job labeled") {
    import spark.implicits._
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = java.nio.file.Files.createTempDirectory("unilate_budget")
      .toString + "/c"
    val bench = benchOf
    // the late-texts scenario's world B: 3 and 5 arrive textless, 21 and
    // 23 are their text copies, so the pass attaches two and evicts two
    val T3 = goodText("c")
    val T5 = goodText("e") + " tail99"
    val nullText = null.asInstanceOf[String]
    val b1 = UnifiedFlow.ingest(dir, df(Seq((1L, goodText("a"), rot(0)),
      (3L, nullText, rot(2.0)), (5L, nullText, rot(4.0)))), bench, 0L,
      vec = vec, prio = 0L)
    val b2 = UnifiedFlow.ingest(dir, df(Seq((21L, T3, rot(1.0)),
      (23L, goodText("e"), rot(3.0)), (22L, goodText("m"), rot(5.0)))),
      bench, b1.cursor, vec = vec, prio = 1L)
    val late = Seq((3L, T3, 0L), (5L, T5, 0L)).toDF("doc_id", "text", "prio")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "n_chars", "prio")
    val (cor, lateJobs) = jobs(UnifiedFlow.lateTexts(dir, late, bench,
      b2.cursor, vec = vec))
    assert(statuses(cor.decisions) === Map(3L -> "attached",
      5L -> "attached", 21L -> "exact_late", 23L -> "neardup_late"))
    assertJobBudget(("UnifiedFlow.lateTexts", lateJobs, 115))
  }

  test("unifiedStep: ledger replay re-commits BOTH stores; pre-ledger crash exactly-once") {
    import spark.implicits._
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val bench = CurationFlow.benchShingles(
      df(Seq((100L, goodText("bench"), noEmb))))
    val base = java.nio.file.Files.createTempDirectory("unistep").toString
    def step(rows: Seq[(Long, String, Seq[Float])], id: Long): Unit =
      graft.streaming.StreamOps.unifiedStep(s"$base/idx", s"$base/out",
        bench, 256L, 16, vec = vec)(df(rows), id)
    val b0 = Seq((1L, goodText("a"), rot(0)), (3L, goodText("c"), noEmb))
    step(b0, 0L)
    // half-commit crash: wipe the VECTOR band store, replay — the
    // unified replay must re-commit both modal stores
    org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(s"$base/idx/vec/bands"))
    step(b0, 0L)
    assert(spark.read.parquet(s"$base/out").count() === 2L,
      "replay must not duplicate decision rows")
    // batch 1's paraphrase of doc 1 must still drop — the replayed
    // commit restored the vector index
    step(Seq((11L, goodText("k"), rot(0.02))), 1L)
    val st = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 1)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st === Map(11L -> "semdup_history"))
    // pre-ledger crash on batch 2: decisions written, no ledger/commit —
    // replay replaces the partition (exactly-once)
    val b2 = Seq((21L, goodText("z"), rot(2.0)))
    val Some((_, _, end1)) =
      CurationFlow.readLedger(spark, s"$base/idx")
    val staged = UnifiedFlow.decide(s"$base/idx", df(b2), bench, end1,
      vec = vec)
    graft.streaming.StreamOps.writeDecisions(staged.decisions, 2L,
      s"$base/out")
    step(b2, 2L)
    val all = spark.read.parquet(s"$base/out")
    assert(all.filter(col("batch_id") === 2).count() === 1L)
    assert(all.count() === all.select("batch_id", "doc_id").distinct().count())
    assert(CurationFlow.readLedger(spark, s"$base/idx").get._1 === 2L)
  }

  test("decide drains the contamination scan when the band probe throws after the fork") {
    val dir = java.nio.file.Files.createTempDirectory("uni_drain").toString + "/c"
    // bands/ is stamped with 8 buckets, so decide's 16-bucket band probe
    // — which runs after the contamination scan has forked — fails its
    // layout check (the digest probe before the fork sees no index)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketedStore.stamp(fs, dir + "/bands", 8)
    // a scan that outlasts the failing probe: the bench's one partition
    // takes 3 s to produce its (never matching) shingle, on one core of
    // four, so the probe's own jobs are not starved behind it
    val slow = udf { (i: Long) => Thread.sleep(3000); s"no such shingle $i" }
    val bench = spark.range(0, 1, 1, 1).select(slow(col("id")).as("shingle"))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties
            .getProperty("spark.job.description") == "decide:hits-ckpt")
          starts.put(j.jobId, j.time)
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.put(j.jobId, j.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        UnifiedFlow.decide(dir, df(Seq((1L, goodText("a"), rot(0)))), bench, 0L)
      }
      val thrownAt = System.currentTimeMillis()
      assert(e.getMessage.contains("frozen"), e.getMessage)
      // a scan left running would start or finish jobs in this window
      Thread.sleep(4000)
      org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val hitJobs = starts.asScala.toMap
      assert(hitJobs.nonEmpty, "the contamination scan never ran — vacuous")
      hitJobs.foreach { case (id, start) =>
        assert(start <= thrownAt, s"hits job $id started after decide threw")
        assert(ends.containsKey(id) && ends.get(id) <= thrownAt,
          s"hits job $id was still running when decide threw")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("decide and commit leave the caller's job description in place, also when decide throws after its fork") {
    val sc = spark.sparkContext
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = java.nio.file.Files.createTempDirectory("uni_label").toString + "/c"
    val bench = benchOf
    sc.setJobDescription("caller")
    try {
      val staged = UnifiedFlow.decide(dir, wave1, bench, 0L, vec = vec)
      assert(sc.getLocalProperty(Description) === "caller")
      UnifiedFlow.commit(dir, staged, vec = vec)
      assert(sc.getLocalProperty(Description) === "caller")
      // the drain scenario: a bands/ store stamped with 8 buckets fails
      // decide's 16-bucket band probe after the contamination scan forked
      val bad = java.nio.file.Files.createTempDirectory("uni_label_bad").toString + "/c"
      BucketedStore.stamp(new org.apache.hadoop.fs.Path(bad)
        .getFileSystem(sc.hadoopConfiguration), bad + "/bands", 8)
      val e = intercept[IllegalArgumentException] {
        UnifiedFlow.decide(bad, wave1, bench, 0L, vec = vec)
      }
      assert(e.getMessage.contains("frozen"), e.getMessage)
      assert(sc.getLocalProperty(Description) === "caller")
    } finally sc.setJobDescription(null)
  }

  test("commit's forked store writes carry the caller's job tags") {
    val sc = spark.sparkContext
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = java.nio.file.Files.createTempDirectory("uni_tags").toString + "/c"
    val staged = UnifiedFlow.decide(dir, wave1, benchOf, 0L, vec = vec)
    val tag = "unified-commit-caller"
    sc.addJobTag(tag)
    val (_, started) = try jobs(UnifiedFlow.commit(dir, staged, vec = vec))
      finally sc.removeJobTag(tag)
    assert(started.nonEmpty)
    val untagged = started.filterNot(_.tags.contains(tag))
    assert(untagged.isEmpty, s"jobs without the caller's tag: $untagged")
  }

  test("job budget: the planted second wave's decide and commit, and the vector flow's decide alone, every job labeled") {
    val vec = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = java.nio.file.Files.createTempDirectory("uni_budget").toString + "/c"
    val bench = benchOf
    val w1 = UnifiedFlow.ingest(dir, wave1, bench, 0L, vec = vec)
    val (staged, decideJobs) = jobs(UnifiedFlow.decide(dir, wave2, bench,
      w1.cursor, vec = vec))
    val (_, commitJobs) = jobs(UnifiedFlow.commit(dir, staged, vec = vec))
    // the vector flow on its own store, fed the same waves' embeddings
    val vdir = java.nio.file.Files.createTempDirectory("vec_budget").toString + "/v"
    def vecs(wave: org.apache.spark.sql.DataFrame) =
      wave.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))
    VectorFlow.ingest(vdir, vecs(wave1), 0L, vec)
    val (_, vecJobs) = jobs(VectorFlow.decide(vdir, vecs(wave2), 0L, vec))
    // the exact counts: a change that adds or saves a job must say so here
    assertJobBudget(("UnifiedFlow.decide", decideJobs, 75),
      ("UnifiedFlow.commit", commitJobs, 19),
      ("VectorFlow.decide", vecJobs, 44))
  }
}
