package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The continuous corpus build ([[CurationFlow.ingest]]): first-wins
  * decisions pinned against a driver-side reference that replays the
  * documented contract over the SAME batch sequence (gates re-evaluated
  * in plain Scala; band candidacy taken from the engine's own
  * lshBandTable so the pin survives any banding change), plus the
  * single-batch ≡ batch-pipeline composition, cursor continuity across
  * a dup-free split, empty-batch no-op, and kept-only indexing.
  */
class CurationFlowSpec extends SparkTestBase {

  private val Stop = CurationFlow.Stopwords.toSet

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => f"$prefix$i%02d").mkString(" ")

  /** A document passing both gates: 2 stopwords + n distinct words. */
  private def passDoc(prefix: String, n: Int = 20): String =
    "the of " + words(prefix, n)

  // fixture: (doc_id, text) covering every decision reason.
  // ids chosen so the two-wave parity split puts each scenario where the
  // scaladoc above describes it; 100 is the pseudo-benchmark doc.
  private val A = passDoc("word")
  private val BShort = passDoc("item", 22)
  private val BLong = BShort + " tail99"
  private val BLong2 = BLong + " more88"
  private val C = passDoc("misc") // shares bench shingles via prefix? no — distinct
  private val BenchText = passDoc("evalx", 24)
  private val Contam = "the of " + words("evalx", 10) + " " + words("own", 12)
  private val RepDoc = "the of " + Seq.fill(9)("aaa bbbb").mkString(" ") +
    " " + words("fill", 24)
  private val fixture: Seq[(Long, String)] = Seq(
    2L -> A, // wave1: kept
    4L -> A, // wave1: exact_batch (min id 2 keeps)
    3L -> A, // wave2: exact_history (wave1 kept id 2)
    6L -> BShort, // wave1: neardup_batch (loses keep-longest to 8)
    8L -> BLong, // wave1: kept
    5L -> BLong2, // wave2: neardup_history — LONGER than the stored
    //               keeper, but first-wins pins wave1's choice
    100L -> BenchText, // wave1: benchmark
    10L -> Contam, // wave1: contaminated (shares evalx shingles)
    7L -> Contam, // wave2: contaminated AGAIN — not exact_history,
    //               because the index holds the KEPT corpus only
    12L -> "too few words", // wave1: shape
    14L -> RepDoc, // wave1: repetition
    9L -> passDoc("nine"), // wave2: kept (packs at wave1's cursor)
    11L -> passDoc("elev") // wave2: kept
  )

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def shingles3(text: String): Set[String] = {
    val tk = text.trim.split("\\s+")
    if (tk.length < 3) Set.empty
    else tk.sliding(3).map(_.mkString(" ")).toSet
  }

  /** (reason | kept) per doc under the documented first-wins contract,
    * plus (n_tok, seq_id, seq_offset) for kept rows and the end cursor.
    */
  private def reference(batches: Seq[Seq[(Long, String)]],
                        bands: Map[Long, Set[String]],
                        bench: Set[String], budget: Long = 256L)
      : (Map[Long, (String, Option[(Long, Long, Long)])], Long) = {
    var storedDig = Set.empty[String]
    var storedBands = Set.empty[String]
    var cursor = 0L
    val out = scala.collection.mutable.Map
      .empty[Long, (String, Option[(Long, Long, Long)])]
    for (batch <- batches) {
      def tok(t: String) = t.trim.split("\\s+")
      val shaped = batch.filter { case (_, t) =>
        val tk = tok(t); val n = tk.length.toLong
        val sumLen = tk.map(_.length.toLong).sum
        val nd = tk.count(_.matches("^[0-9]+$")).toLong
        val uq = tk.distinct.length.toLong
        val ns = tk.distinct.count(Stop).toLong
        n >= 20 && n <= 100000 && sumLen >= 3 * n && sumLen <= 10 * n &&
          ns >= 2 && nd * 10 <= n && uq * 10 >= 3 * n
      }
      batch.filterNot(shaped.contains)
        .foreach { case (id, _) => out(id) = ("shape", None) }
      val gated = shaped.filter { case (_, t) =>
        val bg = tok(t).sliding(2).map(_.mkString(" ")).toSeq
        val top = bg.groupBy(identity).values.map(_.size).max.toLong
        top * 5 < bg.size.toLong
      }
      shaped.filterNot(gated.contains)
        .foreach { case (id, _) => out(id) = ("repetition", None) }
      val (exHist, afterHist) =
        gated.partition { case (_, t) => storedDig(md5Hex(t)) }
      exHist.foreach { case (id, _) => out(id) = ("exact_history", None) }
      val keepByDig = afterHist.groupBy { case (_, t) => md5Hex(t) }
        .values.map(_.minBy(_._1)._1).toSet
      val (afterEx, exBatch) =
        afterHist.partition { case (id, _) => keepByDig(id) }
      exBatch.foreach { case (id, _) => out(id) = ("exact_batch", None) }
      val (ndHist, rem) = afterEx.partition { case (id, _) =>
        bands.getOrElse(id, Set.empty).exists(storedBands) }
      ndHist.foreach { case (id, _) => out(id) = ("neardup_history", None) }
      // batch-internal components over shared bands (union-find)
      val ids = rem.map(_._1)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for (a <- ids; b <- ids if a < b)
        if (bands.getOrElse(a, Set.empty)
            .exists(bands.getOrElse(b, Set.empty)))
          parent(find(a)) = find(b)
      val keepers = ids.groupBy(find).values.map { grp =>
        grp.maxBy(i => (rem.find(_._1 == i).get._2.length.toLong, -i))
      }.toSet
      val (ndKeep, ndBatch) = rem.partition { case (id, _) => keepers(id) }
      ndBatch.foreach { case (id, _) => out(id) = ("neardup_batch", None) }
      val (benchDocs, nonBench) = ndKeep.partition(_._1 % 100 == 0)
      benchDocs.foreach { case (id, _) => out(id) = ("benchmark", None) }
      val (contam, kept) = nonBench.partition { case (_, t) =>
        shingles3(t).exists(bench) }
      contam.foreach { case (id, _) => out(id) = ("contaminated", None) }
      for ((id, t) <- kept.sortBy(_._1)) {
        val n = tok(t).length.toLong
        out(id) = ("kept", Some((n, cursor / budget, cursor % budget)))
        cursor += n
      }
      storedDig ++= kept.map { case (_, t) => md5Hex(t) }
      storedBands ++= kept.flatMap { case (id, _) =>
        bands.getOrElse(id, Set.empty) }
    }
    (out.toMap, cursor)
  }

  private def collectBands(rows: Seq[(Long, String)]): Map[Long, Set[String]] =
    Dedup.lshBandTable(docsDf(rows), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  private def collectDecisions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      val st = r.getString(r.fieldIndex("status"))
      val pack = if (st == "kept")
        Some((r.getLong(r.fieldIndex("n_tok")),
          r.getLong(r.fieldIndex("seq_id")),
          r.getLong(r.fieldIndex("seq_offset"))))
      else None
      id -> (st, pack)
    }.toMap

  test("two-wave first-wins decisions == driver reference; every reason exercised; first-wins beats keep-longest across waves") {
    val docs = docsDf(fixture)
    val bands = collectBands(fixture)
    val bench = fixture.filter(_._1 % 100 == 0)
      .flatMap { case (_, t) => shingles3(t) }.toSet
    val dir = java.nio.file.Files.createTempDirectory("cur_flow").toString
    val benchDf = CurationFlow.benchShingles(docs)
    val w1docs = fixture.filter(_._1 % 2 == 0)
    val w2docs = fixture.filter(_._1 % 2 == 1)
    val r1 = CurationFlow.ingest(dir, docs.filter(col("doc_id") % 2 === 0),
      benchDf, cursor = 0L)
    val r2 = CurationFlow.ingest(dir, docs.filter(col("doc_id") % 2 === 1),
      benchDf, cursor = r1.cursor)
    val got = collectDecisions(r1.decisions) ++ collectDecisions(r2.decisions)
    val (want, wantCursor) = reference(Seq(w1docs, w2docs), bands, bench)
    assert(got === want,
      s"diff: ${got.toSeq.diff(want.toSeq)} vs ${want.toSeq.diff(got.toSeq)}")
    assert(r2.cursor === wantCursor)
    // non-vacuity: the fixture exercises every decision reason
    assert(got.values.map(_._1).toSet === Set("shape", "repetition",
      "exact_history", "exact_batch", "neardup_history", "neardup_batch",
      "benchmark", "contaminated", "kept"))
    // the distinguishing first-wins property: wave 2's BLong2 is LONGER
    // than wave 1's stored keeper yet drops — keep-longest applies only
    // within a batch, arrival order wins across batches
    assert(got(5L)._1 === "neardup_history" && got(8L)._1 === "kept")
    // kept-only indexing: 7's text equals contaminated 10's, and it is
    // contaminated again rather than exact_history
    assert(got(7L)._1 === "contaminated")
  }

  test("job budget: the second wave's decide and commit, every job labeled") {
    val docs = docsDf(fixture)
    val dir = java.nio.file.Files.createTempDirectory("cur_budget").toString
    val benchDf = CurationFlow.benchShingles(docs)
    val r1 = CurationFlow.ingest(dir, docs.filter(col("doc_id") % 2 === 0),
      benchDf, cursor = 0L)
    val (staged, decideJobs) = jobs(CurationFlow.decide(dir,
      docs.filter(col("doc_id") % 2 === 1), benchDf, r1.cursor))
    val (_, commitJobs) = jobs(CurationFlow.commit(dir, staged.kept,
      keptBands = Some(staged.keptBands)))
    assertJobBudget(("CurationFlow.decide", decideJobs, 37),
      ("CurationFlow.commit", commitJobs, 5))
  }

  test("single-batch ingest kept rows == the batch pipeline's packed output (composition pin)") {
    val docs = docsDf(fixture)
    val dir = java.nio.file.Files.createTempDirectory("cur_one").toString
    val r = CurationFlow.ingest(dir, docs,
      CurationFlow.benchShingles(docs), cursor = 0L)
    val gotKept = r.decisions.filter(col("status") === "kept")
      .select("doc_id", "n_tok", "seq_id", "seq_offset")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).sortBy(_._1).toSeq
    // the batch pipeline stages, exactly as q_curation_pipeline composes
    // them (can't call the catalog key here — it reads from a table dir)
    val gate2 = CurationFlow.repetitionGate(CurationFlow.shapeGate(docs))
      .drop("tk")
    val exIds = gate2.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val ex = gate2.join(exIds, Seq("doc_id"), "left_semi")
    val keepIds = Dedup.dupClustersKeepLongest(ex, "doc_id", "text",
        col("n_chars")).filter(col("is_kept") === 1).select("doc_id")
    val surv = ex.join(keepIds, Seq("doc_id"), "left_semi")
    val hits = CurationFlow.contaminationHits(surv,
      CurationFlow.benchShingles(docs))
    val clean = surv.filter(col("doc_id") % 100 =!= 0)
      .join(hits, Seq("doc_id"), "left_anti")
    val want = Packing.packSequences(clean, "doc_id", col("n_tok"), 256L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).sortBy(_._1).toSeq
    assert(gotKept === want)
    assert(want.nonEmpty)
  }

  test("cursor continuity: a dup-free id-ordered 3-way split packs identically to one batch") {
    val clean = (0 until 30).map(i =>
      (i * 2 + 201L, passDoc(f"u$i%02d", 20 + i % 7))) // odd ids, no dups,
    // no bench members (no id % 100 == 0), no evalx shingles
    val docs = docsDf(clean)
    val benchDf = CurationFlow.benchShingles(docs) // empty set
    val one = CurationFlow.ingest(
      java.nio.file.Files.createTempDirectory("cur_a").toString,
      docs, benchDf, 0L)
    val dirB = java.nio.file.Files.createTempDirectory("cur_b").toString
    var cur = 0L
    val parts = clean.grouped(10).toSeq
    val multi = parts.map { p =>
      val r = CurationFlow.ingest(dirB, docsDf(p), benchDf, cur)
      cur = r.cursor
      r.decisions.filter(col("status") === "kept")
        .select("doc_id", "n_tok", "seq_id", "seq_offset")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSeq
    }.reduce(_ ++ _).sortBy(_._1)
    val oneKept = one.decisions.filter(col("status") === "kept")
      .select("doc_id", "n_tok", "seq_id", "seq_offset")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).sortBy(_._1).toSeq
    assert(multi === oneKept)
    assert(cur === one.cursor)
    assert(oneKept.size === 30) // truly dup-free: everything kept
  }

  test("bounded probe: high cap == exact; hot-band star pins the documented recall trade and reports overflow") {
    // family: one base + distinct one-word tails — all members share LSH
    // bands (the BShort/BLong construction), none are exact dups
    def fam(tail: String) = BShort + " " + tail
    // high cap ≡ exact on the full fixture (decisions identical)
    val docs = docsDf(fixture)
    val bench = CurationFlow.benchShingles(docs)
    val dirE = java.nio.file.Files.createTempDirectory("cur_ex").toString
    val dirB = java.nio.file.Files.createTempDirectory("cur_hi").toString
    val exact = CurationFlow.decide(dirE, docs, bench, 0L)
    val hiCap = CurationFlow.decide(dirB, docs, bench, 0L,
      maxBucket = 100000)
    assert(collectDecisions(hiCap.decisions)
      === collectDecisions(exact.decisions))
    assert(hiCap.overflow.count() > 0 === false)
    // the report's shape does not fork on the route: exact's empty
    // overflow carries the same columns as the bounded report
    assert(exact.overflow.columns.toSeq
      === Seq("band", "occupancy", "n_new", "emitted", "suppressed"))
    assert(exact.overflow.count() === 0L)

    // the star's history branch: wave 1 keeps one family member (id 50);
    // wave 2 brings three more with SMALLER ids under maxBucket = 2 —
    // the band representative is the arrival min (20), which drops
    // neardup_history via the bridge pair, while its star satellites
    // (22, 24) lose their only edge to the dropped rep and stay KEPT
    // (the exact probe drops all three; CurationFlow.decide's scaladoc
    // states this trade — here it is pinned)
    val w1 = Seq(50L -> fam("alpha9"))
    val w2 = Seq(20L -> fam("bravo8"), 22L -> fam("charl7"),
      24L -> fam("delta6"))
    def runTwoWave(maxBucket: Int) = {
      val d = java.nio.file.Files.createTempDirectory("cur_star").toString
      val b = CurationFlow.benchShingles(docsDf(w1 ++ w2))
      val r1 = CurationFlow.ingest(d, docsDf(w1), b, 0L,
        maxBucket = maxBucket)
      r1.decisions.count()
      val st2 = CurationFlow.decide(d, docsDf(w2), b, r1.cursor,
        maxBucket = maxBucket)
      (collectDecisions(st2.decisions).map { case (k, v) => k -> v._1 },
        st2.overflow)
    }
    val (starGot, starOv) = runTwoWave(2)
    assert(starGot === Map(20L -> "neardup_history", 22L -> "kept",
      24L -> "kept"))
    assert(starOv.count() > 0, "saturated band not reported")
    val (exactGot, _) = runTwoWave(Int.MaxValue)
    assert(exactGot === Map(20L -> "neardup_history",
      22L -> "neardup_history", 24L -> "neardup_history"))
  }

  test("empty batch is a no-op: cursor unchanged, zero decisions, index not poisoned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cur_empty").toString
    val docs = docsDf(fixture)
    val benchDf = CurationFlow.benchShingles(docs)
    val empty = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "text", "n_chars")
    val r0 = CurationFlow.ingest(dir, empty, benchDf, cursor = 17L)
    assert(r0.decisions.count() === 0L && r0.cursor === 17L)
    // the dir still ingests normally afterwards
    val r1 = CurationFlow.ingest(dir, docs.filter(col("doc_id") === 2),
      benchDf, cursor = 0L)
    assert(collectDecisions(r1.decisions)(2L)._1 === "kept")
  }
}
