package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The vector-corpus first-wins flow ([[VectorFlow]]) — the embedding
  * analog of CurationFlowSpec's battery: planted two-wave scenarios
  * with hand-computable verdicts, the cosine-verification gate, the
  * first-wins index contract (kept corpus only), the duplicate map,
  * cursor arithmetic, and replay idempotence.
  */
class VectorFlowSpec extends SparkTestBase {

  private val Dim = 16

  // a 2D rotation family in the (e1, e2) plane: angle-addressable unit
  // vectors, so pairwise cosines are EXACTLY cos(Δangle) — verdicts are
  // hand-computable (cos 0.08 ≈ .9968 ≥ .99; cos 0.16 ≈ .9872 < .99)
  private def rot(angle: Double): Seq[Float] = {
    val v = Array.fill(Dim)(0f)
    v(0) = math.cos(angle).toFloat
    v(1) = math.sin(angle).toFloat
    v.toSeq
  }

  private def df(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def statuses(d: org.apache.spark.sql.DataFrame) =
    d.select("vec_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def matches(d: org.apache.spark.sql.DataFrame) =
    d.filter(col("matched_id").isNotNull)
      .select("vec_id", "matched_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  test("two-wave first-wins: every status reachable, verdicts exact, cursor = cumulative kept") {
    import spark.implicits._
    val p = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = tmp("vflow")
    // wave 1: 10 kept; 20 = rot(.08) near-dups 10 (neardup_batch);
    // 30 orthogonal kept; 40 zero vector invalid; 50 null invalid;
    // 60 wrong-dim invalid; 70 exact copy of 30 (exact_batch)
    val e3 = { val v = Array.fill(Dim)(0f); v(3) = 1f; v.toSeq }
    val w1rows = df(Seq(10L -> rot(0), 20L -> rot(0.08), 30L -> e3,
        70L -> e3, 40L -> Array.fill(Dim)(0f).toSeq))
      .unionByName(Seq((50L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")))
      .unionByName(df(Seq(60L -> Seq(1f, 0f))))
    val w1 = VectorFlow.ingest(dir, w1rows, cursor = 0L, p)
    val st1 = statuses(w1.decisions)
    assert(st1 === Map(10L -> "kept", 20L -> "neardup_batch",
      30L -> "kept", 70L -> "exact_batch", 40L -> "invalid",
      50L -> "invalid", 60L -> "invalid"))
    assert(matches(w1.decisions) === Map(20L -> 10L, 70L -> 30L))
    assert(w1.cursor === 2L)

    // wave 2: 110 exact copy of KEPT 10 (exact_history); 115 = rot(.05)
    // near KEPT 10 (neardup_history); 130 = rot(.16): within .99-cosine
    // of DROPPED 20 only — the index holds kept docs only, and
    // cos(.16 - 0) < .99 fails verification against 10, so it stays
    // KEPT; 120/121 identical NEW vectors (kept + exact_batch)
    val e5 = { val v = Array.fill(Dim)(0f); v(5) = 1f; v.toSeq }
    val w2 = VectorFlow.ingest(dir, df(Seq(110L -> rot(0),
      115L -> rot(0.05), 130L -> rot(0.16), 120L -> e5, 121L -> e5)),
      cursor = w1.cursor, p)
    val st2 = statuses(w2.decisions)
    assert(st2 === Map(110L -> "exact_history", 115L -> "neardup_history",
      130L -> "kept", 120L -> "kept", 121L -> "exact_batch"))
    assert(matches(w2.decisions) === Map(110L -> 10L, 115L -> 10L,
      121L -> 120L))
    assert(w2.cursor === w1.cursor + 2L)
    // every vector decided exactly once per wave
    assert(w1.decisions.count() === 7L && w2.decisions.count() === 5L)
  }

  test("cosine verification gates the Hamming candidates: same data, higher threshold, no drop") {
    val rows = df(Seq(1L -> rot(0), 2L -> rot(0.08)))
    // cos(.08) ≈ .9968: a candidate pair (tiny angle ⇒ Hamming≤1 sigs
    // under the default seed) that PASSES at .99 and FAILS at .9999 —
    // the signature collision alone must never be the drop verdict
    val loose = VectorFlow.ingest(tmp("vth1"), rows, 0L,
      VectorFlow.Params(minCos = 0.99, dim = Dim))
    assert(statuses(loose.decisions)(2L) === "neardup_batch")
    val strict = VectorFlow.ingest(tmp("vth2"), rows, 0L,
      VectorFlow.Params(minCos = 0.9999, dim = Dim))
    assert(statuses(strict.decisions) === Map(1L -> "kept", 2L -> "kept"))
  }

  test("decide is commit-independent: staged frames identical after the index mutation") {
    val p = VectorFlow.Params(dim = Dim)
    val dir = tmp("vstage")
    VectorFlow.ingest(dir, df(Seq(1L -> rot(0))), 0L, p)
    val batch = df(Seq(2L -> rot(0.03), 3L -> rot(1.2)))
    val staged = VectorFlow.decide(dir, batch, cursor = 1L, p)
    val before = statuses(staged.decisions)
    assert(before === Map(2L -> "neardup_history", 3L -> "kept"))
    VectorFlow.commit(dir, staged.kept, p)
    // checkpoint-pinned: evaluating AFTER commit must not flip verdicts
    assert(statuses(staged.decisions) === before)
    assert(staged.cursor === 2L)
    // and the committed batch is now history for the next arrival
    // (rot(1.23): cos(.03) ≈ .99955 to the kept 3 — near, not identical)
    val next = VectorFlow.decide(dir, df(Seq(4L -> rot(1.23))), 2L, p)
    assert(statuses(next.decisions)(4L) === "neardup_history")
    assert(matches(next.decisions)(4L) === 3L)
  }

  test("bounded route: a spam storm stars onto the representative, decisions unchanged, overflow reported") {
    import spark.implicits._
    val p = VectorFlow.Params(dim = Dim)
    val cap = p.copy(maxBucket = 4)
    // 40 identical vectors across two batches — the saturated-bucket
    // adversarial shape; first-wins must keep exactly the min id
    val b1 = df((20L until 40L).map(i => i -> rot(0)))
    val b2 = df((0L until 20L).map(i => i -> rot(0)))
    def drive(dir: String, pp: VectorFlow.Params) = {
      val r1 = VectorFlow.ingest(dir, b1, 0L, pp)
      val r2 = VectorFlow.ingest(dir, b2, r1.cursor, pp)
      (statuses(r1.decisions) ++ statuses(r2.decisions), r2.cursor)
    }
    val (exact, cExact) = drive(tmp("vspam_e"), p)
    val (bounded, cBound) = drive(tmp("vspam_b"), cap)
    // identical verdicts: every copy of the storm resolves to one keeper
    // per wave-order (20 kept in wave 1; wave 2's 0..19 are all dups of
    // history or each other... exact duplicates collapse via the DIGEST
    // stages, so the star route and exact route must agree bit for bit)
    assert(bounded === exact)
    assert(cBound === cExact)
    // the star route's overflow report fires on the saturated bucket
    val dirO = tmp("vspam_o")
    val near = df((0L until 30L).map(i => i -> rot(0.0004 * i)))
    val s = VectorFlow.decide(dirO, near, 0L, cap)
    assert(s.overflow.count() > 0, "saturated bucket must be reported")
    // near-identical (not byte-identical) storm: one keeper, rest dropped
    val stN = statuses(s.decisions)
    assert(stN(0L) === "kept" &&
      (1L until 30L).forall(i => stN(i) === "neardup_batch"),
      s"storm must collapse to the min id: $stN")
  }

  test("empty and all-invalid batches are safe no-ops; empty store fetch") {
    import spark.implicits._
    val p = VectorFlow.Params(dim = Dim)
    val dir = tmp("vempty")
    val empty = df(Seq.empty[(Long, Seq[Float])])
    val r = VectorFlow.ingest(dir, empty, 7L, p)
    assert(r.decisions.count() === 0L && r.cursor === 7L)
    val allBad = Seq((1L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val r2 = VectorFlow.ingest(dir, allBad, 7L, p)
    assert(statuses(r2.decisions) === Map(1L -> "invalid") && r2.cursor === 7L)
    // a later real batch against the (still data-less) stores works
    val r3 = VectorFlow.ingest(dir, df(Seq(2L -> rot(0))), 7L, p)
    assert(statuses(r3.decisions) === Map(2L -> "kept") && r3.cursor === 8L)
  }

  test("frozen params sidecar: mismatched bits/seed/dim refused loudly; stamped dim authoritative; empty first batch stamps nothing") {
    import spark.implicits._
    val p = VectorFlow.Params(dim = Dim)
    val dir = tmp("vfreeze")
    // an EMPTY first batch must not freeze dim=1
    VectorFlow.ingest(dir, df(Seq.empty), 0L, p.copy(dim = -1))
    assert(!new java.io.File(s"$dir/_graft_vecflow.json").exists,
      "an evidence-less batch must not stamp the params sidecar")
    VectorFlow.ingest(dir, df(Seq(1L -> rot(0))), 0L, p)
    assert(new java.io.File(s"$dir/_graft_vecflow.json").exists)
    // a caller with different bits/seed would probe garbage band strings
    // — silent candidate loss; it must refuse instead
    for (bad <- Seq(p.copy(bits = 16), p.copy(seed = 7L),
        p.copy(dim = 8), p.copy(families = 2))) {
      val e = intercept[IllegalArgumentException] {
        VectorFlow.ingest(dir, df(Seq(9L -> rot(1))), 1L, bad) }
      assert(e.getMessage.contains("frozen"), e.getMessage)
    }
    // a dim-DELEGATING caller adopts the stamped width: a batch whose
    // own rows infer a different dim gets them invalidated by the gate,
    // never banded in a different space
    val r = VectorFlow.ingest(dir, df(Seq(5L -> Seq(1f, 0f))), 1L,
      p.copy(dim = -1))
    assert(statuses(r.decisions) === Map(5L -> "invalid"))
    // query-time dials stay unfrozen
    VectorFlow.ingest(dir, df(Seq(6L -> rot(2))), 1L,
      p.copy(minCos = 0.9, maxBucket = 64))
  }

  test("autoParams: the sizeBands rule drives the flow's frozen params end to end") {
    import spark.implicits._
    // clustered sample (20 clusters × 10 near-twins) — the occupancy
    // floor sizeBands must detect; corpus 200k at the .99 threshold
    // (θ = acos(.99) ≈ 0.1415 rad)
    val rnd = new scala.util.Random(5)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nn).toFloat)
    }
    val sample = (0 until 20).flatMap { c =>
      val base = unit()
      (0 until 10).map(j => (c * 10L + j,
        base.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat).toSeq))
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val p = VectorFlow.autoParams(sample, corpusSize = 200000L)
    assert(p.dim === 16, s"dim must come from the sample: $p")
    // occupancy forces bits=12 (200k/2^12 ≈ 49 ≤ 64; 2^11 is 98);
    // per-family recall at 0.1415 rad ≈ 0.90 → F=2 restores ≥ 0.95
    assert((p.bits, p.families) === (12, 2), s"got $p")
    // and the flow runs under the auto params, freezing them
    val dir = tmp("vauto")
    val r = VectorFlow.ingest(dir, df(Seq(1L -> rot(0), 2L -> rot(0.05))),
      0L, p)
    assert(statuses(r.decisions) === Map(1L -> "kept", 2L -> "neardup_batch"))
    val e = intercept[IllegalArgumentException] {
      VectorFlow.ingest(dir, df(Seq(3L -> rot(1))), 1L, p.copy(bits = 8)) }
    assert(e.getMessage.contains("frozen"))
  }

  test("keeper policies: min-id (first-wins) vs farthest-from-centroid (diversity) on one planted component") {
    import spark.implicits._
    // one 3-member component: angles 0, 0.02, 0.12 (all pairwise cosines
    // ≥ .99); the component mean sits at ~0.047 rad, so the DIVERSITY
    // keeper is the 0.12-rad member (lowest cosine to the mean) while
    // first-wins keeps the min id
    val rows = Seq(1L -> rot(0), 2L -> rot(0.02), 3L -> rot(0.12))
    val minId = VectorFlow.ingest(tmp("vkeep1"), df(rows), 0L,
      VectorFlow.Params(dim = Dim))
    assert(statuses(minId.decisions) === Map(1L -> "kept",
      2L -> "neardup_batch", 3L -> "neardup_batch"))
    assert(matches(minId.decisions) === Map(2L -> 1L, 3L -> 1L))
    val diverse = VectorFlow.ingest(tmp("vkeep2"), df(rows), 0L,
      VectorFlow.Params(dim = Dim,
        keeper = Similarity.KeepFarFromCentroid))
    assert(statuses(diverse.decisions) === Map(1L -> "neardup_batch",
      2L -> "neardup_batch", 3L -> "kept"))
    assert(matches(diverse.decisions) === Map(1L -> 3L, 2L -> 3L))
    assert(minId.cursor === 1L && diverse.cursor === 1L)
  }

  test("broadcast guard: an over-bound batch takes the shuffle-join route with identical decisions") {
    // maxBatchBroadcastRows = 1 forces EVERY batch past the dial, so the
    // three verification joins run without the batch-embedding broadcast
    // — decisions and matches must be bit-identical to the default route
    val p = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val guarded = p.copy(maxBatchBroadcastRows = 1L)
    def drive(dir: String, pp: VectorFlow.Params) = {
      val w1 = VectorFlow.ingest(dir, df(Seq(10L -> rot(0), 20L -> rot(0.08),
        30L -> rot(1.5))), 0L, pp)
      val w2 = VectorFlow.ingest(dir, df(Seq(40L -> rot(0.05),
        50L -> rot(1.52), 60L -> rot(3.0))), w1.cursor, pp)
      (statuses(w1.decisions) ++ statuses(w2.decisions),
        matches(w1.decisions) ++ matches(w2.decisions), w2.cursor)
    }
    val (stB, mB, cB) = drive(tmp("vguard_b"), p)
    val (stS, mS, cS) = drive(tmp("vguard_s"), guarded)
    assert(stS === stB && mS === mB && cS === cB)
    // sanity: the scenario exercises both history and batch verification
    assert(stB(40L) === "neardup_history" && stB(50L) === "neardup_history")
  }

  test("digest format is versioned: a pre-binary-digest store is refused loudly") {
    val p = VectorFlow.Params(dim = Dim)
    val dir = tmp("vdigv")
    // fake an r15-era sidecar: same frozen params, no digestv field —
    // its digest index keys were md5(cast-to-string), a different space
    new java.io.File(dir).mkdirs()
    val w = new java.io.PrintWriter(s"$dir/_graft_vecflow.json")
    try w.write(s"""{"bits":8,"seed":42,"dim":$Dim,"families":1,"buckets":16}""")
    finally w.close()
    val e = intercept[IllegalArgumentException] {
      VectorFlow.ingest(dir, df(Seq(1L -> rot(0))), 0L, p)
    }
    assert(e.getMessage.contains("digest format"), e.getMessage)
    // and a fresh store stamps the current version
    val dir2 = tmp("vdigv2")
    VectorFlow.ingest(dir2, df(Seq(1L -> rot(0))), 0L, p)
    val body = scala.io.Source.fromFile(s"$dir2/_graft_vecflow.json").mkString
    assert(body.contains(s""""digestv":${VectorFlow.DigestVersion}"""), body)
  }

  private def dfP(rows: Seq[(Long, Seq[Float], Long)]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "prio")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("late pass: prio-keyed election — attach, drop, evict (all three stores), redundant redelivery") {
    import spark.implicits._
    val p = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = tmp("vlate")
    // stored corpus at keep-order (prio) 2
    VectorFlow.ingest(dir, df(Seq(100L -> rot(0), 110L -> rot(1.5),
      120L -> rot(0.7))), 0L, p, prio = 2L)
    // late feed: 50 (prio 1, rot .05) beats stored 100 → attached + 100
    // EVICTED (semdup_late, verified cosine); 200 (prio 3) loses to
    // stored 110 → semdup_late; 60 (prio 1) exact copy of 120 →
    // attached + 120 evicted (embdup_late); 300 clean → attached;
    // 500/501 in-batch exact copies → lower prio 501 keeps; 400
    // wrong-dim → invalid
    val cor = VectorFlow.lateIngest(dir, dfP(Seq(
      (50L, rot(0.05), 1L), (200L, rot(1.52), 3L), (60L, rot(0.7), 1L),
      (300L, rot(3.0), 1L), (500L, rot(2.2), 5L), (501L, rot(2.2), 4L)))
      .unionByName(df(Seq(400L -> Seq(1f, 0f))).withColumn("prio", lit(1L))),
      p)
    assert(statuses(cor) === Map(50L -> "attached", 60L -> "attached",
      300L -> "attached", 501L -> "attached", 200L -> "semdup_late",
      500L -> "embdup_late", 400L -> "invalid",
      100L -> "semdup_late", 120L -> "embdup_late"))
    assert(matches(cor) === Map(200L -> 110L, 500L -> 501L,
      100L -> 50L, 120L -> 60L))
    // the evicted rows are gone from ALL three stores; attachers are in
    val stored = VectorFlow.KeptVectors.fetch(s"$dir/vectors",
      Seq(100L, 110L, 120L, 50L, 60L, 300L, 500L, 501L, 200L).toDF("vec_id"),
      p.buckets).select("vec_id").as[Long].collect().toSet
    assert(stored === Set(110L, 50L, 60L, 300L, 501L))
    for (idx <- Seq("digest", "bands")) {
      val ids = spark.read.schema(Dedup.BandIndex.schema)
        .parquet(s"$dir/$idx").select("doc_id").as[Long].collect().toSet
      assert(!ids.contains(100L) && !ids.contains(120L),
        s"evicted ids must leave the $idx index: $ids")
      assert(ids.contains(50L) && ids.contains(60L), s"$idx missing attachers")
    }
    // the corrected corpus serves the next decide: rot(0) no longer
    // exact-matches evicted 100 (digest removed) — it near-dups the new
    // keeper 50 through the verified fetch
    val next = VectorFlow.decide(dir, df(Seq(600L -> rot(0))), 0L, p)
    assert(statuses(next.decisions) === Map(600L -> "neardup_history"))
    assert(matches(next.decisions) === Map(600L -> 50L))
    // cross-batch redelivery of an attached id+content: redundant, no
    // duplicate store rows
    val cor2 = VectorFlow.lateIngest(dir, dfP(Seq((300L, rot(3.0), 7L))), p)
    assert(statuses(cor2) === Map(300L -> "redundant_late"))
    val n300 = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === 300L).count()
    assert(n300 === 1L, s"redelivery must not duplicate the stored row: $n300")
  }

  test("late pass on a clean feed: everything attaches, nothing evicts") {
    val p = VectorFlow.Params(dim = Dim)
    val dir = tmp("vlate_clean")
    VectorFlow.ingest(dir, df(Seq(1L -> rot(0))), 0L, p, prio = 0L)
    val cor = VectorFlow.lateIngest(dir,
      dfP(Seq((10L, rot(1.0), 1L), (11L, rot(2.0), 1L))), p)
    assert(statuses(cor) === Map(10L -> "attached", 11L -> "attached"))
    val next = VectorFlow.decide(dir, df(Seq(20L -> rot(1.01))), 0L, p)
    assert(matches(next.decisions) === Map(20L -> 10L))
  }

  test("job budget: the second wave's commit and a late pass that attaches and evicts, every job labeled") {
    val p = VectorFlow.Params(minCos = 0.99, dim = Dim)
    val dir = tmp("vbudget")
    VectorFlow.ingest(dir, df(Seq(100L -> rot(0), 110L -> rot(1.5),
      120L -> rot(0.7))), 0L, p, prio = 2L)
    val staged = VectorFlow.decide(dir, df(Seq(130L -> rot(2.4),
      131L -> rot(0.02), 132L -> rot(4.0))), 0L, p)
    val (_, commitJobs) = jobs(VectorFlow.commit(dir, staged.kept, p,
      Some(staged.keptBands), prio = 3L))
    // 50 evicts 100, 60 evicts 120, 200 loses to 110, 300 attaches clean
    val (cor, lateJobs) = jobs(VectorFlow.lateIngest(dir, dfP(Seq(
      (50L, rot(0.05), 1L), (200L, rot(1.52), 4L), (60L, rot(0.7), 1L),
      (300L, rot(3.0), 1L))), p))
    assert(statuses(cor) === Map(50L -> "attached", 60L -> "attached",
      300L -> "attached", 200L -> "semdup_late", 100L -> "semdup_late",
      120L -> "embdup_late"))
    assertJobBudget(("VectorFlow.commit", commitJobs, 7),
      ("VectorFlow.lateIngest", lateJobs, 78))
  }

  test("vector store: bucket count frozen; fetch prunes to touched buckets") {
    val p = VectorFlow.Params(dim = Dim, buckets = 8)
    val dir = tmp("vstore")
    // 0.2-rad spacing, no 2π wrap: cos(.2) ≈ .980 < .99 — all 16 kept
    VectorFlow.ingest(dir, df((0L until 16L).map(i => i -> rot(0.2 * i))),
      0L, p)
    // mismatched bucket count refused loudly (frozen at creation)
    val e = intercept[IllegalArgumentException] {
      VectorFlow.ingest(dir, df(Seq(100L -> rot(7))), 16L,
        p.copy(buckets = 16))
    }
    assert(e.getMessage.contains("frozen"))
    // the fetch reads only the probed ids' buckets
    import spark.implicits._
    val ids = Seq(3L, 11L).toDF("vec_id")
    val fetched = VectorFlow.KeptVectors.fetch(s"$dir/vectors", ids, 8)
    assert(fetched.select("vec_id").as[Long].collect().toSet === Set(3L, 11L))
    val want = ids.select(pmod(xxhash64(col("vec_id")), lit(8L))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet.size
    // the scan lives under the AQE wrapper (a leaf to collect())
    val plan = fetched.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "embedding") =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(scanned === want,
      s"fetch scanned $scanned partition dirs for $want touched buckets")
  }
}
