package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkTestBase {

  /** Batched exact ground truth: identical scoring/ordering contract to
    * cosineTopK (4dp rounding, vec_id tie-break), all probes in one job.
    */
  def bruteTopK(corpus: DataFrame, probeIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.DotProductF.register(corpus.sparkSession)
    val probes = corpus.filter(col("vec_id").isInCollection(probeIds))
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("graft_dot_f(embedding, probe_emb)"), 4).as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  private lazy val emb = Tables.embeddings(spark, Sf0001).cache()
  private lazy val model = IvfIndex.build(emb, nlist = 16, iters = 2)

  test("build: every vector assigned to exactly one of nlist cells") {
    assert(model.centroids.count() === 16)
    assert(model.assignments.count() === emb.count())
    assert(model.assignments.select(countDistinct("vec_id")).head().getLong(0) === emb.count())
    val cells = model.assignments.select("cell").distinct().count()
    assert(cells > 1 && cells <= 16)
    // centroids keep the embedding dimension
    assert(model.centroids.select(size(col("centroid"))).distinct().head().getInt(0) === 64)
  }

  test("nprobe = nlist reproduces brute force exactly (IVF-Flat exactness)") {
    val brute = Similarity.cosineTopK(emb, 0L, 10).collect().map(_.toSeq)
    val ivfAll = IvfIndex.searchTopK(model, 0L, 10, nprobe = 16).collect().map(_.toSeq)
    assert(ivfAll.toSeq === brute.toSeq)
  }

  test("nprobe < nlist: valid ordered top-k with reasonable recall") {
    val brute = Similarity.cosineTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val got = IvfIndex.searchTopK(model, 0L, 10, nprobe = 8).collect()
    assert(got.length === 10)
    val scores = got.map(_.getDouble(1))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val recall = got.map(_.getLong(0)).count(brute.contains) / 10.0
    assert(recall >= 0.3, s"recall@10 was $recall") // random vectors: weak cells
  }

  test("searchTopKBatch: per-probe rows equal the single-probe searchTopK") {
    val probeIds = Seq(0L, 7L, 123L)
    for (nprobe <- Seq(4, 16)) {
      val batch = IvfIndex.searchTopKBatch(model, probeIds, k = 10, nprobe)
        .collect().groupBy(_.getLong(0))
      assert(batch.keySet === probeIds.toSet)
      probeIds.foreach { p =>
        val single = IvfIndex.searchTopK(model, p, 10, nprobe)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val got = batch(p).sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
        assert(got === single, s"probe $p nprobe $nprobe")
      }
    }
  }

  test("checkpointed model is an optimizer boundary: all rows reachable, full probe exact") {
    // Regression pin: localCheckpoint() preserves origin-plan constraints,
    // and a packed-argmax alias captured against ROUND-r centroids, re-
    // inferred as a predicate over a frame assigned with FINAL centroids,
    // silently dropped every row whose cell moved in the last Lloyd round
    // (~12% of a random 2000-vector corpus). IvfIndex.ckpt strips origin
    // constraints at every checkpoint; this pins both symptoms.
    // the exact triggering config: cached sf0.1 parquet corpus, 2 rounds
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.1").cache()
    val m = IvfIndex.build(corpus, nlist = 16, iters = 2)
    val reachable = m.assignments
      .join(broadcast(m.centroids.select("cell")), Seq("cell")).count()
    assert(reachable === 2000L, "every assignment row must survive the cell join")
    val ids = (0L until 32L).toSeq
    val truth = bruteTopK(m.assignments, ids, 10)
    val batch = IvfIndex.searchTopKBatch(m, ids, 10, nprobe = 16)
    val hits = batch.join(truth, Seq("probe_id", "vec_id")).count()
    assert(hits === 32L * 10, s"full probe must reproduce brute force, matched $hits/320")
  }

  test("save/load: cell-partitioned inverted file; search statically prunes unprobed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfIndex.save(model, dir)
    val loaded = IvfIndex.load(spark, dir)
    // round-trip: same centroids, same assignment set
    assert(loaded.centroids.orderBy("cell").collect().map(_.toSeq).toSeq ===
      model.centroids.orderBy("cell").collect().map(_.toSeq).toSeq)
    val cols = model.assignments.columns.sorted.toIndexedSeq
    assert(loaded.assignments.select(cols.map(col): _*).orderBy("vec_id")
      .collect().map(_.toSeq).toSeq ===
      model.assignments.select(cols.map(col): _*).orderBy("vec_id")
        .collect().map(_.toSeq).toSeq)
    // search served from disk == search served from memory
    for (nprobe <- Seq(4, 16)) {
      assert(IvfIndex.searchTopK(loaded, 0L, 10, nprobe).collect().map(_.toSeq).toSeq ===
        IvfIndex.searchTopK(model, 0L, 10, nprobe).collect().map(_.toSeq).toSeq)
    }
    // the scale property save() exists for: the probed-cell list reaches
    // the scan as a STATIC PartitionFilters `cell IN (...)` predicate —
    // planning-time directory pruning, strictly stronger than runtime DPP
    // (which planned but did not shrink physical reads on this shape; see
    // IvfIndex.searchTopKBatch scaladoc). Unprobed cells are never listed,
    // let alone read.
    val pruned = IvfIndex.searchTopK(loaded, 0L, 10, nprobe = 2)
      .queryExecution.executedPlan match {
        // the scan lives under the AQE wrapper (a leaf to collect())
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val scans = pruned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, s"expected a file scan in:\n$pruned")
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("cell") && f.toString.contains("IN")),
      s"probed-cell list must be a static partition filter, got " +
        s"${scan.partitionFilters}:\n$pruned")
    // and the pruning is real: exactly nprobe of the nlist=16 cell
    // directories survive partition selection
    assert(scan.selectedPartitions.partitionCount === 2,
      s"nprobe=2 must scan 2 cell directories, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
  }

  test("filtered search at full probe reproduces brute-force filtered exactly") {
    val pred = col("label").between(2, 5)
    val ivf = IvfIndex.searchTopKFiltered(model, probeId = 0L, k = 10,
        nprobe = 16, pred = pred)
      .collect().map(_.toSeq).toSeq
    val brute = Similarity.cosineTopKFiltered(emb, probeId = 0L, k = 10,
        pred = pred)
      .collect().map(_.toSeq).toSeq
    assert(ivf === brute)
    // every hit satisfies the predicate (joined back to the corpus)
    val hitIds = ivf.map(_.head.asInstanceOf[Long])
    val labels = emb.filter(col("vec_id").isInCollection(hitIds))
      .select("label").collect().map(_.getInt(0))
    assert(labels.forall(l => l >= 2 && l <= 5), s"unfiltered hit: $labels")
  }

  test("saveQuantized/load: quantized inverted file — smaller bytes, membership intact, append stays quantized, recall held") {
    import org.apache.hadoop.fs.Path
    def bytes(p: String): Long = {
      val hp = new Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }
    val params = Quantize.fitSq8(emb)
    val dirF = java.nio.file.Files.createTempDirectory("ivf_f32").toString
    val dirQ = java.nio.file.Files.createTempDirectory("ivf_sq8").toString
    // build on half, append the other half — the full maintenance cycle
    val half = IvfIndex.build(emb.filter(col("vec_id") % 2 === 0),
      nlist = 16, iters = 1)
    IvfIndex.save(half, dirF)
    IvfIndex.saveQuantized(half, dirQ, params)
    IvfIndex.append(spark, dirF, emb.filter(col("vec_id") % 2 =!= 0))
    IvfIndex.append(spark, dirQ, emb.filter(col("vec_id") % 2 =!= 0))
    // the appended rows were encoded under the sidecar params: the
    // quantized inverted file holds codes only, and is materially smaller
    val qSchema = spark.read.parquet(s"$dirQ/assignments").schema
    assert(qSchema.fieldNames.contains("codes") &&
      !qSchema.fieldNames.contains("embedding"),
      s"quantized index must store codes, got ${qSchema.simpleString}")
    val ratio = bytes(s"$dirF/assignments").toDouble /
      bytes(s"$dirQ/assignments")
    assert(ratio >= 2.0, s"quantized index only ${ratio}x smaller")
    // load decodes transparently: same membership per cell, and full-probe
    // search over the reconstructed corpus keeps near-exact recall
    val f = IvfIndex.load(spark, dirF)
    val q = IvfIndex.load(spark, dirQ)
    assert(q.assignments.columns.contains("embedding"))
    val fCells = f.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    val qCells = q.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    assert(fCells === qCells, "quantization must not move rows across cells")
    val exact = IvfIndex.searchTopK(f, 0L, 10, nprobe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val quant = IvfIndex.searchTopK(q, 0L, 10, nprobe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.7, s"full-probe recall on quantized index was $recall")
  }

  test("saveQuantizedPq/load: PQ-coded inverted file — deepest compression, membership intact, append stays coded") {
    import org.apache.hadoop.fs.Path
    def bytes(p: String): Long = {
      val hp = new Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }
    val pq = Pq.fit(emb, m = 8, iters = 2)
    val dirF = java.nio.file.Files.createTempDirectory("ivf_f32b").toString
    val dirP = java.nio.file.Files.createTempDirectory("ivf_pq").toString
    val half = IvfIndex.build(emb.filter(col("vec_id") % 2 === 0),
      nlist = 16, iters = 1)
    IvfIndex.save(half, dirF)
    IvfIndex.saveQuantizedPq(half, dirP, pq)
    IvfIndex.append(spark, dirF, emb.filter(col("vec_id") % 2 =!= 0))
    IvfIndex.append(spark, dirP, emb.filter(col("vec_id") % 2 =!= 0))
    val pSchema = spark.read.parquet(s"$dirP/assignments").schema
    assert(pSchema.fieldNames.contains("pq_codes") &&
      !pSchema.fieldNames.contains("embedding"),
      s"PQ index must store codes, got ${pSchema.simpleString}")
    val ratio = bytes(s"$dirF/assignments").toDouble /
      bytes(s"$dirP/assignments")
    assert(ratio >= 3.0, s"PQ index only ${ratio}x smaller")
    val f = IvfIndex.load(spark, dirF)
    val p = IvfIndex.load(spark, dirP)
    // membership is quantization-independent
    assert(f.assignments.select("vec_id", "cell").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq ===
      p.assignments.select("vec_id", "cell").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq)
    // full-probe search over the reconstructed corpus: PQ recall (lossier
    // than SQ8 by design; the ladder is measured in QuantBench)
    val exact = IvfIndex.searchTopK(f, 0L, 10, nprobe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val coded = IvfIndex.searchTopK(p, 0L, 10, nprobe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(coded.contains).toDouble / exact.size
    assert(recall >= 0.5, s"full-probe recall on PQ index was $recall")
  }

  test("IVFPQ ADC serving == decode-then-dot serving on the same index") {
    val pq = Pq.fit(emb, m = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_adc").toString
    IvfIndex.saveQuantizedPq(model, dir, pq)
    val probeVecs = Seq(0L, 1L, 2L).map { pid =>
      pid -> emb.filter(col("vec_id") === pid)
        .select("embedding").head().getSeq[Float](0).toArray
    }
    val adc = IvfIndex.searchTopKBatchAdc(spark, dir, probeVecs, k = 5,
        nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // reference path: load (codegen decode) + the standard batch search
    // with RAW probe vectors (both paths are then asymmetric — the stored
    // side reconstructed, the probe side full precision)
    val rawProbes = emb.filter(col("vec_id").isInCollection(Seq(0L, 1L, 2L)))
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val decoded = IvfIndex.searchTopKBatch(IvfIndex.load(spark, dir),
        rawProbes, k = 5, nprobe = 16, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(adc.length === decoded.length)
    // same neighbors per probe; scores equal up to float-sum regrouping
    assert(adc.map(t => (t._1, t._2)).toSet === decoded.map(t => (t._1, t._2)).toSet,
      s"ADC neighbors diverge:\n${adc.mkString("\n")}\nvs\n${decoded.mkString("\n")}")
    val dScores = decoded.map(t => (t._1, t._2) -> t._3).toMap
    adc.foreach { case (p, v, s) =>
      assert(math.abs(s - dScores((p, v))) <= 2e-4, s"score gap at ($p,$v)")
    }
    // partial probing still prunes the cell directories at planning time
    val pruned = IvfIndex.searchTopKBatchAdc(spark, dir, probeVecs.take(1),
        k = 5, nprobe = 2)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val scans = pruned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount === 2,
      s"nprobe=2 must scan 2 cell directories:\n$pruned")
  }

  test("ADC + exact re-rank: full-width candidates reproduce brute force; recall is monotone in cand") {
    val pq = Pq.fit(emb, m = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rerank").toString
    IvfIndex.saveQuantizedPq(model, dir, pq)
    val probeIds = Seq(0L, 7L, 123L)
    val probeVecs = probeIds.map { pid =>
      pid -> emb.filter(col("vec_id") === pid)
        .select("embedding").head().getSeq[Float](0).toArray
    }
    val n = emb.count().toInt
    // cand = corpus + full probing == brute force bit-for-bit (the exact
    // re-rank sees every row, scored by the same codegen dot + round)
    val full = IvfIndex.searchTopKBatchAdcRerank(spark, dir, probeVecs,
        k = 10, nprobe = 16, cand = n, corpus = emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    probeIds.foreach { pid =>
      val brute = Similarity.cosineTopK(emb, pid, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full(pid) === brute, s"probe $pid: full-cand re-rank != brute force")
    }
    // recall@10 never decreases as cand grows (a true neighbor in the
    // candidate set always survives an exact re-rank), and a modest
    // cand already beats plain ADC top-k on this fixture
    def recallAt(cand: Int): Double = {
      val got = IvfIndex.searchTopKBatchAdcRerank(spark, dir, probeVecs,
          k = 10, nprobe = 16, cand = cand, corpus = emb)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      probeIds.map { pid =>
        val exact = Similarity.cosineTopK(emb, pid, 10)
          .collect().map(_.getLong(0)).toSet
        exact.count(got(pid).contains).toDouble / exact.size
      }.sum / probeIds.size
    }
    val adcOnly = {
      val got = IvfIndex.searchTopKBatchAdc(spark, dir, probeVecs, k = 10,
          nprobe = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      probeIds.map { pid =>
        val exact = Similarity.cosineTopK(emb, pid, 10)
          .collect().map(_.getLong(0)).toSet
        exact.count(got(pid).contains).toDouble / exact.size
      }.sum / probeIds.size
    }
    val r50 = recallAt(50)
    val r200 = recallAt(200)
    assert(r50 >= adcOnly,
      s"re-rank at cand=50 must not lose to plain ADC: $r50 vs $adcOnly")
    assert(r200 >= r50, s"recall must be monotone in cand: $r200 vs $r50")
    assert(r200 >= 0.8, s"cand=200 re-rank recall@10 was $r200")
  }

  test("compact on a quantized index: codes schema intact, search unchanged") {
    // the full operational composition: quantized save -> many small
    // appends (micro-batch litter) -> compact -> search; compact is
    // schema-agnostic per-cell file rewriting, so the codes survive
    val params = Quantize.fitSq8(emb)
    val dir = java.nio.file.Files.createTempDirectory("ivf_q_compact").toString
    val m0 = IvfIndex.build(emb.filter(col("vec_id") % 8 === 0),
      nlist = 8, iters = 1)
    IvfIndex.saveQuantized(m0, dir, params)
    (1 until 8).foreach { i =>
      IvfIndex.append(spark, dir, emb.filter(col("vec_id") % 8 === i))
    }
    val before = IvfIndex.searchTopK(IvfIndex.load(spark, dir), 0L, 10,
      nprobe = 8).collect().map(_.toSeq).toSeq
    val (cells, nBefore, nAfter) =
      IvfIndex.compact(spark, dir, maxFilesPerCell = 2)
    assert(cells > 0 && nAfter < nBefore,
      s"compaction must rewrite litter: $cells cells, $nBefore -> $nAfter")
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.assignments.columns.contains("embedding"),
      "compacted quantized index must still decode")
    val after = IvfIndex.searchTopK(loaded, 0L, 10, nprobe = 8)
      .collect().map(_.toSeq).toSeq
    assert(after === before, "compaction must not change search results")
  }

  test("append: incremental ingest into a saved index == one-shot assign of the full corpus") {
    val dir = java.nio.file.Files.createTempDirectory("ivfappend").toString
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 =!= 0)
    // build + save on the first half only; the second half arrives later
    val m0 = IvfIndex.build(first, nlist = 16, iters = 2)
    IvfIndex.save(m0, dir)
    IvfIndex.append(spark, dir, second)
    val loaded = IvfIndex.load(spark, dir)
    // the appended inverted file == assigning the FULL corpus with the
    // saved (frozen) centroids — append must not move or lose any row
    val want = IvfIndex.assign(emb, m0.centroids)
    val cols = want.columns.sorted.toIndexedSeq
    assert(loaded.assignments.count() === emb.count())
    assert(loaded.assignments.select(cols.map(col): _*).orderBy("vec_id")
      .collect().map(_.toSeq).toSeq ===
      want.select(cols.map(col): _*).orderBy("vec_id")
        .collect().map(_.toSeq).toSeq)
    // serving through the appended index == the equivalent in-memory model
    // (assignments checkpointed like every built Model — the id-overload
    // search self-joins the assignment frame, which needs a plan boundary)
    val memModel = IvfIndex.Model(m0.centroids,
      org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
        want.localCheckpoint()))
    for (nprobe <- Seq(4, 16)) {
      assert(IvfIndex.searchTopK(loaded, 1L, 10, nprobe).collect().map(_.toSeq).toSeq ===
        IvfIndex.searchTopK(memModel, 1L, 10, nprobe).collect().map(_.toSeq).toSeq)
    }
    // appended files land INSIDE the existing cell directories: the static
    // probed-cell partition pruning still holds after an append
    val pruned = IvfIndex.searchTopK(loaded, 1L, 10, nprobe = 2)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val scan = pruned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.selectedPartitions.partitionCount === 2,
      s"nprobe=2 must scan 2 cell directories post-append, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
  }

  test("appendStream: micro-batched ingest into a saved index == batch append") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfstream_ck").toString
    // (vec_id, embedding) on both sides: the stream's schema must match
    // the saved inverted file's (parquet append is schema-strict)
    val first = emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val second = emb.filter(col("vec_id") % 2 =!= 0)
    val m0 = IvfIndex.build(first, nlist = 16, iters = 2)
    IvfIndex.save(m0, dir)
    // the late half arrives as TWO micro-batches of (vec_id, embedding)
    val rows = second.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = IvfIndex.appendStream(dir,
      mem.toDF().toDF("vec_id", "embedding"), ckpt)
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // identical end state to the batch append path: full corpus, every
    // row in the cell the frozen centroids assign it to
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.assignments.count() === emb.count())
    val want = IvfIndex.assign(emb.select("vec_id", "embedding"), m0.centroids)
    assert(loaded.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq ===
      want.select("vec_id", "cell").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq)
    for (nprobe <- Seq(4, 16)) {
      val memModel = IvfIndex.Model(m0.centroids,
        org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
          want.localCheckpoint()))
      assert(IvfIndex.searchTopK(loaded, 1L, 10, nprobe).collect().map(_.toSeq).toSeq ===
        IvfIndex.searchTopK(memModel, 1L, 10, nprobe).collect().map(_.toSeq).toSeq)
    }
  }

  test("refine: hot cells split in place — balance improves, membership and exactness preserved") {
    import org.apache.spark.sql.graftbridge.Bridge
    // plant a hot cluster: half the corpus shifted onto one coherent
    // direction (the IvfDriftBench modality shape) so one stale cell
    // swallows it
    val dir = (0 until 64).map(j => if (j % 2 == 0) 0.17 else -0.09)
    val shifted = emb.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        (x.cast("double") + lit(2.0) * element_at(typedlit(dir), (j + 1).cast("int")))
          .cast("float")).as("embedding"))
    val corpus = Bridge.dropCheckpointConstraints(
      emb.select("vec_id", "embedding").unionByName(shifted).localCheckpoint())
    val n = corpus.count()
    val m = IvfIndex.build(corpus, nlist = 16, iters = 2)
    def maxShare(mm: IvfIndex.Model) = mm.assignments.groupBy("cell").count()
      .agg(max("count")).head().getLong(0).toDouble / n
    val before = maxShare(m)
    assert(before > 0.2, s"the planted modality must overload a cell, share=$before")
    val r = IvfIndex.refine(m, maxCellRows = (n * 0.15).toLong, splitInto = 4)
    // membership preserved exactly
    assert(r.assignments.count() === n)
    assert(r.assignments.select(countDistinct("vec_id")).head().getLong(0) === n)
    // every member sits in a cell its centroid table knows
    assert(r.assignments.join(broadcast(r.centroids.select("cell")), Seq("cell"))
      .count() === n)
    // balance improved
    val after = maxShare(r)
    assert(after < before,
      s"refine must reduce the max cell share: before=$before after=$after")
    // full-probe search is exact on ANY cell structure: refined == brute
    val ids = Seq(0L, 5L, 100005L)
    val ncells = r.centroids.count().toInt
    val truth = bruteTopK(corpus, ids, 10)
    val got = IvfIndex.searchTopKBatch(r, ids, 10, nprobe = ncells)
    assert(got.join(truth, Seq("probe_id", "vec_id")).count() === 30,
      "full-probe search over the refined index must reproduce brute force")
    // idempotence at the threshold: nothing left hot -> same model back
    val r2 = IvfIndex.refine(r, maxCellRows = n) // nothing exceeds n
    assert(r2 eq r)
  }

  test("compact: appended small files coalesce — membership, search, pruning unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    // build + save on one slice, then drip the rest in as four separate
    // appends — the micro-batch ingest pattern that litters cell dirs
    // with small files
    val m0 = IvfIndex.build(emb.filter(col("vec_id") % 5 === 0), nlist = 8, iters = 1)
    IvfIndex.save(m0, dir)
    (1 until 5).foreach { i =>
      IvfIndex.append(spark, dir, emb.filter(col("vec_id") % 5 === i))
    }
    // pre-compact ground truth, materialized BEFORE the rewrite (the
    // pre-compact plan reads files compact deletes)
    val preAssign = IvfIndex.load(spark, dir).assignments
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
    val preSearch = IvfIndex.searchTopK(IvfIndex.load(spark, dir), 1L, 10, nprobe = 8)
      .collect().map(_.toSeq).toSeq
    val (done, before, after) = IvfIndex.compact(spark, dir, maxFilesPerCell = 2)
    assert(done > 0, s"five separate writes must leave compactable cells ($before files)")
    assert(after < before, s"compaction must shrink the file count: $before -> $after")
    // every compacted cell collapses to ceil(bytes/target) = 1 file here
    assert(after <= before - done)
    // membership and serving identical through the rewrite
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq === preAssign)
    assert(IvfIndex.searchTopK(loaded, 1L, 10, nprobe = 8)
      .collect().map(_.toSeq).toSeq === preSearch)
    // the cell-partitioned layout survives: static probed-cell pruning
    val pruned = IvfIndex.searchTopK(loaded, 1L, 10, nprobe = 2)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val scan = pruned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.selectedPartitions.partitionCount === 2,
      s"nprobe=2 must scan 2 cell directories post-compact, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
    // idempotent at the threshold: a second pass finds nothing hot
    val (done2, b2, a2) = IvfIndex.compact(spark, dir, maxFilesPerCell = 2)
    assert(done2 === 0 && b2 === a2 && b2 === after)
  }

  test("compact recovers a cell stranded aside by a crash in the rename window") {
    // regression (r9 review class): the pre-r9 swap deleted old files
    // before moving new ones in, so a crash in between LOST the cell.
    // The rename-aside protocol leaves .compact_old_cell=N as the sole
    // copy in the worst window — the next compact must restore it.
    val dir = java.nio.file.Files.createTempDirectory("ivfcrash").toString
    val m0 = IvfIndex.build(emb.filter(col("vec_id") % 3 === 0), nlist = 4, iters = 1)
    IvfIndex.save(m0, dir)
    (1 until 3).foreach(i =>
      IvfIndex.append(spark, dir, emb.filter(col("vec_id") % 3 === i)))
    val preAssign = IvfIndex.load(spark, dir).assignments
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
    // simulate the crash window on one cell: live dir renamed aside,
    // replacement never landed
    val root = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cell = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell=")).head.getPath
    assert(fs.rename(cell, new org.apache.hadoop.fs.Path(root,
      s".compact_old_${cell.getName}")))
    IvfIndex.compact(spark, dir, maxFilesPerCell = 1000) // recovery only
    assert(IvfIndex.load(spark, dir).assignments
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
      === preAssign, "stranded cell must be restored, not lost")
  }

  test("compact discards a stale aside copy left beside a live cell") {
    // the other kill point in the swap: death AFTER rename(staged, cell)
    // but before delete(aside) leaves the new cell live plus a stale
    // .compact_old_ duplicate. Recovery must keep the live cell and
    // delete the orphan — restoring it would resurrect pre-compaction
    // files next to the compacted ones (duplicate rows on read).
    val dir = java.nio.file.Files.createTempDirectory("ivfstale").toString
    val m0 = IvfIndex.build(emb.filter(col("vec_id") % 3 === 0), nlist = 4, iters = 1)
    IvfIndex.save(m0, dir)
    (1 until 3).foreach(i =>
      IvfIndex.append(spark, dir, emb.filter(col("vec_id") % 3 === i)))
    val preAssign = IvfIndex.load(spark, dir).assignments
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = root.getFileSystem(conf)
    val cell = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell=")).head.getPath
    val aside = new org.apache.hadoop.fs.Path(root, s".compact_old_${cell.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, cell, fs, aside, false, conf)
    IvfIndex.compact(spark, dir, maxFilesPerCell = 1000) // recovery only
    assert(!fs.exists(aside), "stale aside must be deleted, not restored")
    assert(IvfIndex.load(spark, dir).assignments
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
      === preAssign, "membership must be unchanged")
  }

  test("maintained index (append + refine) preserves partial-probe recall vs a fresh build") {
    import org.apache.spark.sql.graftbridge.Bridge
    // The lifecycle specs above prove append/refine move rows EXACTLY
    // (full probing). This pins the serving property those moves must not
    // degrade: recall@10 at a real partial nprobe on the maintained index
    // stays within a fixed tolerance of a fresh same-nlist build over the
    // same corpus (VERDICT r7 #5). Same planted-modality corpus as the
    // refine spec — the drifted-arrivals regime where maintenance matters.
    val dir = (0 until 64).map(j => if (j % 2 == 0) 0.17 else -0.09)
    val shifted = emb.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        (x.cast("double") + lit(2.0) * element_at(typedlit(dir), (j + 1).cast("int")))
          .cast("float")).as("embedding"))
    val original = emb.select("vec_id", "embedding")
    val corpus = Bridge.dropCheckpointConstraints(
      original.unionByName(shifted).localCheckpoint())
    val n = corpus.count()
    // maintained path: build on the ORIGINAL half, the shifted modality
    // arrives later via append (frozen centroids), then refine rebalances
    // the hot cells it lands in
    val path = java.nio.file.Files.createTempDirectory("ivfmaint").toString
    IvfIndex.save(IvfIndex.build(original, nlist = 16, iters = 2), path)
    IvfIndex.append(spark, path, shifted)
    val maintained = IvfIndex.refine(IvfIndex.load(spark, path),
      maxCellRows = (n * 0.15).toLong, splitInto = 4)
    // fresh path: one-shot build over the full corpus, same nlist
    val fresh = IvfIndex.build(corpus, nlist = 16, iters = 2)
    val ids = Seq(0L, 5L, 17L, 100005L, 100017L, 100042L)
    val truth = bruteTopK(corpus, ids, 10)
    def recallAt(m: IvfIndex.Model, nprobe: Int): Double =
      IvfIndex.searchTopKBatch(m, ids, 10, nprobe)
        .join(truth, Seq("probe_id", "vec_id")).count().toDouble / (ids.size * 10)
    val nprobe = 4
    val rMaint = recallAt(maintained, nprobe)
    val rFresh = recallAt(fresh, nprobe)
    // deterministic (seeded builds, fixed corpus): a fixed tolerance is a
    // stable pin, not a flaky one
    assert(rMaint >= rFresh - 0.15,
      s"maintained-index recall@10 (nprobe=$nprobe) $rMaint must stay within " +
        s"0.15 of fresh-build recall $rFresh")
    assert(rMaint >= 0.3, s"maintained-index recall@10 sanity floor: $rMaint")
  }

  test("bucketed PQ layout: ADC search equal to per-cell layout; bucket-pruned scan; append+compact transparent") {
    // the production-nlist layout (VERDICT r13 #2 / IvfProdBench: one dir
    // per cell costs 220 s of commit and 22 s of listing at nlist=16384;
    // cbkt buckets make it 4.4 s / 2.1 s): same results, pruned reads
    val pq = Pq.fit(emb, m = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("ivf_bkt").toString
    IvfIndex.saveQuantizedPq(model, s"$base/flat", pq)
    IvfIndex.saveQuantizedPqBucketed(model, s"$base/bkt", pq, cellBuckets = 4)
    val probes = emb.limit(3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def adc(p: String) = IvfIndex.searchTopKBatchAdc(spark, p, probes,
        k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = adc(s"$base/flat")
    assert(want.nonEmpty && adc(s"$base/bkt") === want,
      "bucketed layout changed ADC results")
    // scan evidence: buckets of the probed cells pruned statically, cell
    // list pushed as a data filter into the surviving buckets
    val q = IvfIndex.searchTopKBatchAdc(spark, s"$base/bkt", probes,
      k = 5, nprobe = 2)
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("bkt")) => s
    }
    assert(scans.nonEmpty, s"no index scan in:\n$plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("cbkt") && !f.toString.startsWith("isnotnull")),
      s"probed buckets must be a static partition filter: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount <= 4 &&
      scan.dataFilters.exists(_.toString.contains("cell")),
      s"cell list must push into the bucket scan: ${scan.dataFilters}")
    // append lands in cbkt dirs and is served; compact folds the extra
    // files without changing results
    val extra = emb.limit(5)
      .select((col("vec_id") + lit(900000L)).as("vec_id"), col("embedding"))
    IvfIndex.append(spark, s"$base/bkt", extra)
    val loaded = IvfIndex.load(spark, s"$base/bkt")
    assert(loaded.assignments.count() === emb.count() + 5)
    assert(!loaded.assignments.columns.contains("cbkt"))
    val postAppend = adc(s"$base/bkt")
    assert(postAppend !== want, "appended twins must be served (displace top-k)")
    val (done, before, after) = IvfIndex.compact(spark, s"$base/bkt",
      maxFilesPerCell = 1)
    assert(done > 0 && after < before, s"compacted $done: $before -> $after")
    assert(adc(s"$base/bkt") === postAppend,
      "compact changed the served results")
    // a NON-bucketed re-save over the bucketed path must clear the stale
    // layout sidecar, or auto-detection filters on a cbkt column the
    // rewritten assignments no longer have (r14 review #2)
    IvfIndex.saveQuantizedPq(model, s"$base/bkt", pq)
    assert(adc(s"$base/bkt") === want,
      "per-cell re-save over a bucketed path must serve correctly")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
  }

  test("bucketed SQ8 layout: load+search equal to the per-cell layout") {
    val params = Quantize.fitSq8(model.assignments, "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivf_sq8bkt").toString
    IvfIndex.saveQuantized(model, s"$base/flat", params)
    IvfIndex.saveQuantizedBucketed(model, s"$base/bkt", params, cellBuckets = 4)
    def search(p: String) = {
      val m = IvfIndex.load(spark, p)
      IvfIndex.searchTopKBatch(m, Seq(0L, 7L), k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val want = search(s"$base/flat")
    assert(want.nonEmpty && search(s"$base/bkt") === want,
      "bucketed SQ8 layout changed decode-serving results")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
  }

  test("re-save under a different quantization clears the stale opposite sidecar") {
    // a PQ->SQ8 re-save that left pq_params behind made ADC search fail on
    // the missing pq_codes column; the reverse left sq8_params, which load
    // consults FIRST — silently decoding pq bytes as sq8 codes (r14 ADVICE)
    val pq = Pq.fit(emb, m = 8, iters = 2)
    val params = Quantize.fitSq8(model.assignments, "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivf_xquant").toString
    val dir = s"$base/idx"
    def exists(name: String) = new java.io.File(s"$dir/$name").exists
    def served() = {
      val m = IvfIndex.load(spark, dir)
      IvfIndex.searchTopKBatch(m, Seq(0L), k = 3, nprobe = 16)
        .collect().map(_.getLong(1)).toSet
    }
    IvfIndex.saveQuantizedPq(model, dir, pq)
    assert(exists("pq_params") && !exists("sq8_params"))
    IvfIndex.saveQuantized(model, dir, params)
    assert(exists("sq8_params") && !exists("pq_params"),
      "SQ8 re-save must drop the stale pq_params sidecar")
    assert(served().nonEmpty, "post-re-save index must serve")
    IvfIndex.saveQuantizedPqBucketed(model, dir, pq, cellBuckets = 4)
    assert(exists("pq_params") && !exists("sq8_params"),
      "PQ re-save must drop the stale sq8_params sidecar")
    assert(served().nonEmpty, "post-re-save bucketed index must serve")
    IvfIndex.save(model, dir)
    assert(!exists("pq_params") && !exists("sq8_params"),
      "an unquantized re-save must drop BOTH quantization sidecars")
    assert(served().nonEmpty, "unquantized re-save must serve")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
  }

  test("assignCoarse: full coarse probe == exact assign; partial probe valid, deterministic, near-exact") {
    val cents = model.centroids
    val exact = IvfIndex.assign(emb, cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probing EVERY coarse group makes the two-level argmax range over all
    // centroids — must reproduce assign exactly, ties included (both
    // routes break ties to the lowest cell)
    val full = IvfIndex.assignCoarse(emb, cents, nCoarse = 4, wProbe = 4)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === exact,
      "wProbe = nCoarse must be exactly the flat assignment")
    // partial probe: one row per vector, every cell a real cell,
    // deterministic across invocations, and agreement stays high on the
    // TRAINED cells (structure to exploit — unlike the random-centroid
    // worst case IvfAssignBench measures)
    val p1 = IvfIndex.assignCoarse(emb, cents, nCoarse = 4, wProbe = 2)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p2 = IvfIndex.assignCoarse(emb, cents, nCoarse = 4, wProbe = 2)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 === p2, "assignCoarse must be deterministic")
    assert(p1.keySet === exact.keySet, "one row per vector")
    val validCells = cents.select("cell").collect().map(_.getLong(0)).toSet
    assert(p1.values.forall(validCells.contains))
    val agree = p1.count { case (v, c) => exact(v) == c }.toDouble / p1.size
    assert(agree >= 0.5, s"partial-probe agreement collapsed: $agree")
    // NO vector may vanish at the DEFAULT params either (r13 review: a
    // memberless-but-probed coarse group used to drop its vectors from
    // the inner join; the probe ranking is now restricted to member
    // groups, so every vector assigns by construction) — defaults force
    // nCoarse(128) > cells(16), the empty-coarse-cell-heavy shape
    val defCount = IvfIndex.assignCoarse(emb, cents).count()
    assert(defCount === emb.count(), "assignCoarse dropped vectors at default params")
  }

  test("build(route = CoarseAssign with full probe) == build(FlatAssign) exactly") {
    // the route surface must not change the model when the coarse
    // assignment probes every group — same centroids after every Lloyd
    // round, same final membership, ties included
    val flat = IvfIndex.build(emb, nlist = 8, iters = 2)
    val coarse = IvfIndex.build(emb, nlist = 8, iters = 2,
      route = IvfIndex.CoarseAssign(nCoarse = 4, wProbe = 4))
    def cents(m: IvfIndex.Model) = m.centroids
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    def cells(m: IvfIndex.Model) = m.assignments
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cents(coarse) === cents(flat))
    assert(cells(coarse) === cells(flat))
  }

  test("assign plans with no Exchange and no Window (zero-shuffle argmax)") {
    val plan = IvfIndex.assign(emb, model.centroids)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"assign must not window:\n$plan")
  }

  test("max_by fallback path matches the packed-literal path") {
    val lit = IvfIndex.assign(emb, model.centroids)
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq)
    val agg = IvfIndex.assign(emb, model.centroids, maxPackedCells = 1)
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq)
    assert(lit.toSeq === agg.toSeq)
  }

  test("bounded training sample: sampled build still covers the full corpus") {
    val n = emb.count()
    val m = IvfIndex.build(emb, nlist = 8, iters = 2, maxTrainRows = n / 4)
    assert(m.centroids.count() === 8)
    // training saw a subset, but the final assign is the whole corpus
    assert(m.assignments.count() === n)
    assert(m.assignments.select(countDistinct("vec_id")).head().getLong(0) === n)
    // and the sampled build is deterministic too
    val m2 = IvfIndex.build(emb, nlist = 8, iters = 2, maxTrainRows = n / 4)
    val c1 = m.centroids.orderBy("cell").collect().map(_.toSeq)
    val c2 = m2.centroids.orderBy("cell").collect().map(_.toSeq)
    assert(c1.toSeq === c2.toSeq)
  }

  test("approxCount: sizing job runs a bounded partition sample, not a full scan") {
    // 16 partitions, but the sizing job may touch at most 8 of them — a
    // 100 TB corpus must never be scanned end to end just to decide on a
    // training-sample fraction (VERDICT r5 #4).
    val wide = emb.repartition(16).cache()
    val actual = wide.count() // materialize outside the listener window
    // (resultStageTasks, totalDagTasks): the job DAG also lists the upstream
    // repartition map stage (skipped at runtime — the cache serves it), so
    // pin the RESULT stage to the sample size and the whole DAG to < nParts
    val taskCounts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        taskCounts.add((j.stageInfos.maxBy(_.stageId).numTasks,
          j.stageInfos.map(_.numTasks).sum))
    }
    spark.sparkContext.addSparkListener(listener)
    val est =
      try {
        val e = IvfIndex.approxCount(wide)
        // listener events are async; poll briefly for the job-start event
        val deadline = System.nanoTime() + 5e9.toLong
        while (taskCounts.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        e
      } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val counts = taskCounts.asScala.toSeq
    assert(counts.size === 1, s"approxCount must launch exactly one job, saw $counts")
    assert(counts.head._1 === 8,
      s"sizing result stage must run 8 of 16 partitions, ran ${counts.head._1}")
    assert(counts.head._2 < 16,
      s"sizing job DAG must stay under the 16-partition full scan, saw ${counts.head._2}")
    // repartition() spreads rows round-robin, so the 8-partition estimate
    // lands close to truth; the contract only needs order-of-magnitude
    assert(est >= actual / 2 && est <= actual * 2,
      s"estimate $est vs actual $actual outside 2x")
  }

  test("build is deterministic under the seed") {
    val m2 = IvfIndex.build(emb, nlist = 16, iters = 2)
    val a1 = model.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq)
    val a2 = m2.assignments.select("vec_id", "cell").orderBy("vec_id")
      .collect().map(_.toSeq)
    assert(a1.toSeq === a2.toSeq)
  }
  test("maintainAppend: watch ok on organic growth, refine on a saturated cell, retrain on drift; refineInPlace recovers") {
    import spark.implicits._
    def unit(seed: Int, n: Int, base: Option[Array[Float]] = None,
             spread: Float = 1f): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = base.map(_.clone()).getOrElse(Array.fill(16)(0f))
          .zipWithIndex.map { case (x, _) =>
            x + (rnd.nextGaussian() * spread).toFloat }
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivfmaint")
      .toString + "/idx"
    val corpus = unit(1, 400)
    IvfIndex.save(IvfIndex.build(df(corpus), nlist = 16, iters = 2), dir)

    // organic batch: spread like the corpus -> ok, occupancy tracked
    val w1 = IvfIndex.maintainAppend(spark, dir, df(unit(2, 100)),
      maxCellRows = 200)
    assert(w1.action === "ok" && w1.appended === 100L && w1.hotCells === 0L)
    assert(w1.maxCell <= 200L && w1.baselineCos === w1.meanAssignCos)
    // appended rows are served (full probe = exact membership)
    val m1 = IvfIndex.load(spark, dir)
    assert(m1.assignments.count() === 500L)

    // a TIGHT planted modality saturates one cell -> refine fires
    // (spread 0.05: one cell at corpus scale, internally separable so
    // the split has geometry to work with — byte-identical spam is the
    // dedup flows' job, not the index's)
    val tightBase = Array.fill(16)(0f); tightBase(7) = 1f
    val w2 = IvfIndex.maintainAppend(spark, dir,
      df(unit(3, 250, Some(tightBase), spread = 0.05f)),
      maxCellRows = 200)
    assert(w2.action === "refine" && w2.hotCells >= 1L &&
      w2.maxCell > 200L, s"$w2")

    // refine splits the hot cells in place; ledger reseeds; watch calms
    IvfIndex.refineInPlace(spark, dir, maxCellRows = 200, splitInto = 4, iters = 4)
    val m2 = IvfIndex.load(spark, dir)
    assert(m2.assignments.count() === 750L,
      "refine must preserve membership")
    assert(m2.centroids.count() > 16L, "hot cells must have split")
    val w3 = IvfIndex.maintainAppend(spark, dir, df(unit(4, 50)),
      maxCellRows = 200)
    assert(w3.action === "ok" && w3.maxCell <= 200L, s"$w3")
    // the baseline SURVIVES the refine (r17 — a refine only adds
    // centroids, so the old expectation stays a conservative lower
    // bound; re-stamping on the next batch let sustained drift poison
    // the signal, the driftflood finding) and the organic batch still
    // reads ok against it
    assert(w3.baselineCos === w1.baselineCos)

    // drift: corpus and baseline batch live in dims 0-7, the drifted
    // batch in dims 8-15 — an ORTHOGONAL subspace, so every assign
    // cosine is exactly 0 and the watch must say retrain (cell
    // splitting cannot fix a distribution that moved away from every
    // centroid)
    def subUnit(seed: Int, n: Int, lo: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f)
        (lo until lo + 8).foreach(j => v(j) = rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    val dir2 = java.nio.file.Files.createTempDirectory("ivfdrift")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(subUnit(11, 400, 0)), nlist = 8,
      iters = 2), dir2)
    val wBase = IvfIndex.maintainAppend(spark, dir2, df(subUnit(12, 50, 0)),
      maxCellRows = 2000)
    assert(wBase.action === "ok" && wBase.baselineCos > 0.1, s"$wBase")
    val w4 = IvfIndex.maintainAppend(spark, dir2, df(subUnit(13, 50, 8)),
      maxCellRows = 2000, driftMargin = 0.05)
    assert(w4.action === "retrain", s"$w4")
    assert(w4.meanAssignCos < w4.baselineCos - 0.05)

    // QUANTIZED indexes refine in place too (r17, the r16 verdict #4):
    // the staged save re-encodes under the SAVED params — stored codes
    // are preserved bit-exact (decoded grid points re-encode to their
    // own codes), only the cell structure changes, and the sidecar
    // survives the swap
    val qdir = java.nio.file.Files.createTempDirectory("ivfmaintq")
      .toString + "/idx"
    val qm = IvfIndex.build(df(corpus), nlist = 8, iters = 1)
    IvfIndex.saveQuantized(qm, qdir, Quantize.fitSq8(qm.assignments, "embedding"))
    val codesBefore = spark.read.parquet(s"$qdir/assignments")
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    IvfIndex.refineInPlace(spark, qdir, maxCellRows = 60, splitInto = 2)
    val after = spark.read.parquet(s"$qdir/assignments")
    assert(after.count() === corpus.length.toLong,
      "quantized refine must preserve membership")
    assert(after.columns.contains("codes"),
      "quantized refine must keep the index quantized")
    val codesAfter = after.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codesAfter === codesBefore,
      "re-encoding under the saved params must preserve every code")
    // the refined quantized index still serves (decode path intact)
    val served = IvfIndex.searchTopK(IvfIndex.load(spark, qdir),
      corpus.head._1, k = 5, nprobe = 8)
    assert(served.count() === 5L)
  }

  test("refine: seed centroids are normalized — a tight varied-norm cell (the decoded-codes shape) must split") {
    import spark.implicits._
    // members share one direction cone (±0.03 per-dim noise, pairwise
    // cos ≈ 0.99) but carry NORMS 0.95–0.99 — the PQ-reconstruction
    // shape: an un-normalized seed round let the higher-norm seed's raw
    // dot dominate the directional spread, round 0 collapsed
    // winner-take-all, the empty sub vanished from the mean groupBy,
    // and the cell survived refine after refine at every seed (the
    // driftflood soak's 3,868-row flood-core cell). Unit-norm raw
    // corpora never showed it.
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map { i =>
      val v = Array.fill(16)(0f)
      v(0) = 1f
      val jit = v.map(x => x + (rnd.nextGaussian() * 0.03).toFloat)
      val n = math.sqrt(jit.map(x => x.toDouble * x).sum)
      val scale = 0.95 + 0.04 * rnd.nextDouble()
      (i.toLong, jit.map(x => (x / n * scale).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cents = Seq((0L, Array.fill(16)(0f).updated(0, 1f).toSeq))
      .toDF("cell", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    val model = IvfIndex.Model(cents, emb.withColumn("cell", lit(0L)))
    val refined = IvfIndex.refine(model, maxCellRows = 200, splitInto = 2,
      iters = 3)
    val sizes = refined.assignments.groupBy("cell").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes.sum === 400L, "membership preserved")
    assert(sizes.length >= 2 && sizes.max < 400L,
      s"the cell must actually split, got $sizes")
    assert(sizes.min >= 40L, s"a balanced-ish directional split, got $sizes")
  }

  test("retrainInPlace: a drifted quantized index re-trains and re-fits from the source store; membership, ledger, and baseline all carry") {
    import spark.implicits._
    def subUnit(seed: Int, n: Int, lo: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f)
        (lo until lo + 8).foreach(j => v(j) = rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivfretrain")
      .toString + "/idx"
    // corpus lives in dims 0-7, SQ8-quantized: the fitted grid never
    // saw dims 8-15, so a drifted batch ENCODES TO NOTHING there —
    // exactly why retrain must read the source store, not the codes
    val m0 = IvfIndex.build(df(subUnit(21, 400, 0)), nlist = 8, iters = 2)
    IvfIndex.saveQuantized(m0, dir,
      Quantize.fitSq8(m0.assignments, "embedding"))
    val w0 = IvfIndex.maintainAppend(spark, dir, df(subUnit(22, 50, 0)),
      maxCellRows = 2000, batchId = 0L)
    assert(w0.action === "ok", s"$w0")
    val drifted = subUnit(23, 100, 8)
    val w1 = IvfIndex.maintainAppend(spark, dir, df(drifted),
      maxCellRows = 2000, driftMargin = 0.05, batchId = 1L)
    assert(w1.action === "retrain", s"$w1")
    val src = df(subUnit(21, 400, 0) ++ subUnit(22, 50, 0) ++ drifted)
    // the per-cell audit exposes the damage BEFORE it costs recall:
    // the drifted rows decode to ~nothing under the stale grid
    // (cosine ~0 vs the stored truth) and pool in the few old cells
    // nearest them, dragging those cells' mean down and min to zero,
    // while organic-only cells reconstruct ~1 — a whole-index average
    // hides the damage behind 450 good rows, and the full-probe recall
    // yardstick cannot see it at all
    val audit = IvfIndex.reconByCell(spark, dir, src, sampleOneIn = 1)
      .collect()
    assert(audit.head.getDouble(2) < 0.6 && audit.head.getDouble(3) < 0.1,
      s"the stale-grid cell must surface worst: ${audit.head}")
    assert(audit.last.getDouble(2) > 0.9,
      s"organic cells reconstruct: ${audit.last}")
    IvfIndex.retrainInPlace(spark, dir, source = Some(src))
    val audit2 = IvfIndex.reconByCell(spark, dir, src, sampleOneIn = 1)
      .agg(min(col("mean_cos"))).head().getDouble(0)
    assert(audit2 > 0.9, s"post-retrain every cell reconstructs: $audit2")
    val m2 = IvfIndex.load(spark, dir)
    assert(m2.assignments.count() === 550L,
      "retrain must preserve membership")
    assert(spark.read.parquet(s"$dir/assignments").columns
      .contains("codes"), "retrain must keep the index quantized")
    // the re-fit grid covers the drifted subspace: stored codes now
    // reconstruct the drifted rows (the stale grid decoded them to ~0)
    val rec = m2.assignments
      .join(df(drifted).select(col("vec_id"), col("embedding").as("t")),
        Seq("vec_id"))
      .agg(avg(Similarity.cosine(col("embedding"), col("t"))))
      .head().getDouble(0)
    assert(rec > 0.9, s"post-retrain reconstruction cosine $rec")
    // the drifted modality is now home geometry: the next maintained
    // batch re-stamps the dropped baseline and reads ok
    val w2 = IvfIndex.maintainAppend(spark, dir, df(subUnit(24, 50, 8)),
      maxCellRows = 2000, batchId = 2L)
    assert(w2.action === "ok" && w2.baselineCos === w2.meanAssignCos &&
      w2.meanAssignCos > 0.1, s"$w2")
    // the maintain ledger survived the swap: replaying batch 1 skips
    IvfIndex.maintainAppend(spark, dir, df(drifted),
      maxCellRows = 2000, batchId = 1L)
    assert(IvfIndex.load(spark, dir).assignments.count() === 600L,
      "a replayed ledgered batch must not re-insert")
  }

  test("maintainRemove: tombstoned vectors stop serving on every read path; the next maintenance rewrite purges them physically") {
    import spark.implicits._
    def unit(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f).map(_ => rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val corpus = unit(41, 300)
    // a near-twin pair: probe 900001 must retrieve victim 900002 until
    // the victim is tombstoned
    val base = corpus.head._2.toArray
    val twin = base.clone(); twin(0) = (twin(0) * 1.001f)
    val tn = math.sqrt(twin.map(x => x.toDouble * x).sum)
    val pair = Seq((900001L, base.toSeq),
      (900002L, twin.map(x => (x / tn).toFloat).toSeq))
    val dir = java.nio.file.Files.createTempDirectory("ivftomb")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(corpus ++ pair), nlist = 8,
      iters = 2), dir)
    def hits: Seq[Long] = IvfIndex.searchTopKBatch(
      IvfIndex.load(spark, dir), Seq(900001L), k = 3, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(hits.contains(900002L), s"precondition: the twin serves: $hits")
    IvfIndex.maintainRemove(spark, dir, Seq(900002L).toDF("vec_id"))
    assert(!hits.contains(900002L), "a tombstoned vector must stop serving")
    assert(IvfIndex.load(spark, dir).assignments
      .filter(col("vec_id") === 900002L).isEmpty)
    // idempotent replay
    IvfIndex.maintainRemove(spark, dir, Seq(900002L).toDF("vec_id"))
    assert(IvfIndex.load(spark, dir).assignments.count() === 301L)
    // the ADC (codes-domain) path filters too
    val qdir = java.nio.file.Files.createTempDirectory("ivftombq")
      .toString + "/idx"
    val qm = IvfIndex.build(df(corpus ++ pair), nlist = 8, iters = 2)
    IvfIndex.saveQuantizedPq(qm, qdir, Pq.fit(qm.assignments, m = 8))
    def adcHits: Seq[Long] = IvfIndex.searchTopKBatchAdc(spark, qdir,
      Seq((900001L, base)), k = 3, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(adcHits.contains(900002L), s"ADC precondition: $adcHits")
    IvfIndex.maintainRemove(spark, qdir, Seq(900002L).toDF("vec_id"))
    assert(!adcHits.contains(900002L), "ADC must filter tombstones")
    // any maintenance rewrite purges physically and drops the dir —
    // refineInPlace with no hot cells still rewrites through the
    // tombstone-filtered load
    IvfIndex.refineInPlace(spark, dir, maxCellRows = 10000)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "the rewrite swap drops the tombstone dir")
    assert(spark.read.parquet(s"$dir/assignments")
      .filter(col("vec_id") === 900002L).isEmpty,
      "the victim is physically gone")
    assert(IvfIndex.load(spark, dir).assignments.count() === 301L)
    assert(!hits.contains(900002L))
  }

  test("maintainAppend purge watch: tombstone fraction past threshold recommends purge; purgeInPlace compacts; hotter actions keep priority") {
    import spark.implicits._
    def unit(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f).map(_ => rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val corpus = unit(47, 300)
    val dir = java.nio.file.Files.createTempDirectory("ivfpurge")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(corpus), nlist = 8, iters = 2), dir)
    val w1 = IvfIndex.maintainAppend(spark, dir, df(unit(48, 40)),
      maxCellRows = 10000, batchId = 0L)
    assert(w1.action === "ok")
    assert(w1.tombstoneFrac === 0.0)
    // evict 120 of 340 physical rows (~35% > the 20% default threshold);
    // the watch reads the fraction against PHYSICAL occupancy
    IvfIndex.maintainRemove(spark, dir,
      corpus.take(120).map(_._1).toDF("vec_id"))
    val w2 = IvfIndex.maintainAppend(spark, dir, df(unit(49, 10)),
      maxCellRows = 10000, batchId = 1L)
    assert(w2.action === "purge", s"expected purge, got $w2")
    assert(math.abs(w2.tombstoneFrac - 120.0 / 350.0) < 1e-9, w2.toString)
    IvfIndex.purgeInPlace(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "the purge swap drops the tombstone dir")
    assert(IvfIndex.load(spark, dir).assignments.count() === 230L)
    // occupancy re-seeded to the post-purge physical counts
    assert(spark.read.parquet(s"$dir/occupancy")
      .agg(sum("cnt")).head().getLong(0) === 230L)
    val w3 = IvfIndex.maintainAppend(spark, dir, df(unit(50, 10)),
      maxCellRows = 10000, batchId = 2L)
    assert(w3.action === "ok")
    assert(w3.tombstoneFrac === 0.0)
    assert(w3.baselineCos === w1.baselineCos,
      "the drift baseline survives the purge swap")
    // priority: a saturated cell outranks purge — refine purges free
    IvfIndex.maintainRemove(spark, dir,
      corpus.drop(120).take(100).map(_._1).toDF("vec_id"))
    val w4 = IvfIndex.maintainAppend(spark, dir, df(unit(51, 10)),
      maxCellRows = 20, batchId = 3L)
    assert(w4.hotCells > 0 && w4.action === "refine",
      s"a hot cell must outrank purge: $w4")
  }

  test("maintainCycle: one call appends, tombstones, and applies the watch verdict — ok, refine, and purge each resolve") {
    import spark.implicits._
    def unit(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f).map(_ => rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val corpus = unit(53, 300)
    val dir = java.nio.file.Files.createTempDirectory("ivfcycle")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(corpus), nlist = 8, iters = 2), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cycle 1: organic growth, no removals — ok, nothing applied
    val w1 = IvfIndex.maintainCycle(spark, dir, df(unit(54, 40)),
      removals = None, maxCellRows = 10000, batchId = 0L)
    assert(w1.action === "ok")
    // cycle 2: a saturating batch under a tight cap — refine verdict,
    // APPLIED inline: the cell count must grow within the same call
    val cellsBefore = IvfIndex.load(spark, dir).centroids.count()
    val w2 = IvfIndex.maintainCycle(spark, dir, df(unit(55, 60)),
      removals = None, maxCellRows = 40, batchId = 1L)
    assert(w2.action === "refine")
    assert(IvfIndex.load(spark, dir).centroids.count() > cellsBefore,
      "the refine verdict must be applied inside the cycle")
    // cycle 3: removals land this cycle; the fraction is read by the
    // NEXT cycle's watch (occupancy convention: fire early, never late)
    val w3 = IvfIndex.maintainCycle(spark, dir, df(unit(56, 10)),
      removals = Some(corpus.take(150).map(_._1).toDF("vec_id")),
      maxCellRows = 10000, batchId = 2L)
    assert(w3.action === "ok")
    // cycle 4: purge verdict, applied — tombstone dir gone, membership
    // physically compacted, and the NEXT watch is calm
    val w4 = IvfIndex.maintainCycle(spark, dir, df(unit(57, 10)),
      removals = None, maxCellRows = 10000, batchId = 3L)
    assert(w4.action === "purge", s"expected purge, got $w4")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    val w5 = IvfIndex.maintainCycle(spark, dir, df(unit(58, 10)),
      removals = None, maxCellRows = 10000, batchId = 4L)
    assert(w5.action === "ok")
    assert(w5.tombstoneFrac === 0.0)
    // membership: everything appended minus the 150 evicted
    assert(IvfIndex.load(spark, dir).assignments.count() ===
      (300 + 40 + 60 + 10 + 10 + 10 - 150).toLong)
  }

  test("maintainAppend driftStreak: drift persisting past a hot-celled first reading escalates to retrain; a calm batch resets") {
    import spark.implicits._
    def subUnit(seed: Int, n: Int, lo: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f)
        (lo until lo + 8).foreach(j => v(j) = rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    // BOTH signals at once: a tight blob (saturates one cell) in the
    // ORTHOGONAL subspace (assign cos ~ 0 — drifted)
    def blob(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f)
        v(8) = 1f
        (8 until 16).foreach(j => v(j) = v(j) +
          (rnd.nextGaussian() * 0.05).toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivfstreak")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(subUnit(31, 400, 0)), nlist = 8,
      iters = 2), dir)
    val w0 = IvfIndex.maintainAppend(spark, dir, df(subUnit(32, 50, 0)),
      maxCellRows = 2000)
    assert(w0.action === "ok" && w0.driftStreak === 0L, s"$w0")
    // first hot+drifted reading: hot cells keep priority (a one-batch
    // flood dips the cos too), streak starts
    val w1 = IvfIndex.maintainAppend(spark, dir, df(blob(33, 300)),
      maxCellRows = 100, driftMargin = 0.05)
    assert(w1.action === "refine" && w1.hotCells >= 1L &&
      w1.driftStreak === 1L, s"$w1")
    // drift persists: splitting cannot chase a moved distribution —
    // retrain wins even with hot cells
    val w2 = IvfIndex.maintainAppend(spark, dir, df(blob(34, 300)),
      maxCellRows = 100, driftMargin = 0.05)
    assert(w2.action === "retrain" && w2.driftStreak === 2L, s"$w2")
    // a calm organic batch resets the streak; the still-hot cells go
    // back to refine
    val w3 = IvfIndex.maintainAppend(spark, dir, df(subUnit(35, 50, 0)),
      maxCellRows = 100, driftMargin = 0.05)
    assert(w3.driftStreak === 0L && w3.action === "refine", s"$w3")
  }

  test("maintainAppend ledger: exactly-once under replay and torn-batch retry") {
    import spark.implicits._
    def unit(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f).map(_ =>
          rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivfledger")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(unit(1, 200)), nlist = 8, iters = 1),
      dir)
    def occTotal(): Long = spark.read.parquet(s"$dir/occupancy")
      .agg(sum("cnt")).head().getLong(0)
    def rows(): Long = spark.read.parquet(s"$dir/assignments").count()

    val batch = df(unit(2, 80))
    val w1 = IvfIndex.maintainAppend(spark, dir, batch, maxCellRows = 500,
      batchId = 7L)
    assert(w1.appended === 80L && rows() === 280L && occTotal() === 280L)

    // REPLAY of a committed batch: the ledger skips the mutation —
    // rows, occupancy, and the per-id uniqueness all hold
    val w2 = IvfIndex.maintainAppend(spark, dir, batch, maxCellRows = 500,
      batchId = 7L)
    assert(rows() === 280L && occTotal() === 280L,
      s"replayed batch must not double-insert (${rows()}/${occTotal()})")
    assert(w2.maxCell === w1.maxCell)
    val dup = spark.read.parquet(s"$dir/assignments")
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dup === 0L, "no vec_id may appear twice after a replay")

    // TORN batch: delta file + some assignment files landed, ledger did
    // NOT — the retry wipes the footprint and redoes it exactly once.
    // Stage the window by running batch 8 fully, then deleting its
    // ledger record (the record is written last, so this is the state a
    // crash between the staged moves and the ledger leaves).
    val batch8 = df(unit(3, 60))
    IvfIndex.maintainAppend(spark, dir, batch8, maxCellRows = 500,
      batchId = 8L)
    assert(rows() === 340L && occTotal() === 340L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_maintain_ledger"), false)
    IvfIndex.maintainAppend(spark, dir, batch8, maxCellRows = 500,
      batchId = 8L)
    assert(rows() === 340L && occTotal() === 340L,
      s"torn-batch retry must converge to exactly-once (${rows()}/${occTotal()})")
    assert(spark.read.parquet(s"$dir/assignments")
      .groupBy("vec_id").count().filter(col("count") > 1).count() === 0L)

    // the ledger survives a refine swap (a replay after refine must
    // still skip); the refined index contains every ledgered batch
    IvfIndex.refineInPlace(spark, dir, maxCellRows = 500)
    IvfIndex.maintainAppend(spark, dir, batch8, maxCellRows = 500,
      batchId = 8L)
    assert(rows() === 340L,
      "a ledgered batch replayed after a refine swap must still skip")
  }

  test("maintain lanes: per-feed ledgers are independent; footprints never cross; every lane's ledger survives a swap") {
    import spark.implicits._
    def unit(seed: Int, n: Int): Seq[(Long, Seq[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(16)(0f).map(_ => rnd.nextGaussian().toFloat)
        val nn = math.sqrt(v.map(x => x.toDouble * x).sum).max(1e-9)
        (seed.toLong * 100000 + i, v.map(x => (x / nn).toFloat).toSeq)
      }
    }
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivflane")
      .toString + "/idx"
    IvfIndex.save(IvfIndex.build(df(unit(1, 200)), nlist = 8, iters = 1),
      dir)
    def rows(): Long = spark.read.parquet(s"$dir/assignments").count()
    // the multi-feed shape: feed A (lane "ing") is already at batch 5
    // when feed B (lane "lemb") delivers ITS batch 0 — one max-id
    // ledger would wrongly skip B's batch (5 >= 0, the r19 wiring's
    // motivating defect)
    IvfIndex.maintainAppend(spark, dir, df(unit(2, 40)), 500,
      batchId = 5L, lane = "ing")
    assert(rows() === 240L)
    IvfIndex.maintainAppend(spark, dir, df(unit(3, 30)), 500,
      batchId = 0L, lane = "lemb")
    assert(rows() === 270L,
      "lane lemb batch 0 must apply despite lane ing being at 5")
    // replays skip per lane
    IvfIndex.maintainAppend(spark, dir, df(unit(2, 40)), 500,
      batchId = 5L, lane = "ing")
    IvfIndex.maintainAppend(spark, dir, df(unit(3, 30)), 500,
      batchId = 0L, lane = "lemb")
    assert(rows() === 270L, "per-lane replays must both skip")
    // a torn retry in one lane wipes ONLY its own footprint: delete
    // lane lemb's ledger (crash-before-ledger state) and retry — lane
    // ing's batch-5 rows must survive the wipe
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(
      new org.apache.hadoop.fs.Path(dir, "_maintain_ledger_lemb"), false)
    IvfIndex.maintainAppend(spark, dir, df(unit(3, 30)), 500,
      batchId = 0L, lane = "lemb")
    assert(rows() === 270L,
      "the lemb retry must re-land exactly its own 30 rows")
    assert(spark.read.parquet(s"$dir/assignments")
      .groupBy("vec_id").count().filter(col("count") > 1).count() === 0L)
    // a purge swap carries EVERY lane's ledger — both replays still skip
    IvfIndex.maintainRemove(spark, dir, df(unit(2, 40)).select("vec_id")
      .limit(10))
    IvfIndex.purgeInPlace(spark, dir)
    assert(rows() === 260L)
    IvfIndex.maintainAppend(spark, dir, df(unit(2, 40)), 500,
      batchId = 5L, lane = "ing")
    IvfIndex.maintainAppend(spark, dir, df(unit(3, 30)), 500,
      batchId = 0L, lane = "lemb")
    assert(rows() === 260L,
      "every lane's ledger must survive the purge swap")
    // a lane's ledger torn between its delete and its rename (tmp only)
    // still records the batch: a refine swap carries it, and the replay
    // after the swap skips
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(dir, "_maintain_ledger_lemb"),
      new org.apache.hadoop.fs.Path(dir, "_maintain_ledger_lemb.tmp")))
    IvfIndex.refineInPlace(spark, dir, maxCellRows = 500)
    IvfIndex.maintainAppend(spark, dir, df(unit(3, 30)), 500,
      batchId = 0L, lane = "lemb")
    assert(rows() === 260L,
      "a tmp-only lane ledger must survive the refine swap")
  }
}
