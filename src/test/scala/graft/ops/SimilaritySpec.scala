package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Blocked embedding near-dup: the exact within-block ranking vs the
  * bounded hyperplane-LSH sub-blocked path (the 100 TB mitigation the
  * soak run motivated — in-block pairs grow quadratically with block
  * size, sub-blocking bounds them at a measured recall cost).
  */
class SimilaritySpec extends SparkTestBase {

  /** [[Similarity.embIndexProbe]] from raw 16-dim arrivals: derive the
    * home and probe tables the entry takes precomputed.
    */
  private def probeRaw(dir: String, arrivals: org.apache.spark.sql.DataFrame) =
    Similarity.embIndexProbe(dir,
      Similarity.embBandTable(arrivals, "vec_id", "embedding", dim = 16),
      Similarity.embProbeTable(arrivals, "vec_id", "embedding", dim = 16))
      .pairs

  // synthetic corpus with PLANTED near-dups: per block, `nBase` random
  // unit vectors, each followed by a tiny perturbation of itself
  private def planted(nBlocks: Int, nBase: Int, dim: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def jitter(v: Array[Float]): Array[Float] = {
      val w = v.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(x => (x / n).toFloat)
    }
    val rows = for {
      blk <- 0 until nBlocks
      i <- 0 until nBase
      base = unit()
      (v, j) <- Seq((base, 0), (jitter(base), 1))
    } yield ((blk * nBase + i) * 2L + j, v.toSeq, s"block$blk")
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("bounded sub-blocked ranking recovers planted near-dup pairs") {
    val emb = planted(nBlocks = 4, nBase = 25, dim = 32).cache()
    val k = 10
    val exact = Similarity.topPairsPerBlock(emb, "label", k)
      .select("block", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val bounded = Similarity.topPairsPerBlockBounded(emb, "label", k, bits = 8)
      .select("block", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // planted pairs (2i, 2i+1) are the top-ranked ones; the sub-blocked
    // path must recover the vast majority of the exact top-k
    val recall = exact.count(bounded.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall vs exact ranking was $recall")
    // and every planted pair it does return is genuinely near
    val plantedPairs = (0 until 4 * 25).map(i => (2L * i, 2L * i + 1)).toSet
    val foundPlanted = bounded.count(p => plantedPairs.contains((p._2, p._3)))
    assert(foundPlanted >= 30, s"found only $foundPlanted planted pairs in top-k")
  }

  test("two-stage bucket ranking == one global per-block window (exactness)") {
    import org.apache.spark.sql.expressions.Window
    val emb = planted(nBlocks = 3, nBase = 30, dim = 16).cache()
    val k = 7
    val got = Similarity.topPairsPerBlockBounded(emb, "label", k, bits = 6)
      .orderBy("block", "id_a", "id_b").collect().map(_.toSeq)
    // reference: same candidate set ranked with ONE global block window
    graft.functions.DotProductF.register(spark)
    val sig = Similarity.hyperplaneSig(emb, "embedding", 16, 6)
    val signed = emb.select(col("label").as("block"), col("vec_id"),
      col("embedding"), sig.as("sig"))
    val probes = signed.withColumn("bucket",
      explode(array((col("sig") +: (0 until 6).map(b =>
        col("sig").bitwiseXOR(lit(1L << b)))): _*)))
    val build = signed.select(col("block"), col("sig").as("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairs = probes.join(build, Seq("block", "bucket"))
      .filter(col("vec_id") < col("id_b"))
      .select(col("block"), col("vec_id").as("id_a"), col("id_b"),
        round(call_function("graft_dot_f", col("embedding"), col("emb_b")), 4)
          .as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("block"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    val want = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy("block", "id_a", "id_b").collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq)
  }

  test("candidate generation stays an equi-join on (block, bucket) — no block cross product") {
    val emb = planted(nBlocks = 2, nBase = 20, dim = 16)
    val plan = Similarity.topPairsPerBlockBounded(emb, "label", 5, bits = 6)
      .queryExecution.executedPlan.toString
    // the join keys must include the bucket, not just the block
    assert(plan.contains("bucket"), s"bucket key missing from plan:\n$plan")
  }

  test("embIndexIngest: sharded ingest finds every Hamming<=1 home-sig pair exactly once; pruned read") {
    import spark.implicits._
    // real embeddings, 3-batch sharded feed — the text band index's
    // completeness property, on the vector side
    val emb = graft.Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_idx").toString + "/idx"
    val batches = (0 until 3).map(i =>
      emb.filter(pmod(col("vec_id"), lit(3)) === i))
    val perBatch = batches.map(b =>
      Similarity.embIndexIngest(dir, b, dim = 16)
        .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // full-corpus contract: pairs whose HOME signatures differ in <= 1 bit
    val homes = Similarity.embBandTable(emb, "vec_id", "embedding", dim = 16)
      .collect().map(r => (r.getLong(0), r.getString(1).toLong))
    val full = (for {
      (a, sa) <- homes; (b, sb) <- homes
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 1
    } yield (a, b)).toSet
    assert(full.nonEmpty, "fixture produced no Hamming<=1 pairs — vacuous")
    assert(perBatch.reduce(_ ++ _) === full)
    assert(perBatch.combinations(2).forall { case Seq(x, y) => (x & y).isEmpty },
      "a pair surfaced in two batches")
    // probe-only twin: arrival-restricted contract, nothing appended
    val probeBatch = batches(2)
    val before = spark.read.schema(Dedup.BandIndex.schema).parquet(dir).count()
    val got = probeRaw(dir, probeBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val arrivals = probeBatch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === full.filter { case (a, b) =>
      arrivals.contains(a) || arrivals.contains(b) })
    assert(spark.read.schema(Dedup.BandIndex.schema).parquet(dir).count() === before,
      "probe must not append")
  }

  test("embIndexIngestBounded == exact under a high cap; stars a planted hot bucket with honest accounting") {
    import spark.implicits._
    // high cap on real embeddings: identical pairs to the exact probe
    val emb = graft.Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val history = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val arrivals = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val base = java.nio.file.Files.createTempDirectory("emb_bnd").toString
    val dirA = base + "/a"; val dirB = base + "/b"
    Dedup.BandIndex.append(dirA,
      Similarity.embBandTable(history, "vec_id", "embedding", dim = 16), 16)
    Dedup.BandIndex.append(dirB,
      Similarity.embBandTable(history, "vec_id", "embedding", dim = 16), 16)
    val exact = probeRaw(dirA, arrivals)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val high = Similarity.embIndexIngest(dirB, arrivals, dim = 16,
      maxBucket = 1 << 20)
    assert(high.overflow.isEmpty, "no bucket saturates the high cap")
    val highPairs = high.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && highPairs === exact)

    // planted hot bucket: 30 identical vectors (one home signature),
    // 15 indexed + 15 arriving, cap 8 — star onto the stored rep only
    val same = {
      val v = Array.fill(16)(0.25f)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val hotAll = (0L until 30L).map(i => (i, same))
    val dirC = base + "/c"
    Dedup.BandIndex.append(dirC, Similarity.embBandTable(
      hotAll.filter(_._1 % 2 == 0).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 16), 16)
    val bounded = Similarity.embIndexIngest(dirC,
      hotAll.filter(_._1 % 2 == 1).toDF("vec_id", "embedding"),
      dim = 16, maxBucket = 8)
    val pairs = bounded.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star only: every arrival pairs with rep_all = 0 (stored ⇒ no bridge)
    assert(pairs === (1L until 30L by 2).map(i => (0L, i)).toSet,
      s"hot bucket must emit the arrival star onto vec 0, got $pairs")
    // exact accounting: ONE hot band (the shared home signature);
    // m=30, p=15 probers (all members ⇒ q=15), rep 0 stored ⇒ no rep
    // probe, no bridge: touching = 30·15 − 15 − C(15,2) = 330, emitted 15
    val of = bounded.overflow.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(of.toSeq === Seq((30L, 15L, 15L, 315L)), s"overflow: ${of.toSeq}")
  }

  test("bounded emb ingest keeps hot-bucket connectivity across batches (descending ids exercise the bridge)") {
    import spark.implicits._
    // ids DESCEND across batches: each batch's min is a new overall min,
    // so the star alone would strand earlier members without the
    // (rep_all, rep_stored) bridge — OpsSpec's pin, on the vector side
    val same = {
      val v = Array.tabulate(16)(i => if (i % 2 == 0) 0.3f else -0.1f)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val dir = java.nio.file.Files.createTempDirectory("emb_bnd_cc").toString + "/idx"
    val allPairs = scala.collection.mutable.Set[(Long, Long)]()
    Seq(20L until 30L, 10L until 20L, 0L until 10L).foreach { ids =>
      val b = ids.map(i => (i, same)).toDF("vec_id", "embedding")
      val r = Similarity.embIndexIngest(dir, b, dim = 16, maxBucket = 4)
      allPairs ++= r.pairs.collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(r.overflow.count() > 0, "the hot bucket must saturate")
    }
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    allPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 30L).map(find).toSet.size === 1,
      s"hot bucket fractured; pairs=$allPairs")
    assert(allPairs.size < 60, s"expected linear output, got ${allPairs.size} pairs")
  }

  test("embIndexIngest: an empty arrivals batch with inferred dim is a safe no-op") {
    import spark.implicits._
    // the foreachBatch loop delivers empty micro-batches; dim inference
    // must not throw and the index must be unchanged
    val emb = graft.Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
      .limit(50)
    val dir = java.nio.file.Files.createTempDirectory("emb_empty").toString + "/idx"
    Similarity.embIndexIngest(dir, emb, dim = 16)
    val before = spark.read.schema(Dedup.BandIndex.schema).parquet(dir)
      .collect().map(_.toSeq).toSet
    val empty = emb.filter(lit(false))
    assert(Similarity.embIndexIngest(dir, empty).pairs.count() === 0)
    assert(Similarity.embIndexIngest(dir, empty, maxBucket = 1024)
      .pairs.count() === 0)
    assert(spark.read.schema(Dedup.BandIndex.schema).parquet(dir)
      .collect().map(_.toSeq).toSet === before, "empty ingest must not mutate")
  }

  test("embIndexIngest: a null embedding row crashes neither dim inference nor the batch") {
    import spark.implicits._
    // size(null) is null; a head-probe that reads it as Int would NPE and
    // kill the whole ingest batch on one adversarial row (r14 ADVICE) —
    // dim must infer from the first NON-null row
    val v = Array.fill(16)(0.25f)
    val arrivals = Seq((1L, null.asInstanceOf[Array[Float]]), (2L, v), (3L, v))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_null").toString + "/idx"
    val pairs = Similarity.embIndexIngest(dir, arrivals) // dim inferred
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 3L)),
      s"identical vectors must still pair under inferred dim: $pairs")
    // an ALL-null batch is the empty-batch shape: safe no-op probe
    val allNull = Seq((9L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    Similarity.embIndexIngest(dir, allNull)
  }

  test("sizeBands: codifies the SCALE.md bits/families rule — analytic recall matches the measured table, occupancy forces the family escalation") {
    import spark.implicits._
    // analytic Hamming≤1 recall vs the measured EmbRecallProbe cells
    // (SCALE.md r14 table; the model matched to ~1%, pin at 2%)
    Seq((0.032, 8, 0.996), (0.097, 16, 0.920), (0.097, 32, 0.736),
      (0.253, 12, 0.740), (0.253, 32, 0.259)).foreach {
      case (angle, bits, measured) =>
        assert(math.abs(Similarity.hammingLe1Recall(bits, angle) - measured)
          < 0.02, s"bits=$bits angle=$angle")
    }
    // planted clustered sample: 200 clusters × 10 near-twins — the
    // cluster floor the occupancy estimate must detect
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(32)(rnd.nextGaussian())
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nn).toFloat)
    }
    val rows = (0 until 200).flatMap { c =>
      val base = unit()
      (0 until 10).map(j => (c * 10L + j,
        base.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat).toSeq))
    }
    val sample = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // a tiny corpus is served by ONE family at the recall-optimal bits
    assert(Similarity.sizeBands(sample, 0.99, 0.097, 1000L) === (5, 1))
    // a 200k corpus at maxAvgOccupancy 64 forces bits=12; the lost
    // recall (0.949 per family) is bought back with F=2 (0.997)
    assert(Similarity.sizeBands(sample, 0.99, 0.097, 200000L) === (12, 2))
    // the SCALE.md production point: occupancy forces bits=32; at the
    // 0.13-rad production angle F=4 restores ≥0.97 (the measured 0.978
    // through-the-index row)
    assert(Similarity.sizeBands(sample, 0.97, 0.13, 200000000000L)
      === (32, 4))
    // an impossible ask fails loudly, not silently under-recall
    intercept[IllegalArgumentException] {
      Similarity.sizeBands(sample, 0.999, 1.5, 200000000000L)
    }
  }

  test("semanticDedup: planted clusters keep exactly one canonical; dup-free input is identity; cell equi-join") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0 until 10).map(i => (i * 100L, unit()))
    val planted = bases.flatMap { case (id, v) =>
      (0 until 5).map { j =>
        val w = if (j == 0) v else v.map(x =>
          x + (rnd.nextGaussian() * 0.005).toFloat)
        val n = math.sqrt(w.map(x => x * x).sum)
        (id + j, w.map(x => (x / n).toFloat))
      }
    }
    // nlist=1: one cell, so the within-cell compare is the full pairwise
    // pass — every planted cluster collapses to its min id exactly
    val one = Similarity.semanticDedup(
        planted.toDF("vec_id", "embedding"), nlist = 1, minCos = 0.99)
      .select("vec_id", "canonical", "is_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(one.length === 50)
    assert(one.forall { case (id, canon, _) => canon === (id / 100) * 100 },
      s"wrong canonicals: ${one.filterNot { case (id, c, _) => c == (id / 100) * 100 }.toSeq}")
    assert(one.count(_._3 == 0) === 10 && one.count(_._3 == 1) === 40)

    // nlist=8: cells can legitimately CUT a planted cluster (the
    // method's documented boundary artifact), so pin the exact contract
    // against a driver reference built from the output's own cells +
    // driver-side cosines + union-find
    val out = Similarity.semanticDedup(
      planted.toDF("vec_id", "embedding"), nlist = 8, minCos = 0.99)
    val rows = out.select("vec_id", "cell", "canonical", "is_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    val vecOf = planted.toMap
    def cos(a: Long, b: Long): Double =
      vecOf(a).zip(vecOf(b)).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val ids = planted.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- ids; b <- ids if a < b)
      if (cellOf(a) == cellOf(b) && cos(a, b) >= 0.99) parent(find(a)) = find(b)
    val canonRef = ids.map(i => i -> ids.filter(j => find(j) == find(i)).min).toMap
    assert(rows.forall { case (id, _, canon, dup) =>
      canon == canonRef(id) && dup == (if (canon == id) 0 else 1) },
      s"contract mismatch: ${rows.filterNot { case (id, _, c, _) => c == canonRef(id) }.toSeq}")
    // groups never mix planted families (random unit vectors cannot
    // reach cos 0.99), and every family keeps at least one vector
    assert(rows.forall { case (id, _, canon, _) => canon / 100 == id / 100 })
    assert((0 until 10).forall(f => rows.exists { case (id, _, _, dup) =>
      id / 100 == f && dup == 0 }))

    // dup-free input: every vector is its own canonical
    val solo = Similarity.semanticDedup(
      bases.toDF("vec_id", "embedding"), nlist = 4, minCos = 0.99)
    assert(solo.filter(col("is_dup") =!= 0).count() === 0)
    // the pairwise stage is the cell equi-join, never a cross product
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("families=2: sharded ingest finds exactly the any-family Hamming<=1 pairs, each once; f=1 format unchanged") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    // back-compat: one family emits the raw decimal signature (the
    // on-disk format existing indexes hold)
    assert(Similarity.embBandTable(emb, "vec_id", "embedding", dim = 16)
      .filter(col("band").contains(":")).count() === 0)
    val dir = java.nio.file.Files.createTempDirectory("emb_fam").toString + "/idx"
    val perBatch = (0 until 3).map(i =>
      Similarity.embIndexIngest(dir,
          emb.filter(pmod(col("vec_id"), lit(3)) === i), dim = 16, families = 2)
        .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // expected: pairs within Hamming<=1 in ANY family, derived from the
    // band table's own f:sig strings
    val sigs = Similarity.embBandTable(emb, "vec_id", "embedding",
        dim = 16, families = 2)
      .collect().map { r =>
        val Array(f, s) = r.getString(1).split(":")
        ((r.getLong(0), f.toInt), s.toLong)
      }.toMap
    val ids = sigs.keys.map(_._1).toSeq.distinct.sorted
    val full = (for {
      a <- ids; b <- ids if a < b
      if (0 until 2).exists(f =>
        java.lang.Long.bitCount(sigs((a, f)) ^ sigs((b, f))) <= 1)
    } yield (a, b)).toSet
    val single = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigs((a, 0)) ^ sigs((b, 0))) <= 1
    } yield (a, b)).toSet
    assert(full.size > single.size,
      "fixture vacuous: family 1 adds no pairs over family 0")
    assert(perBatch.reduce(_ ++ _) === full)
    assert(perBatch.combinations(2).forall { case Seq(x, y) => (x & y).isEmpty },
      "a pair surfaced in two batches")
  }

  test("families=4 OR-amplification recovers planted twins a single family misses") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0L until 60L).map(i => (i, unit()))
    val twins = bases.map { case (i, v) =>
      val w = v.map(x => x + (rnd.nextGaussian() * 0.035).toFloat)
      val n = math.sqrt(w.map(x => x * x).sum)
      (i + 1000L, w.map(x => (x / n).toFloat))
    }
    val base = java.nio.file.Files.createTempDirectory("emb_fam4").toString
    def recovered(families: Int): Set[Long] = {
      val d = s"$base/f$families"
      Similarity.embIndexIngest(d, bases.toDF("vec_id", "embedding"),
        dim = dim, bits = 32, families = families)
        .pairs.write.format("noop").mode("overwrite").save()
      Similarity.embIndexIngest(d, twins.toDF("vec_id", "embedding"),
          dim = dim, bits = 32, families = families)
        .pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .collect { case (a, b) if b == a + 1000L => a }.toSet
    }
    val one = recovered(1)
    val four = recovered(4)
    // the single-family contract is family 0 of the multi index, so the
    // multi recovery is a superset BY CONSTRUCTION; the fixture is sized
    // (bits=32, ~0.05 rad twins) so family 0 misses some and the OR of
    // four families catches strictly more
    assert(one.size < 60, "fixture vacuous: single family catches everything")
    assert(one.subsetOf(four), s"multi lost single-family pairs: ${one -- four}")
    assert(four.size > one.size,
      s"OR-amplification added nothing (single=${one.size}, four=${four.size})")
  }

  test("bandIndexCompact on an embedding index: probe-identical, per-batch files fold") {
    import spark.implicits._
    // the shared compactor IS the emb index's maintenance step — pin it
    // on an index built through the precomputed surface
    val emb = graft.Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_cmp").toString + "/idx"
    (0 until 4).foreach { i =>
      Similarity.embIndexIngest(dir,
        emb.filter(pmod(col("vec_id"), lit(4)) === i), dim = 16)
        .pairs.write.format("noop").mode("overwrite").save()
    }
    def files(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    val probe = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    val before = probeRaw(dir, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nBefore = files()
    Dedup.BandIndex.compact(spark, dir)
    assert(files() < nBefore, s"compaction must fold files ($nBefore -> ${files()})")
    val after = probeRaw(dir, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty && after === before, "compaction changed the candidate set")
  }

  test("embIndexIngest recovers planted near-identical vectors across batches") {
    import spark.implicits._
    // a jittered twin of a batch-1 vector arriving in batch 2 must be
    // flagged against the INDEXED original (the serving use case)
    val dim = 16
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0L until 40L).map(i => (i, unit()))
    val twins = bases.take(20).map { case (i, v) =>
      val w = v.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
      val n = math.sqrt(w.map(x => x * x).sum)
      (i + 1000L, w.map(x => (x / n).toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("emb_twin").toString + "/idx"
    Similarity.embIndexIngest(dir, bases.toDF("vec_id", "embedding"), dim = dim)
    val got = Similarity.embIndexIngest(dir, twins.toDF("vec_id", "embedding"), dim = dim)
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = (0L until 20L).count(i => got.contains((i, i + 1000L)))
    assert(recovered >= 14,
      s"multi-probe should catch most planted twins, got $recovered/20")
  }

  test("semanticDedup KeepFarFromCentroid: keeper is the member farthest from the centroid (driver reference); groups identical to KeepMinId") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0 until 10).map(i => (i * 100L, unit()))
    val plantedRows = bases.flatMap { case (id, v) =>
      (0 until 5).map { j =>
        val w = if (j == 0) v else v.map(x =>
          x + (rnd.nextGaussian() * 0.005).toFloat)
        val n = math.sqrt(w.map(x => x * x).sum)
        (id + j, w.map(x => (x / n).toFloat))
      }
    }
    val df = plantedRows.toDF("vec_id", "embedding")
    // nlist=1: one cell, centroid = elementwise mean of ALL vectors (the
    // corpus is far under maxTrainRows, so the Lloyd mean runs over every
    // row) — the driver reference is computable exactly
    val minId = Similarity.semanticDedup(df, nlist = 1, minCos = 0.99)
      .select("vec_id", "canonical").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val far = Similarity.semanticDedup(df, nlist = 1, minCos = 0.99,
        keeper = Similarity.KeepFarFromCentroid)
      .select("vec_id", "canonical", "is_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val farCanon = far.map(r => (r._1, r._2)).toMap
    // identical partition into groups under both rules
    val groupsMin = minId.groupBy(_._2).values.map(_.keys.toSet).toSet
    val groupsFar = farCanon.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groupsFar === groupsMin, "keeper rule must not change the groups")
    // driver reference: centroid = mean of all vectors; keeper per group
    // = argmin cosine-to-centroid (unit inputs: ordering by dot), ties by
    // min id. Jitter-scale dot gaps (~1e-3) dwarf float-vs-double mean
    // error (~1e-7), so the argmin is not knife-edged.
    val mean = Array.tabulate(dim)(d =>
      plantedRows.map(_._2(d).toDouble).sum / plantedRows.size)
    val vecOf = plantedRows.toMap
    def dotMean(id: Long): Double =
      vecOf(id).zipWithIndex.map { case (x, d) => x.toDouble * mean(d) }.sum
    groupsMin.foreach { members =>
      val expect = members.toSeq.sortBy(id => (dotMean(id), id)).head
      val got = farCanon(members.head)
      assert(members.forall(farCanon(_) === expect),
        s"group $members kept $got, expected farthest-from-centroid $expect")
    }
    // exactly one keeper per group, and it is a member
    assert(far.count(_._3 == 0) === groupsMin.size)
    assert(far.forall { case (id, canon, dup) =>
      (dup == 0) == (id == canon) })
  }

  test("semanticDedup via the coarse assign route == flat at wProbe=nCoarse (production-nlist composition)") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(5)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val planted = (0 until 12).flatMap { i =>
      val base = unit()
      (0 until 4).map { j =>
        val w = if (j == 0) base else base.map(x =>
          x + (rnd.nextGaussian() * 0.005).toFloat)
        val n = math.sqrt(w.map(x => x * x).sum)
        (i * 100L + j, w.map(x => (x / n).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val flat = Similarity.semanticDedup(planted, nlist = 6, minCos = 0.99)
      .collect().map(_.toSeq).toSet
    val coarse = Similarity.semanticDedup(planted, nlist = 6, minCos = 0.99,
        route = IvfIndex.CoarseAssign(nCoarse = 3, wProbe = 3))
      .collect().map(_.toSeq).toSet
    assert(coarse === flat,
      "coarse route at wProbe=nCoarse must reproduce the flat dedup exactly")
  }

  test("semanticDedupBounded: cold path == exact; hot cells routed through sub-blocking match the Hamming<=1 driver reference and are reported") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(13)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // no hot cells: bounded must be byte-identical to the exact form
    val bases = (0 until 8).map(i => (i * 100L, unit()))
    val small = bases.flatMap { case (id, v) =>
      (0 until 4).map { j =>
        val w = if (j == 0) v else v.map(x =>
          x + (rnd.nextGaussian() * 0.005).toFloat)
        val n = math.sqrt(w.map(x => x * x).sum)
        (id + j, w.map(x => (x / n).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val exact = Similarity.semanticDedup(small, nlist = 4, minCos = 0.99)
      .collect().map(_.toSeq).toSet
    val cold = Similarity.semanticDedupBounded(small, nlist = 4,
      minCos = 0.99, maxCell = 1000, dim = dim)
    assert(cold.result.collect().map(_.toSeq).toSet === exact,
      "with no hot cells the bounded form must equal the exact form")
    assert(cold.routedCells.count() === 0)

    // adversarial giant cell: one mega-cluster is most of the corpus —
    // no nlist fixes it (its cell always exceeds any per-cell budget)
    val mega = unit()
    val megaRows = (0 until 120).map { j =>
      val w = if (j == 0) mega else mega.map(x =>
        x + (rnd.nextGaussian() * 0.003).toFloat)
      val n = math.sqrt(w.map(x => x * x).sum)
      (j.toLong, w.map(x => (x / n).toFloat))
    }
    val spread = (0 until 30).map(i => (1000L + i, unit()))
    val adv = (megaRows ++ spread).toDF("vec_id", "embedding")
    val bits = 8
    // maxCell = 25 < 150/nlist: a hot cell is pigeonhole-guaranteed even
    // if k-means splits the mega-cluster across every cell
    val got = Similarity.semanticDedupBounded(adv, nlist = 4,
      minCos = 0.99, maxCell = 25, bits = bits, dim = dim)
    val rows = got.result.select("vec_id", "cell", "canonical").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    val hotCells = cellOf.values.groupBy(identity).view
      .mapValues(_.size).filter(_._2 > 25).keys.toSet
    assert(hotCells.nonEmpty, "the mega-cluster must saturate a cell")
    // the report lists exactly the routed cells with their true sizes
    val reported = got.routedCells
      .select("cell", "n_rows", "n_buckets", "max_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reported.map(_._1).toSet === hotCells)
    reported.foreach { case (c, n, nb, mb) =>
      assert(n === cellOf.values.count(_ == c).toLong)
      assert(nb >= 1 && mb <= n && mb >= (n + nb - 1) / nb)
    }
    // exact contract vs driver reference: pairs connect iff same cell,
    // cos >= minCos, and (hot cell only) home signatures within Hamming 1
    val vecOf2 = (megaRows ++ spread).toMap
    val sigOf = adv.withColumn("sig",
        Similarity.hyperplaneSig(adv, "embedding", dim, bits))
      .select("vec_id", "sig").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def cos(a: Long, b: Long): Double =
      vecOf2(a).zip(vecOf2(b)).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val ids = vecOf2.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- ids; b <- ids if a < b)
      if (cellOf(a) == cellOf(b) && cos(a, b) >= 0.99 &&
          (!hotCells.contains(cellOf(a)) ||
            java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)) <= 1))
        parent(find(a)) = find(b)
    val canonRef = ids.map(i => i -> ids.filter(j => find(j) == find(i)).min).toMap
    assert(rows.forall { case (id, _, canon) => canon == canonRef(id) },
      s"bounded contract mismatch: ${rows.filterNot { case (id, _, c) =>
        c == canonRef(id) }.take(5).toSeq}")
    // non-vacuous: the hot path found genuinely-near pairs (the mega
    // cluster collapses within each of its cell fragments)
    val megaKeepers = rows.filter(_._1 < 1000L)
      .count { case (id, _, canon) => id == canon }
    val megaCells = megaRows.map(r => cellOf(r._1)).distinct.size
    assert(megaKeepers <= megaCells * 2,
      s"mega cluster fractured: $megaKeepers keepers over $megaCells cells")
    val plan = got.result.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }
}
