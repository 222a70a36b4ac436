package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Operator-level specs (SURVEY §5.2.3): binned joins vs naive oracles,
  * dedup idempotence, deterministic hashing, session/as-of invariants.
  */
class OpsSpec extends SparkTestBase {

  test("bandPairs == naive O(n²) pairs on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val df = (0 until 400).map(i => (i.toLong, rnd.nextDouble() * 50)).toDF("id", "v")
    val eps = 0.7
    val binned = Dedup.bandPairs(df, "id", "v", eps)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = df.select($"id".as("id_a"), $"v".as("v_a"))
    val b = df.select($"id".as("id_b"), $"v".as("v_b"))
    val naive = a.crossJoin(b)
      .filter($"id_a" < $"id_b" && abs($"v_a" - $"v_b") < eps)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(binned.toSeq === naive.toSeq)
    assert(naive.nonEmpty) // the fixture actually exercises the band
  }

  test("exactDedupByKey is idempotent and keeps the min id") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 10.0), (3L, 20.0), (4L, 10.0)).toDF("id", "v")
    val d1 = Dedup.exactDedupByKey(df, col("v"), col("id"))
    assert(d1.count() === 2)
    assert(d1.filter(col("dedup_key") === 10.0).head().getLong(1) === 1L)
    val d2 = Dedup.exactDedupByKey(
      d1.select(col("keep_id").as("id"), col("dedup_key").as("v")), col("v"), col("id"))
    assert(d2.count() === 2) // dedup of deduped output changes nothing
  }

  test("minhash signatures are deterministic; identical docs collide on every band") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "a completely different sentence about spark engines here"))
      .toDF("doc_id", "text")
    val sig1 = Dedup.minhashSignatures(docs, "doc_id", "text").orderBy("doc_id").collect()
    val sig2 = Dedup.minhashSignatures(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(sig1.map(_.toSeq).toSeq === sig2.map(_.toSeq).toSeq) // deterministic
    assert(sig1(0).toSeq.drop(1) === sig1(1).toSeq.drop(1))     // dups share sig
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("lshIncrementalCandidates == full-corpus pairs restricted to arrival-touching pairs") {
    // the incremental contract on REAL documents: splitting the corpus
    // into indexed history and an arriving batch, the one-sided join must
    // reproduce exactly the arrival-touching subset of the full
    // self-join — no pair lost (a new doc matching old history), no
    // old↔old pair resurfacing, new↔new pairs found once
    val docs = Tables.documents(spark, Sf0001)
    val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val got = Dedup.lshIncrementalCandidates(
        Dedup.lshBandTable(history, "doc_id", "text"),
        Dedup.lshBandTable(arrivals, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }
    assert(want.nonEmpty, "fixture produced no arrival-touching pairs — vacuous")
    assert(got === want)
    assert(got.forall { case (a, b) => a < b })
  }

  test("bandIndexIngest: 3-batch sharded ingest finds every full-corpus pair exactly once") {
    // each pair must surface in exactly one batch — the one its later
    // member arrives in — so the union of per-batch candidates equals the
    // full self-join's pairs, with no batch re-finding another's pair
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("band_ingest").toString + "/idx"
    val batches = (0 until 3).map(i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i))
    val perBatch = batches.map(b =>
      Dedup.bandIndexIngest(dir, b, "doc_id", "text")
        .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val full = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty, "fixture produced no pairs — vacuous")
    assert(perBatch.reduce(_ ++ _) === full)
    // exactly once: batches are pairwise disjoint on pairs
    assert(perBatch.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
  }

  test("bandIndexCompact coalesces files, preserves candidates, and recovers a mid-swap crash") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("band_compact").toString + "/idx"
    // three ingests -> >= 3 small file groups in the index
    (0 until 3).foreach(i =>
      Dedup.bandIndexIngest(dir, docs.filter(pmod(col("doc_id"), lit(4)) === i),
        "doc_id", "text").pairs.collect())
    // r14 bucketed layout: data files live under bkt= partition dirs
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    def dataFiles() = walk(new java.io.File(dir))
    def bktDirs() = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bkt="))
    val before = dataFiles()
    assert(before >= 3, s"expected one file group per ingest, saw $before")
    // candidates of the NEXT batch must be identical before/after compact
    val batch4 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
    def probe() = Dedup.bandIndexProbe(dir, batch4, "doc_id", "text")
      ._1.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = probe()
    assert(wantPairs.nonEmpty, "fixture produced no candidates — vacuous")
    Dedup.BandIndex.compact(spark, dir)
    assert(dataFiles() === bktDirs(),
      "compact must coalesce to one file per non-empty bucket")
    assert(dataFiles() <= before, "compact must not grow the file count")
    assert(probe() === wantPairs, "compact changed the candidate set")
    // crash between rename(path->aside) and rename(tmp->path): the live
    // dir is GONE, the complete tmp and the aside both exist — the next
    // ingest must heal (promote tmp, drop aside) and serve correctly
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".aside"))
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir + ".aside"), fs,
      new org.apache.hadoop.fs.Path(dir + ".tmp"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    val healedPairs = Dedup.bandIndexIngest(dir, batch4, "doc_id", "text")
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(healedPairs === wantPairs, "post-crash ingest lost index history")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".aside")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".tmp")))
  }

  test("bandIndexProbe prunes the stored read to the batch's touched buckets (static partition filter)") {
    // the r14 bucketed layout's point: a probe against a 100 TB index
    // must list/read only the band buckets the batch can collide in —
    // planning-time directory pruning, same discipline as the IVF
    // cell-partitioned inverted file
    val docs = Tables.documents(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("band_prune").toString + "/idx"
    (0 until 2).foreach(i =>
      Dedup.bandIndexIngest(dir, docs.filter(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text").pairs.collect())
    // a SMALL batch — a realistic micro-ingest touches a sliver of the
    // bucket space; that sliver is exactly what the probe may read
    val batch = docs.filter(pmod(col("doc_id"), lit(211)) === 5)
    // expected touched buckets, derived through the same contract hash
    val touched = Dedup.lshBandTable(batch, "doc_id", "text")
      .select(pmod(xxhash64(col("band")), lit(16L)).cast("int").as("bkt"))
      .distinct().collect().map(_.getInt(0)).toSet
    val existing = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .map(_.getName.stripPrefix("bkt=").toInt).toSet
    val expectedDirs = (touched & existing).size
    assert(expectedDirs > 0 && existing.size > expectedDirs,
      s"fixture vacuous: touched=$expectedDirs of ${existing.size} buckets")
    val probe = Dedup.bandIndexProbe(dir, batch, "doc_id", "text")._1.pairs
    val plan = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("band_prune")) => s
    }
    assert(scans.nonEmpty, s"no index scan found in:\n$plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("bkt") && f.toString.contains("IN")),
      s"touched buckets must be a static partition filter, got ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount === expectedDirs,
      s"probe must scan only the $expectedDirs touched buckets of " +
        s"${existing.size}, scanned ${scan.selectedPartitions.partitionCount}")
    // and pruning loses nothing: pruned probe == probe over the full read
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshIncrementalCandidates(
        spark.read.schema(Dedup.BandIndex.schema).parquet(dir).select("doc_id", "band"),
        Dedup.lshBandTable(batch, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got === full)
  }

  test("lshIncrementalCandidatesBounded == exact when no band saturates; star-caps hot bands with honest accounting") {
    import spark.implicits._
    // high cap on real docs: identical to the exact form, empty overflow
    val docs = Tables.documents(spark, Sf0001)
    val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val sb = Dedup.lshBandTable(history, "doc_id", "text")
    val nb = Dedup.lshBandTable(arrivals, "doc_id", "text")
    val exact = Dedup.lshIncrementalCandidates(sb, nb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val high = Dedup.lshIncrementalCandidatesBounded(sb, nb, maxBucket = 1 << 20)
    assert(high.overflow.isEmpty, "no band saturates the high cap")
    val highPairs = high.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && highPairs === exact)

    // planted hot bucket: 30 copies of one text (15 stored, 15 new) plus
    // cold near-dup pairs that must keep the exact path
    val spam = "buy cheap widgets now best price free shipping today only"
    val hotDocs = (0 until 30).map(i => (i.toLong, spam))
    val coldDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown fox jumps over the lazy dog"))
    val all2 = (hotDocs ++ coldDocs).toDF("doc_id", "text")
    val stored2 = Dedup.lshBandTable(
      all2.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val new2 = Dedup.lshBandTable(
      all2.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val bounded = Dedup.lshIncrementalCandidatesBounded(stored2, new2, maxBucket = 8)
    val pairs = bounded.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cold pair survives exactly
    assert(pairs.contains((100L, 101L)))
    // hot bucket: star only — every arrival pairs with rep_all = 0, and
    // output is linear (15 arrivals, rep stored ⇒ no bridge), not C(30,2)
    val hotPairs = pairs.filter { case (a, b) => a < 100 && b < 100 }
    assert(hotPairs === (1 until 30 by 2).map(i => (0L, i.toLong)).toSet,
      s"hot bucket must emit the arrival star onto doc 0, got $hotPairs")
    // overflow accounting: both bands of the spam sig saturate identically
    val of = bounded.overflow.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(of.nonEmpty && of.forall(_ == (30L, 15L, 15L,
      // arrival-touching = C(30,2) - C(15,2) = 435 - 105 = 330; emitted 15
      330L - 15L)), s"overflow rows: ${of.toSeq}")
  }

  test("bounded ingest keeps hot-bucket connectivity across batches (descending ids exercise the bridge)") {
    import spark.implicits._
    // ids DESCEND across batches, so each batch's arrivals contain a new
    // overall min — the star alone would strand earlier members without
    // the (rep_all, rep_stored) bridge
    val spam = "limited offer click here to claim your exclusive reward now"
    val dir = java.nio.file.Files.createTempDirectory("band_bounded").toString + "/idx"
    val batches = Seq(
      (20L until 30L), (10L until 20L), (0L until 10L))
    val allPairs = scala.collection.mutable.Set[(Long, Long)]()
    batches.foreach { ids =>
      val b = ids.map(i => (i, spam)).toDF("doc_id", "text")
      val r = Dedup.bandIndexIngest(dir, b, "doc_id", "text", maxBucket = 4)
      allPairs ++= r.pairs.collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(r.overflow.count() > 0, "the spam bucket must saturate")
    }
    // union-find over the emitted pairs: all 30 copies one component
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    allPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val roots = (0L until 30L).map(find).toSet
    assert(roots.size === 1,
      s"hot bucket fractured into ${roots.size} components; pairs=$allPairs")
    // and the output stayed linear: far fewer than C(30,2)=435 pairs
    assert(allPairs.size < 60, s"expected linear output, got ${allPairs.size} pairs")
  }

  test("layout guards: legacy flat index refused then migrated; bucket-count mismatch refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different sentence about spark engines here"))
      .toDF("doc_id", "text")
    // a pre-r14 FLAT index: band rows written directly at the path
    val dir = java.nio.file.Files.createTempDirectory("band_legacy").toString + "/idx"
    Dedup.lshBandTable(docs.filter(col("doc_id") =!= 2L), "doc_id", "text")
      .write.parquet(dir)
    val probe2 = docs.filter(col("doc_id") === 2L)
    // the bucketed reader would silently return ZERO stored rows on this
    // layout — it must refuse instead (r14 review #1)
    val e1 = intercept[IllegalStateException] {
      Dedup.bandIndexProbe(dir, probe2, "doc_id", "text") }
    assert(e1.getMessage.contains("BandIndex.migrate"))
    intercept[IllegalStateException] { Dedup.BandIndex.compact(spark, dir) }
    // migration rewrites into the bucketed layout; the probe then finds
    // the cross-batch duplicate it would have silently lost
    Dedup.BandIndex.migrate(spark, dir, 16)
    val got = Dedup.bandIndexProbe(dir, probe2, "doc_id", "text")
      ._1.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)), s"post-migration probe lost pairs: $got")
    // bucket count is frozen at creation: a mismatched caller fails loudly
    // instead of pruning away colliding directories (r14 review #4)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.bandIndexProbe(dir, probe2, "doc_id", "text", buckets = 32) }
    assert(e2.getMessage.contains("frozen"))
    intercept[IllegalArgumentException] {
      Dedup.bandIndexIngest(dir, probe2, "doc_id", "text", buckets = 8) }
    // compact preserves the stamped layout across the staged swap
    Dedup.BandIndex.compact(spark, dir)
    assert(Dedup.bandIndexProbe(dir, probe2, "doc_id", "text")
      ._1.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("stamp-ahead: sidecar lands BEFORE the first append, so a crash between them is benign") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("band_ahead").toString + "/idx"
    // simulate the r14-ADVICE crash window: the ingest stamped the layout
    // and died before appending any data — a sidecar-only directory
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketedStore.stamp(fs, dir, 16)
    // it reads as an EMPTY index (not a legacy-flat refusal): the probe
    // still finds the within-batch pair and the bucket count is frozen
    assert(Dedup.bandIndexProbe(dir, docs, "doc_id", "text")
      ._1.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.bandIndexIngest(dir, docs, "doc_id", "text", buckets = 8) }
    // a real ingest then proceeds under the stamped count
    Dedup.bandIndexIngest(dir, docs.filter(col("doc_id") === 1L), "doc_id", "text")
    assert(Dedup.bandIndexProbe(dir, docs.filter(col("doc_id") === 2L),
        "doc_id", "text")
      ._1.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("lshCandidatePairsBounded: one-shot form == exact pairs under a high cap; stars a planted bucket") {
    import spark.implicits._
    // the one-shot form: the symmetric route with an EMPTY stored side,
    // so every doc is an arrival
    def oneShot(d: org.apache.spark.sql.DataFrame, maxBucket: Int) =
      Dedup.symmetricCandidates(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Dedup.BandIndex.dataSchema),
        Dedup.ingestBands(d, "doc_id", "text"),
        maxBucket)
    val docs = Tables.documents(spark, Sf0001)
    val exact = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val high = oneShot(docs, maxBucket = 1 << 20)
    assert(high.overflow.isEmpty)
    assert(exact.nonEmpty &&
      high.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === exact)
    // planted hot bucket: 20 identical docs, cap 8 — star onto doc 0
    val spam = (0 until 20).map(i =>
      (i.toLong, "same spam text repeated for every single document here"))
      .toDF("doc_id", "text")
    val capped = oneShot(spam, maxBucket = 8)
    val pairs = capped.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (1 until 20).map(i => (0L, i.toLong)).toSet,
      s"expected the star onto doc 0, got $pairs")
    assert(capped.overflow.count() > 0)
  }

  test("bounded occupancy counts DISTINCT members: replayed duplicate band rows cannot flip a band hot") {
    import spark.implicits._
    // 4 distinct docs in one band, every stored row tripled (an
    // at-least-once replay): row count 9 > maxBucket=5 but distinct
    // members 4 <= 5 — the band must stay on the EXACT path
    val text = "the quick brown fox jumps over the lazy dog"
    val stored = Dedup.lshBandTable(
      Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text"),
      "doc_id", "text")
    val storedDup = stored.unionByName(stored).unionByName(stored)
    val nb = Dedup.lshBandTable(Seq((4L, text)).toDF("doc_id", "text"),
      "doc_id", "text")
    val r = Dedup.lshIncrementalCandidatesBounded(storedDup, nb, maxBucket = 5)
    assert(r.overflow.isEmpty,
      "duplicate rows must not inflate occupancy past the cap")
    val pairs = r.pairs.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs === Set((1L, 4L), (2L, 4L), (3L, 4L)))
  }

  test("bandIndexIngest survives an empty first batch (no poisoned index dir)") {
    import spark.implicits._
    // every doc under shingleN tokens -> zero band rows; the append still
    // creates the directory (with no data files), and the NEXT ingest
    // must read it as empty instead of dying on schema inference
    // (r13 review find — explicit-schema read)
    val dir = java.nio.file.Files.createTempDirectory("band_empty").toString + "/idx"
    val shorts = Seq((1L, "too short"), (2L, "tiny")).toDF("doc_id", "text")
    val first = Dedup.bandIndexIngest(dir, shorts, "doc_id", "text").pairs.collect()
    assert(first.isEmpty)
    val real = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val second = Dedup.bandIndexIngest(dir, real, "doc_id", "text")
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(second === Set((10L, 11L)), s"got $second")
  }

  test("lshBandTableLocal == grouped lshBandTable on real docs (both hash families)") {
    // the row-local (zero-shuffle, stream-safe) derivation must produce
    // the exact same (doc_id, band) rows as the explode→groupBy form —
    // multiset min == set min per component, same tokenize/filter rules
    val docs = Tables.documents(spark, Sf0001)
    for ((nb, rpb) <- Seq((2, 2), (4, 2))) { // md5-chunk family; xxhash64 family
      val grouped = Dedup.lshBandTable(docs, "doc_id", "text", nb, rpb)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val local = Dedup.lshBandTableLocal(docs, "doc_id", "text", nb, rpb)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(grouped.nonEmpty, "fixture produced no bands — vacuous")
      assert(local === grouped, s"banding ${nb}x$rpb diverged")
    }
  }

  test("LSH recall on planted near-dups rises with band count") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("ice", "grain", "columnar", "spark", "shuffle", "mesh",
      "lattice", "bond", "force", "strain", "voronoi", "facet", "node", "cell",
      "probe", "centroid", "minhash", "band", "corpus", "dedup", "quantile",
      "window", "stream", "batch", "engine", "plan", "join", "scan", "sort", "agg")
    def doc(): Seq[String] = Seq.fill(24)(vocab(rnd.nextInt(vocab.size)))
    // 40 planted pairs: (2k, base) and (2k+1, base with one token changed) —
    // high but not perfect Jaccard — plus 40 unrelated decoys
    val rows = (0 until 40).flatMap { k =>
      val base = doc()
      val near = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
      Seq((2L * k, base.mkString(" ")), (2L * k + 1, near.mkString(" ")))
    } ++ (0 until 40).map(k => (1000L + k, doc().mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val planted = (0 until 40).map(k => (2L * k, 2L * k + 1)).toSet
    def recall(numBands: Int, rowsPerBand: Int): Double = {
      val got = Dedup.lshCandidatePairs(docs, "doc_id", "text", numBands, rowsPerBand)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      planted.count(got.contains).toDouble / planted.size
    }
    val r1 = recall(1, 2)   // md5-chunk family
    val r4 = recall(4, 2)   // still md5-able? no: 8 hashes -> xxhash64 family
    val r8 = recall(8, 2)
    assert(r4 >= r1, s"recall must not drop with more bands: 1x2=$r1 4x2=$r4")
    assert(r8 >= r4, s"recall must not drop with more bands: 4x2=$r4 8x2=$r8")
    assert(r8 > r1, s"recall must rise over the range: 1x2=$r1 8x2=$r8")
    assert(r8 >= 0.8, s"8x2 banding should catch most planted near-dups, got $r8")
  }

  test("simhash: 32-bit strings, equal for dups, different for different docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark catalyst optimizer shuffles partitions"),
      (2L, "spark catalyst optimizer shuffles partitions"),
      (3L, "voronoi grain boundary ice mechanics simulation"))
      .toDF("doc_id", "text")
    val fp = TextOps.simhash32(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(fp.forall(s => s.length === 32 && s.forall(c => c == '0' || c == '1')))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("timeBandPairs == naive band join at sf0.001") {
    val e = Tables.events(spark, Sf0001)
    val binned = TimeOps.timeBandPairs(e, 60000L)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = e.select(col("user_id"), col("event_id").as("id_a"), col("ts_ms").as("ms_a"))
    val b = e.select(col("user_id").as("u_b"), col("event_id").as("id_b"), col("ts_ms").as("ms_b"))
    val naive = a.join(b, col("user_id") === col("u_b") && col("id_a") < col("id_b") &&
        abs(col("ms_a") - col("ms_b")) < 60000)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(binned.toSeq === naive.toSeq)
  }

  test("sessionize: session count = 1 + number of over-gap jumps per user") {
    val e = Tables.events(spark, Sf0001)
    val sess = TimeOps.sessionize(e, 1800000L)
    val perUser = sess.groupBy("user_id")
      .agg(max(col("session_idx")).as("max_idx"),
        sum(when(col("new_s") === 1, 1).otherwise(0)).as("n_jumps"))
    assert(perUser.filter(col("max_idx") =!= col("n_jumps")).count() === 0)
    // session indices are contiguous 0..max per user
    val distinctCnt = sess.groupBy("user_id")
      .agg(countDistinct("session_idx").as("n"), max("session_idx").as("m"))
    assert(distinctCnt.filter(col("n") =!= col("m") + 1).count() === 0)
  }

  test("BpeDeltasF event deltas == explicit per-step pair multiset diff on real docs") {
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val merges = TextOps.trainPhraseMerges(docs, "doc_id", "text", 4)._1
    assert(merges.nonEmpty)
    var df = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t0"))
    for (j <- 1 to merges.size)
      df = df.withColumn(s"t$j",
        TextOps.applyMerges(spark, col(s"t${j - 1}"), Seq(merges(j - 1))))
    val rows = df.withColumn("dp",
      graft.functions.BpeDeltasF.deltas(spark, col("t0"), merges)).collect()
    var eventRows = 0L
    rows.foreach { r =>
      val ts = (0 to merges.size).map(j => r.getSeq[String](r.fieldIndex(s"t$j")))
      val dp = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("dp"))
      eventRows += dp.size
      def pairs(s: Seq[String]): Map[(String, String), Long] =
        s.zip(s.drop(1)).groupBy(identity)
          .map { case (k, v) => k -> v.size.toLong }
      for (j <- 1 to merges.size) {
        val before = pairs(ts(j - 1)); val after = pairs(ts(j))
        val want = (before.keySet ++ after.keySet).iterator
          .map(k => k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)))
          .filter(_._2 != 0L).toMap
        val got = dp.filter(_.getInt(3) == j)
          .groupBy(p => (p.getString(0), p.getString(1)))
          .map { case (k, v) => k -> v.map(_.getLong(2)).sum }
          .filter(_._2 != 0L)
        assert(got === want, s"doc ${r.get(0)} step $j")
      }
    }
    assert(eventRows > 0, "no merge events in the fixture — test is vacuous")
  }

  test("intervalUnion: closed-form merges; coverage bounds on real events") {
    import spark.implicits._
    // user 1: [0,10) [5,15) [15,25) merge into one [0,25); [40,50) separate
    // user 2: single [7,17)
    val ev = Seq((1L, 0L, 100L), (1L, 5L, 101L), (1L, 15L, 102L),
        (1L, 40L, 103L), (2L, 7L, 104L))
      .toDF("user_id", "ts_ms", "event_id")
    val got = TimeOps.intervalUnion(ev, lenMs = 10L).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 35L), (2L, 1L, 10L)))
    // real events: covered_ms per user is bounded by [len, n_events*len]
    // and n_intervals by [1, n_events]
    val e = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
    val len = 1800000L
    val real = TimeOps.intervalUnion(e, len)
      .join(e.groupBy("user_id").agg(count(lit(1)).as("n_ev")), "user_id")
    assert(real.filter(col("covered_ms") < len ||
      col("covered_ms") > col("n_ev") * len).count() === 0)
    assert(real.filter(col("n_intervals") < 1 ||
      col("n_intervals") > col("n_ev")).count() === 0)
  }

  test("stateRunsMergeBucketed: pruned archive read == full recompute (VERDICT r13 #4)") {
    // the flat merge's "on a key-bucketed archive this is a pruned read"
    // claim, demonstrated: late batch touches ~1% of users; the archive
    // scan must (a) statically prune to the touched ubkt directories,
    // (b) push the affected-key filter into the parquet read, and
    // (c) still produce row-for-row the full recompute
    val e = Tables.events(spark, Sf0001).select(
      col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
    val late = e.filter(pmod(col("user_id"), lit(101)) === 3)
    val onTime = e.filter(pmod(col("user_id"), lit(101)) =!= 3)
    assert(late.count() > 0 && onTime.count() > 0, "vacuous split")
    val dir = java.nio.file.Files.createTempDirectory("scd2_arch").toString + "/arch"
    TimeOps.Archive.append(dir, onTime, 64)
    val merged = TimeOps.stateRunsMergeBucketed(
      TimeOps.stateRuns(onTime), dir, late)
    // plan evidence on the archive scan (static pruning, pushed keys)
    val plan = merged.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("scd2_arch")) => s
    }
    assert(scans.nonEmpty, s"no archive scan in:\n$plan")
    val scan = scans.head
    // a small touched set may be optimizer-simplified from IN to =
    assert(scan.partitionFilters.exists(f =>
        f.toString.contains("ubkt") && !f.toString.startsWith("isnotnull")),
      s"ubkt must be a static partition filter, got ${scan.partitionFilters}")
    val touchedBkts = late
      .select(pmod(xxhash64(col("user_id")), lit(64L)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val existingBkts = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ubkt="))
      .map(_.getName.stripPrefix("ubkt=").toInt).toSet
    val expected = (touchedBkts & existingBkts).size
    assert(expected > 0 && existingBkts.size > expected,
      s"fixture vacuous: $expected of ${existingBkts.size} buckets")
    assert(scan.selectedPartitions.partitionCount === expected,
      s"must scan only $expected of ${existingBkts.size} bucket dirs, " +
        s"scanned ${scan.selectedPartitions.partitionCount}")
    assert(scan.dataFilters.exists(_.toString.contains("user_id")),
      s"affected keys must be a data filter on the scan, got ${scan.dataFilters}")
    // and the result is exactly the full recompute
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getString(2), r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
      r.getLong(5))
    val got = merged.collect().map(key).toSet
    val want = TimeOps.stateRuns(e).collect().map(key).toSet
    assert(got === want)
  }

  test("stateRuns: closed-form SCD2 intervals; invariants on real events") {
    import spark.implicits._
    // closed-form: user 1 = A A B A (3 runs), user 2 = single open run
    val log = Seq(
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"),
      (1L, 30L, 102L, "B"), (1L, 40L, 103L, "A"),
      (2L, 15L, 104L, "X"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val runs = TimeOps.stateRuns(log).orderBy("user_id", "run_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))
    assert(runs.toSeq === Seq(
      (1L, 1L, "A", 10L, 30L, 2L), (1L, 2L, "B", 30L, 40L, 1L),
      (1L, 3L, "A", 40L, -1L, 1L), (2L, 1L, "X", 15L, -1L, 1L)))
    // real events: exactly one open run per user, intervals non-overlapping
    // and contiguous (each valid_to equals the next run's valid_from),
    // adjacent runs never share a state, event counts conserve
    val e = Tables.events(spark, Sf0001).select(
      col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
    val real = TimeOps.stateRuns(e).cache()
    assert(real.filter(col("valid_to_ms").isNull).count() ===
      e.select("user_id").distinct().count())
    assert(real.agg(sum("n_events")).head().getLong(0) === e.count())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("run_id")
    val chained = real
      .withColumn("next_from", lead(col("valid_from_ms"), 1).over(w))
      .withColumn("next_state", lead(col("state"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to_ms") =!= col("next_from")).count() === 0)
    assert(chained.filter(col("next_state").isNotNull &&
      (col("state") <=> col("next_state"))).count() === 0)
    real.unpersist()
  }

  test("asofCurveLookup: null before first signup, exact at signup rows") {
    val e = Tables.events(spark, Sf0001)
    val asof = TimeOps.asofCurveLookup(e)
    val joined = e.select(col("event_id"), col("user_id"), col("ts_ms"), col("event_type"))
      .join(asof, "event_id")
    // a signup event's as-of is itself
    val selfRows = joined.filter(col("event_type") === "signup")
    assert(selfRows.filter(col("asof_ms") =!= col("ts_ms")).count() === 0)
    // as-of never points to the future
    assert(joined.filter(col("asof_ms") > col("ts_ms")).count() === 0)
    assert(joined.count() === e.count())
  }

  test("cosineTopK: k rows, probe excluded, scores in [-1, 1], descending") {
    val emb = Tables.embeddings(spark, Sf0001)
    val top = Similarity.cosineTopK(emb, 0L, 10).collect()
    assert(top.length === 10)
    assert(top.forall(_.getLong(0) != 0L))
    val scores = top.map(_.getDouble(1))
    assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("lang-id and quality: deterministic integer outputs on fixture docs") {
    val docs = Tables.documents(spark, Sf0001)
    val out = docs.select(col("doc_id"),
      TextOps.stopwordCount(col("text")).as("n_stop"),
      TextOps.tokenCount(col("text")).as("n_tok"),
      TextOps.qualityScore(col("text")).as("q"))
    assert(out.filter(col("n_stop") > col("n_tok")).count() === 0)
    assert(out.filter(col("n_tok") <= 0).count() === 0)
    val fp = docs.select(col("doc_id"), TextOps.docFingerprint("text").as("fp"))
    // all fixture texts are distinct -> all fingerprints distinct
    assert(fp.select(countDistinct("fp")).head().getLong(0) === docs.count())
  }

  test("trainPhraseMerges: closed-form BPE rounds on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val (merges, corpus) = TextOps.trainPhraseMerges(docs, "doc_id", "text", 5)
    val ab = "a\u0001b"
    val abc = ab + "\u0001c"
    // round 1: (a,b) x3 wins; round 2: (a+b, c) x2 wins; then every
    // adjacent pair is unique -> early stop
    assert(merges === Seq(("a", "b"), (ab, "c")))
    val toks = corpus.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toMap
    assert(toks(1L) === Seq(ab, abc), toks.toString) // greedy left-to-right
    assert(toks(2L) === Seq(abc))
  }

  test("trainPhraseMerges: no repeating pair -> zero merges; corpus unchanged") {
    import spark.implicits._
    val docs = Seq((1L, "p q r"), (2L, "s t u")).toDF("doc_id", "text")
    val (merges, corpus) = TextOps.trainPhraseMerges(docs, "doc_id", "text", 4)
    assert(merges.isEmpty)
    assert(corpus.select(org.apache.spark.sql.functions.explode(col("toks")))
      .count() === 6L)
  }

  test("trainPhraseMerges: deterministic and partitioning-independent on real docs") {
    val docs = graft.Tables.documents(spark, Sf0001).limit(120)
    def train(parts: Int) = TextOps.trainPhraseMerges(
      docs.repartition(parts), "doc_id", "text", 3)._1
    val a = train(2)
    val b = train(7)
    assert(a.length === 3, s"expected 3 merges on the fixture, got $a")
    assert(a === b, "merge choice must not depend on partitioning")
    // merging strictly shrinks the token stream
    val before = docs.select(TextOps.tokenCount(col("text"))).collect()
      .map(_.getInt(0).toLong).sum
    val after = TextOps.trainPhraseMerges(docs, "doc_id", "text", 3)._2
      .select(org.apache.spark.sql.functions.size(col("toks"))).collect()
      .map(_.getInt(0).toLong).sum
    assert(after < before, s"$after vs $before")
  }

  test("applyMerges(trained list) == training's own rewritten corpus (train==serve)") {
    // The serving path must reproduce the training loop's corpus exactly:
    // both run the SAME TextOps.mergeFold, and this pins that they stay
    // shared. Real docs, 4 merges.
    val docs = graft.Tables.documents(spark, Sf0001).limit(150)
    val (merges, trained) = TextOps.trainPhraseMerges(docs, "doc_id", "text", 4)
    assert(merges.length === 4)
    val served = docs.select(col("doc_id").as("id"),
      TextOps.applyMerges(spark, TextOps.tokens(col("text")), merges).as("toks"))
    val a = trained.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
    val b = served.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
    assert(a === b)
  }

  test("applyMerges closed-form: order matters, later merges see earlier units") {
    import spark.implicits._
    val ab = "a\u0001b"
    val df = Seq((1L, Seq("a", "b", "c", "a", "b"))).toDF("id", "toks")
    val out = df.select(TextOps.applyMerges(spark, col("toks"),
        Seq(("a", "b"), (ab, "c"))).as("m"))
      .head().getSeq[String](0).toSeq
    assert(out === Seq(ab + "\u0001c", ab))
    // empty merge list is the identity
    val id = df.select(TextOps.applyMerges(spark, col("toks"), Nil).as("m"))
      .head().getSeq[String](0).toSeq
    assert(id === Seq("a", "b", "c", "a", "b"))
    // a merged unit is immediately eligible as the LEFT of the same merge
    // again: a a b b -> a (ab) b -- greedy-left semantics preserved
    val df2 = Seq((1L, Seq("a", "a", "b", "b"))).toDF("id", "toks")
    val out2 = df2.select(TextOps.applyMerges(spark, col("toks"),
        Seq(("a", "b"))).as("m")).head().getSeq[String](0).toSeq
    assert(out2 === Seq("a", ab, "b"))
  }

  test("fast BpeMergesF expression == chained mergeFold reference on real docs") {
    // the linear expression must be bit-equivalent to the declarative
    // quadratic fold it replaces, merge by merge, on real text
    val docs = graft.Tables.documents(spark, Sf0001).limit(150)
    val (merges, _) = TextOps.trainPhraseMerges(docs, "doc_id", "text", 4)
    val toks = TextOps.tokens(col("text"))
    val both = docs.select(col("doc_id"),
        TextOps.applyMergesReference(toks, merges).as("ref"),
        TextOps.applyMerges(spark, toks, merges).as("fast"))
      .filter(not(col("ref") === col("fast")))
    assert(both.count() === 0)
  }

  test("dupClustersKeepLongest: longest member kept, ties -> min id, cluster label stays min id") {
    import spark.implicits._
    // identical texts guarantee clustering; `len` is an independent
    // column, so the keeper choice is fully controlled: family {1,2,3}
    // ties 2-vs-3 at len 50 (min id 2 wins over the min-id member 1),
    // family {5,6} ties everywhere (min id 5), 9 is a singleton
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 10L),
      (2L, "the quick brown fox jumps over the lazy dog", 50L),
      (3L, "the quick brown fox jumps over the lazy dog", 50L),
      (5L, "a completely different sentence about spark engines here", 7L),
      (6L, "a completely different sentence about spark engines here", 7L),
      (9L, "nothing like any other document in this tiny corpus at all", 1L))
      .toDF("doc_id", "text", "len")
    val got = Dedup.dupClustersKeepLongest(docs, "doc_id", "text", col("len"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, 2L, 0), (1L, 2L, 2L, 1), (1L, 3L, 2L, 0),
      (5L, 5L, 5L, 1), (5L, 6L, 5L, 0),
      (9L, 9L, 9L, 1)))
  }

  test("bucketedRemove: removal surgical to touched buckets; torn swap UNDOES through recovery and a replay converges") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("bktrm").toString + "/idx"
    // 40 docs x 1 band each across 4 buckets
    val bands = (0L until 40L).map(i => (i, s"band_$i")).toDF("doc_id", "band")
    Dedup.BandIndex.append(dir, bands, 4)
    val victims = Seq(3L, 17L, 31L)
    val vbands = bands.filter(col("doc_id").isInCollection(victims))
    Dedup.BandIndex.remove(dir, vbands, 4)
    def served(): Set[Long] = spark.read.schema(Dedup.BandIndex.schema)
      .parquet(dir).select("doc_id").as[Long].collect().toSet
    assert(served() === (0L until 40L).toSet -- victims)
    // TORN swap: stage a bucket as if a crash hit between live->aside
    // and tmp->live — recovery at the next entry point must RESTORE it
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val someBkt = fs.listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("bkt=")).head
    fs.mkdirs(new Path(dir, ".rm_aside"))
    assert(fs.rename(someBkt, new Path(dir + "/.rm_aside", someBkt.getName)))
    assert(!fs.exists(someBkt))
    // any index entry point heals
    Dedup.BandIndex.append(dir,
      Seq((100L, "band_x")).toDF("doc_id", "band"), 4)
    assert(fs.exists(someBkt), "torn removal must restore the aside bucket")
    assert(served() === ((0L until 40L).toSet -- victims) + 100L)
    // and a REPLAYED removal of already-removed ids is a no-op
    Dedup.BandIndex.remove(dir, vbands, 4)
    assert(served() === ((0L until 40L).toSet -- victims) + 100L)
  }

  test("IvfIndex.refineInPlace torn swap: complete staging promotes; missing staging restores the aside") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    def mk(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
      val emb = (0L until 200L).map { i =>
        val v = Array.fill(8)(0f); v((i % 8).toInt) = 1f; v(0) += (i % 7) * 0.1f
        (i, v.toSeq)
      }.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      IvfIndex.save(IvfIndex.build(emb, nlist = 4, iters = 1), d)
      d
    }
    val fsOf = (d: String) =>
      new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // window A: crash BETWEEN the two renames (live moved aside, staging
    // complete) -> load() must promote the staging copy
    val a = mk("ivfswapA")
    val fsA = fsOf(a)
    assert(fsA.rename(new Path(a), new Path(a + ".tmp")))  // "staging complete"
    fsA.mkdirs(new Path(a + ".aside"))
    val mA = IvfIndex.load(spark, a)
    assert(mA.assignments.count() === 200L)
    assert(!fsA.exists(new Path(a + ".aside")) && !fsA.exists(new Path(a + ".tmp")))
    // window B: crash BEFORE staging completed (tmp missing, live moved
    // aside) -> load() must restore the aside
    val b = mk("ivfswapB")
    val fsB = fsOf(b)
    assert(fsB.rename(new Path(b), new Path(b + ".aside")))
    val mB = IvfIndex.load(spark, b)
    assert(mB.assignments.count() === 200L)
    assert(!fsB.exists(new Path(b + ".aside")))
  }
}
