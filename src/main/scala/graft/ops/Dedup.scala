package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * The reference does both exact-key dedup (node dedup by rounded coords,
  * `GenerateColumnar.py:145-152`) and approximate dedup (face-centroid
  * distance < 1e-6 via an O(n²) scan, `BooleanOperation.py:85-95`). We keep
  * the semantics but replace the O(n²) scan with a cell-binned band join —
  * the same trick the reference engine uses for neighbor search (`CellSize`
  * grid, `UniaxialCompressionTest/MLS00con.dat:2`) — so it shuffles on bin
  * keys and scales linearly in candidate pairs instead of quadratically in
  * rows.
  *
  * The MinHash/LSH and fingerprint family are the training-data-pipeline
  * extensions (north star): document near-dedup at 100 TB must never compare
  * all pairs, so candidates come from band-bucket equi-joins.
  */
object Dedup {

  /** DD1 — exact dedup by derived key: keep the lowest id per key group.
    * Mirrors `GenerateColumnar.py:145-152` (6-dp rounded node keys →
    * stable ids). One hash-aggregate, map-side partials, shuffles on key.
    */
  def exactDedupByKey(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** DD2 — all pairs (id_a < id_b) with |v_a - v_b| < eps, via cell binning.
    * Each row lands in bin floor(v/eps); a pair within eps spans at most
    * adjacent bins, so probing bins {b-1, b, b+1} on one side of an
    * equi-join finds every pair exactly once (the build side keeps its
    * single home bin). Equi-join on the bin key → shuffle-hash/SMJ, AQE
    * handles skewed bins; no O(n²) cross product.
    */
  def bandPairs(df: DataFrame, idCol: String, valCol: String, eps: Double): DataFrame = {
    val base = df.select(col(idCol).as("id_a"), col(valCol).as("v_a"))
      .withColumn("bin", floor(col("v_a") / eps).cast("long"))
    val probes = base.withColumn(
      "pbin", explode(array(col("bin") - 1, col("bin"), col("bin") + 1)))
    val build = df.select(col(idCol).as("id_b"), col(valCol).as("v_b"))
      .withColumn("bin_b", floor(col("v_b") / eps).cast("long"))
    probes.join(build,
        col("pbin") === col("bin_b") &&
        col("id_a") < col("id_b") &&
        abs(col("v_a") - col("v_b")) < eps)
      .select(col("id_a"), col("id_b"))
  }

  /** Word n-gram shingles: one output row per (doc, shingle position).
    * Input rows need a text column; rows with fewer than n tokens drop out
    * (mirrors the reference's skip-invalid-row policy,
    * `BooleanOperation.py:60-61`).
    */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("tokens"))
      .filter(size(col("tokens")) >= n)
      .select(col("doc_id"),
        // codegen'd shingling (WordShinglesF) — bit-identical to the
        // transform/slice/concat_ws lambda, without interpreted eval
        explode(graft.functions.WordShinglesF.shingles(
          docs.sparkSession, col("tokens"), n)).as("shingle"))

  /** MinHash signatures over word shingles, one `mh$i` column per hash.
    *
    * Up to 4 hashes: ONE md5 per shingle, split into four 8-hex-char
    * (32-bit) chunks that act as the independent hash functions — hashing
    * is the hot path at corpus scale, so 1 digest beats 4 (and this md5
    * form is what the DuckDB oracle mirrors). Beyond 4: a seeded xxhash64
    * family, `xxhash64(shingle, i)` — one cheap 64-bit hash per component,
    * arbitrarily wide. Either way each signature component is the min of
    * its hash over the doc's shingle set, all computed in ONE aggregation
    * pass (map-side combined).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 4): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val sh = wordShingles(docs, idCol, textCol, shingleN)
    if (numHashes <= 4) {
      val hashed = sh.withColumn("h", md5(col("shingle")))
      val aggs = (0 until numHashes).map(s =>
        min(substring(col("h"), s * 8 + 1, 8)).as(s"mh$s"))
      hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    } else {
      val aggs = (0 until numHashes).map(s =>
        min(xxhash64(col("shingle"), lit(s))).as(s"mh$s"))
      sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** LSH banding over a `numBands` × `rowsPerBand` MinHash signature: docs
    * sharing any band hash become candidate near-duplicate pairs; the pair
    * generation is an equi-join on the band key — never all-pairs, at any
    * scale. More bands → higher recall, more rows per band → higher
    * precision (the standard S-curve trade); at production scale pick
    * e.g. 16×8 rather than the oracle-matched 2×2 default, which keeps
    * the original md5-chunk form bit-for-bit.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        numBands: Int = 2, rowsPerBand: Int = 2,
                        shingleN: Int = 3): DataFrame = {
    // batch route: the GROUPED band table — its signature aggregation is
    // map-side combined (one row per doc through the exchange), and
    // measured FASTER than the row-local form at sf0.1 (0.95 s vs 1.31 s:
    // the local form's per-doc md5/substring array materializations cost
    // more than the tiny combined shuffle they save). The local form is
    // the STREAMING derivation (lshBandTableLocal).
    val banded = lshBandTable(docs, idCol, textCol, numBands, rowsPerBand, shingleN)
    val other = banded.select(col("doc_id").as("doc_b"), col("band").as("band_b"))
    banded.join(other, col("band") === col("band_b") && col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
  }

  /** The (doc_id, band) table [[lshCandidatePairs]] self-joins — exposed
    * because at corpus scale this table is a PERSISTED INDEX: computing it
    * is the expensive step (shingle → minhash → band), and an ingest
    * pipeline stores it once per document instead of re-deriving history
    * on every arriving batch (see [[lshIncrementalCandidates]]).
    */
  def lshBandTable(docs: DataFrame, idCol: String, textCol: String,
                   numBands: Int = 2, rowsPerBand: Int = 2,
                   shingleN: Int = 3): DataFrame = {
    require(numBands >= 1 && rowsPerBand >= 1,
      s"invalid banding ${numBands}x$rowsPerBand")
    val sig = minhashSignatures(docs, idCol, textCol, shingleN,
      numHashes = numBands * rowsPerBand)
    val bandKeys = (0 until numBands).map { b =>
      val comps = (0 until rowsPerBand).map(j => col(s"mh${b * rowsPerBand + j}"))
      if (numBands * rowsPerBand <= 4)
        md5(concat((lit(s"b$b|") +: comps): _*))
      else
        xxhash64((lit(b.toLong) +: comps): _*).cast("string")
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
  }

  /** DD3 keeper policy — near-dup clusters with the LONGEST member kept
    * (ties → min doc_id): the practical crawl policy. Min-id keeps
    * whichever copy happened to be crawled first; a mirror/boilerplate
    * family's most COMPLETE copy is the one worth training on, so the
    * keeper maximizes `lenCol` instead. Clusters are
    * [[lshCandidatePairs]] → connected components (the q_dup_clusters
    * pipeline); the keeper is one partial-aggregable
    * `max_by(doc_id, struct(len, -doc_id))` pass on the cluster key —
    * no window sort, no all-pairs, and the cluster label itself stays
    * the min id so downstream joins agree with the min-id form.
    * Returns one row per doc: (doc_id, canonical, keep_id, is_kept).
    */
  def dupClustersKeepLongest(docs: DataFrame, idCol: String, textCol: String,
                             lenCol: Column, numBands: Int = 2,
                             rowsPerBand: Int = 2, shingleN: Int = 3)
      : DataFrame = {
    // r21: PIN the candidate pairs before CC — the generic op's
    // self-looper pass re-ran the whole minhash + band self-join chain
    // a second time (pairs are a<b by construction, so it always came
    // back empty); the batch CC path then counts + collects from the
    // pinned blocks.
    val pairs = org.apache.spark.sql.graftbridge.Bridge
      .dropCheckpointConstraints(
        lshCandidatePairs(docs, idCol, textCol, numBands, rowsPerBand,
          shingleN).localCheckpoint())
    val labels = Graph.batchComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val memb = docs.select(col(idCol).as("doc_id"), lenCol.as("len"))
      .join(labels.withColumnRenamed("node_id", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"), col("len"),
        coalesce(col("component"), col("doc_id")).as("canonical"))
    val keepers = memb.groupBy("canonical")
      .agg(max_by(col("doc_id"),
        struct(col("len"), -col("doc_id"))).as("keep_id"))
    memb.join(keepers, Seq("canonical"))
      .select(col("doc_id"), col("canonical"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("int").as("is_kept"))
  }

  /** Row-local [[lshBandTable]]: identical (doc_id, band) rows, computed
    * WITHOUT the explode → groupBy signature aggregation — each minhash
    * component is `array_min` over the doc's own shingle array inside one
    * projection, so the whole derivation is a stateless narrow map
    * (OpsSpec pins frame equality with the grouped form on real docs).
    * This is what a STREAMING ingest must use: a per-doc groupBy on an
    * unbounded stream is forever-growing state, while this form is a
    * plain append-mode projection ([[graft.streaming.StreamOps
    * .dedupIncrementalStream]]). BATCH callers should stay on the grouped
    * form: measured at sf0.1 the per-doc hash/substring ARRAY
    * materializations here cost more than the map-side-combined shuffle
    * they save (1.31 s vs 0.95 s for q_minhash_lsh) — zero-shuffle is not
    * automatically faster when the exchange carries one combined row per
    * doc.
    */
  def lshBandTableLocal(docs: DataFrame, idCol: String, textCol: String,
                        numBands: Int = 2, rowsPerBand: Int = 2,
                        shingleN: Int = 3): DataFrame = {
    require(numBands >= 1 && rowsPerBand >= 1,
      s"invalid banding ${numBands}x$rowsPerBand")
    val numHashes = numBands * rowsPerBand
    val sh = array_distinct(graft.functions.WordShinglesF.shingles(
      docs.sparkSession, split(trim(col(textCol)), "\\s+"), shingleN))
    // per-component min over the doc's shingles — multiset min == set min,
    // so array_distinct here matches the grouped form's min over the
    // exploded (undistincted) shingle rows exactly. The md5 digest is
    // hoisted to ONE per shingle in its own projection: expressions
    // inside a lambda re-evaluate per element with no CSE across lambda
    // boundaries, so substr(md5(x), ...) per component would run the
    // digest numHashes× per shingle (measured 2.4× the grouped form;
    // hoisted it beats it).
    val comps: Seq[org.apache.spark.sql.Column] =
      if (numHashes <= 4)
        (0 until numHashes).map(s =>
          array_min(transform(col("__hh"), h => substring(h, s * 8 + 1, 8))))
      else
        (0 until numHashes).map(s =>
          array_min(transform(col("__sh"), x => xxhash64(x, lit(s)))))
    val bandKeys = (0 until numBands).map { b =>
      val cs = (0 until rowsPerBand).map(j => col(s"__mh${b * rowsPerBand + j}"))
      if (numHashes <= 4) md5(concat((lit(s"b$b|") +: cs): _*))
      else xxhash64((lit(b.toLong) +: cs): _*).cast("string")
    }
    docs.select(col(idCol).as("doc_id"), sh.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__hh",
        if (numHashes <= 4) transform(col("__sh"), x => md5(x)) else lit(null))
      .select(col("doc_id") +: comps.zipWithIndex.map {
        case (c, i) => c.as(s"__mh$i") }: _*)
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
  }

  /** The persisted band index: `(doc_id, band)` rows bucketed by band
    * hash under `bkt=` directories ([[BucketedStore]] — its layout, frozen
    * bucket count and crash contracts). Candidate pairs only arise on
    * EQUAL band hashes and the bucket is a pure function of the band, so a
    * probe reads only its batch's touched buckets ([[BucketedStore.pruned]];
    * OpsSpec pins the executed scan's partition count). The index is not
    * text-specific: any (doc_id, band-string) derivation can live in one —
    * [[ingestBands]] rows for text, hyperplane home signatures for
    * embeddings ([[Similarity.embIndexIngest]]), content digests for the
    * flows' exact-duplicate lookups. A removal passes ALL of each doc's
    * bands (digest = one row; home signatures = `families` rows). A
    * pre-r14 flat index is refused until `BandIndex.migrate` rewrites it.
    */
  val BandIndex: BucketedStore = {
    import org.apache.spark.sql.types._
    BucketedStore(new StructType().add("doc_id", LongType)
        .add("band", StringType).add("bkt", IntegerType),
      key = "band", bkt = "bkt",
      legacyHint = "pre-r14 flat band index — rewrite it with " +
        "Dedup.BandIndex.migrate(spark, path, buckets)")
  }

  /** One full ingest step against a PERSISTED band index at `path`:
    * compute the arriving batch's bands, probe them against the stored
    * index, and append them INTO the index so the next batch sees this
    * one as history. Returns this batch's candidates through
    * [[symmetricCandidates]]: the exact pairs by default, the hot-band
    * star and its overflow report under a finite `maxBucket`.
    *
    * Sharded-ingest completeness: a pair (a, b) is arrival-touching in
    * exactly ONE batch — the one its LATER member arrives in (the earlier
    * member is already indexed) — so the UNION of every batch's
    * candidates equals `lshCandidatePairs` over the whole corpus, found
    * once each (OpsSpec pins it over a 3-batch feed of real docs).
    *
    * Ordering safety: the stored read freezes its file listing BEFORE the
    * append (Spark's InMemoryFileIndex lists at read time), so the
    * returned candidates never see the batch through the index side. The
    * batch's bands are pinned once ([[ckptBands]]) for their three
    * consumers. The stored read passes the band schema EXPLICITLY: an
    * all-short-docs or empty first batch appends a directory with no data
    * files, and schema-INFERENCE over it would throw on every later
    * ingest (r13 review find; OpsSpec pins the empty-first-batch
    * sequence).
    *
    * BAND DERIVATION (r14): the batch's bands come from [[ingestBands]] —
    * the grouped derivation over an id-repartitioned batch, which bounds
    * the signature aggregation's peak task under compression-skewed input
    * AND lets ReuseExchange compute the derivation once across the probe
    * plan's references (rationale and measurements on [[ingestBands]]).
    * `buckets` is part of the index contract, like the banding
    * parameters; per-batch appends add up to `buckets` small files, which
    * `BandIndex.compact` folds back to one file per bucket.
    */
  def bandIndexIngest(path: String, arrivals: DataFrame,
                      idCol: String, textCol: String,
                      numBands: Int = 2, rowsPerBand: Int = 2,
                      shingleN: Int = 3, buckets: Int = 16,
                      maxBucket: Int = Int.MaxValue): BoundedCandidates = {
    val newBands = ckptBands(ingestBands(arrivals, idCol, textCol,
      numBands, rowsPerBand, shingleN))
    val candidates = symmetricCandidates(
      BandIndex.pruned(path, newBands, buckets), newBands, maxBucket)
    BandIndex.append(path, newBands, buckets)
    candidates
  }

  /** Read-only [[bandIndexIngest]]: probe `arrivals` against the stored
    * index WITHOUT appending them — serving-side duplicate lookup and the
    * decide half of a decide-then-commit flow. Same pruned read, same
    * candidate contract and cap. Also RETURNS the batch's checkpointed
    * band table `(doc_id, band)` (r15 diet): a flow that probes in
    * `decide` and appends the kept slice in a later `commit` hands it to
    * `BandIndex.append` instead of deriving the minhash bands twice —
    * the heaviest per-doc CPU in the whole chain. Under a finite cap the
    * overflow report is checkpointed too: it reads the index, so it must
    * be pinned before that commit appends.
    */
  def bandIndexProbe(path: String, arrivals: DataFrame,
                     idCol: String, textCol: String,
                     numBands: Int = 2, rowsPerBand: Int = 2,
                     shingleN: Int = 3, buckets: Int = 16,
                     maxBucket: Int = Int.MaxValue)
      : (BoundedCandidates, DataFrame) = {
    val newBands = ckptBands(ingestBands(arrivals, idCol, textCol,
      numBands, rowsPerBand, shingleN))
    (symmetricCandidates(BandIndex.pruned(path, newBands, buckets),
      newBands, maxBucket, pinOverflow = true), newBands)
  }

  /** The ingest path's band derivation: the grouped [[lshBandTable]] over
    * a batch REPARTITIONED by doc id. The repartition does two jobs at
    * once (tools/PeakProbe at 8a861d8, 100× corpus):
    *
    *   - BOUNDS the signature aggregation's peak task. Parquet splits by
    *     COMPRESSED bytes, and a crawl-grade duplicate corpus compresses
    *     brutally (the 100× soak's 500k docs fit ONE 5 MB file), so a
    *     single scan task can explode an unbounded number of docs into
    *     the grouped sort-aggregate — measured 1,264 MB peak (VERDICT
    *     r13 #1, the real culprit behind the "pair-distinct" peak).
    *     Hash-spreading docs across shuffle.partitions first caps the
    *     aggregate at batch/parts docs per task (24 MB measured).
    *   - The exchange SATISFIES groupBy(doc_id)'s distribution, so the
    *     aggregation adds no second shuffle, and ReuseExchange dedups
    *     the derivation across the probe plan's multiple references to
    *     the batch bands (the row-local form, having no exchange, was
    *     measured 2.3× the wall here — recomputed per reference).
    *
    * The shuffled payload is the batch's raw text — bounded by the
    * ingest-batch contract, never the corpus. `BandIndex.append` takes
    * these rows to bulk-load a text corpus without probing.
    */
  def ingestBands(arrivals: DataFrame, idCol: String, textCol: String,
                  numBands: Int = 2, rowsPerBand: Int = 2,
                  shingleN: Int = 3): DataFrame =
    lshBandTable(arrivals.repartition(col(idCol)), idCol, textCol,
      numBands, rowsPerBand, shingleN)

  /** Materialize a batch's band table ONCE for the ingest/probe flow:
    * the table is referenced by up to three consumers (touched-bucket
    * collect, the candidate plan's union+broadcast, the append), each a
    * separate ACTION, and cross-job re-derivation tripled the per-batch
    * wall once the bucketed layout added the touched collect (measured
    * 3.2 s vs the r13 flat path's 1.55 s at sf0.1). The checkpoint is
    * batch-bounded by the ingest contract and lives only until the
    * caller releases the returned candidates frame (ContextCleaner
    * reclaims the blocks); under the single-writer serial-loop contract
    * at most one batch's bands are pinned at a time — the r13
    * no-pinned-state note is superseded by this bounded, caller-scoped
    * form. Constraint set dropped like every checkpoint in this codebase
    * (see IvfIndex.ckpt's rationale).
    */
  private def ckptBands(nb: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
      nb.localCheckpoint())

  /** [[lshIncrementalCandidatesBounded]]'s result: the candidate pairs
    * plus a per-hot-band accounting of what the cap suppressed —
    * `(band, occupancy, n_new, emitted, suppressed)`. `suppressed` counts
    * that band's arrival-touching pairs not emitted (pair counts are
    * per-band; one pair sharing two bands is accounted in each).
    */
  final case class BoundedCandidates(pairs: DataFrame, overflow: DataFrame)

  /** [[lshIncrementalCandidates]] with a HOT-BAND CAP (VERDICT r13 #1):
    * a band bucket holding m docs emits O(m·n_new) candidate pairs, and a
    * real crawl serves buckets where m is unbounded (near-identical spam,
    * boilerplate, planted duplicates) — at 100× planted density the
    * all-pairs form's pair-distinct held a 1.26 GB peak task, the largest
    * in the whole scale evidence. Bands whose occupancy (stored + new
    * members) exceeds `maxBucket` switch from all-pairs to a STAR: each
    * arriving member pairs with the bucket representative (the min doc_id
    * over ALL members), plus one bridge pair (rep_all, rep_stored) when
    * the overall min is itself an arrival — so per hot band the output is
    * n_new + 1 rows instead of O(occupancy²).
    *
    * Semantics trade, stated plainly: candidate COMPLETENESS inside a
    * saturated bucket is given up (a~rep may fail downstream verification
    * where a~b would have passed), candidate-graph CONNECTIVITY is kept —
    * every member of a hot bucket stays transitively linked through the
    * representative chain across batches (each doc links to the min at
    * its arrival time; successive mins link to each other via the bridge;
    * OpsSpec pins multi-batch connectivity with descending ids). For
    * dup-CLUSTERING consumers (LSH → connected components → canonical)
    * that is exactly what matters; consumers needing verified pairwise
    * completeness must keep the exact form and pay its quadratic output.
    * The `overflow` frame makes the cap OBSERVABLE — no silent truncation:
    * which bands saturated, how many pairs were suppressed.
    *
    * Scale shape: occupancy is ONE map-combined aggregation over the
    * touched slice (one combined row per touched band per partition); the
    * hot set is bounded by the batch's band count, so it broadcasts; cold
    * bands run the unchanged all-pairs join with hot bands anti-filtered
    * out scan-locally. Peak task memory is now bounded by
    * maxBucket · n_new per cold band instead of the hottest bucket's
    * square.
    */
  def lshIncrementalCandidatesBounded(storedBands: DataFrame,
                                      newBands: DataFrame,
                                      maxBucket: Int = 1024): BoundedCandidates = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val allT = storedBands.select(col("doc_id"), col("band"))
      .withColumn("is_new", lit(false))
      .unionByName(newBands.select(col("doc_id"), col("band"))
        .withColumn("is_new", lit(true)))
    val touched = newBands.select(col("band")).distinct()
    val occ = allT
      .join(broadcast(touched.withColumnRenamed("band", "band_t")),
        col("band") === col("band_t"))
      .groupBy("band")
      // DISTINCT members, not rows: a replayed at-least-once ingest can
      // leave duplicate (doc_id, band) rows in the index, and row-counted
      // occupancy would flip a band past the cap spuriously, silently
      // shrinking the emitted candidate set (r14 review). On a clean
      // index the two counts are identical (one row per doc per band).
      .agg(count_distinct(col("doc_id")).as("occupancy"),
        min(col("doc_id")).as("rep_all"),
        min(when(!col("is_new"), col("doc_id"))).as("rep_stored"),
        count_distinct(when(col("is_new"), col("doc_id"))).as("n_new"))
    val hot = occ.filter(col("occupancy") > maxBucket)
    val hotBands = hot.select("band")
    // cold bands: the unchanged exact all-pairs probe join
    val allCold = allT.join(broadcast(hotBands), Seq("band"), "left_anti")
    val nbCold = newBands.select(col("doc_id").as("doc_n"), col("band").as("band_n"))
      .join(broadcast(hotBands.withColumnRenamed("band", "band_n")),
        Seq("band_n"), "left_anti")
    val exact = allCold.join(broadcast(nbCold),
        col("band") === col("band_n") && col("doc_id") =!= col("doc_n"))
      .select(least(col("doc_id"), col("doc_n")).as("doc_a"),
        greatest(col("doc_id"), col("doc_n")).as("doc_b"))
    // hot bands: arrivals star onto the bucket representative
    val star = allT
      .join(broadcast(hot.select(col("band").as("band_h"), col("rep_all"))),
        col("band") === col("band_h"))
      .filter(col("is_new") && col("doc_id") =!= col("rep_all"))
      .select(least(col("doc_id"), col("rep_all")).as("doc_a"),
        greatest(col("doc_id"), col("rep_all")).as("doc_b"))
    // a NEW overall min links to the stored component's old min
    val bridge = hot
      .filter(col("rep_stored").isNotNull && col("rep_stored") =!= col("rep_all"))
      .select(least(col("rep_all"), col("rep_stored")).as("doc_a"),
        greatest(col("rep_all"), col("rep_stored")).as("doc_b"))
    val pairs = exact.unionByName(star).unionByName(bridge).distinct()
    val repAllIsNew = col("rep_stored").isNull || col("rep_stored") =!= col("rep_all")
    val emitted =
      (col("n_new") - when(repAllIsNew, lit(1L)).otherwise(lit(0L))) +
        when(col("rep_stored").isNotNull && col("rep_stored") =!= col("rep_all"),
          lit(1L)).otherwise(lit(0L))
    // the difference of two n(n-1) terms is even, so the halving is exact;
    // shiftright keeps the arithmetic in LONGS — `/ lit(2)` is double
    // division in Spark and loses exactness past 2^53, which is precisely
    // the saturated-spam-band regime the cap exists for (r14 ADVICE)
    val touching = shiftright(col("occupancy") * (col("occupancy") - 1) -
      (col("occupancy") - col("n_new")) * (col("occupancy") - col("n_new") - 1), 1)
    val overflow = hot.select(col("band"), col("occupancy"), col("n_new"),
      emitted.as("emitted"), (touching - emitted).as("suppressed"))
    BoundedCandidates(pairs, overflow)
  }

  /** The SYMMETRIC candidate route (text bands: the batch's member rows
    * are its probe rows) — the one place that chooses between the exact
    * form and the hot-band cap. `maxBucket == Int.MaxValue` runs
    * [[lshIncrementalCandidates]] and reports an empty overflow with the
    * capped report's schema, so callers never fork on the route; any
    * finite cap runs [[lshIncrementalCandidatesBounded]]. `pinOverflow`
    * checkpoints the capped report (for callers that append to the index
    * before reading it); building the exact route's empty report runs no
    * job. With an empty stored side every row is an arrival and this is the
    * one-shot self-join ([[lshCandidatePairs]], or its star-capped form).
    */
  private[ops] def symmetricCandidates(stored: DataFrame,
                                       newBands: DataFrame, maxBucket: Int,
                                       pinOverflow: Boolean = false)
      : BoundedCandidates =
    if (maxBucket == Int.MaxValue)
      BoundedCandidates(lshIncrementalCandidates(stored, newBands),
        emptyOverflow(newBands.sparkSession, "n_new"))
    else {
      val b = lshIncrementalCandidatesBounded(stored, newBands, maxBucket)
      if (pinOverflow) b.copy(overflow = ckptBands(b.overflow)) else b
    }

  /** The MULTI-PROBE candidate route (embedding bands: the batch's HOME
    * rows join the searched side, its PROBE rows — home plus every
    * 1-bit flip — probe it), with [[symmetricCandidates]]' choice and
    * overflow contract. Exact: the asymmetric join of `probes` against
    * stored ∪ home (new↔new pairs within Hamming 1 surface from the flip
    * probes, home==home pairs from the zero-flip probe). Capped:
    * [[boundedProbeCandidates]] over the `is_new`-tagged member union.
    */
  private[ops] def multiProbeCandidates(stored: DataFrame, home: DataFrame,
                                        probes: DataFrame, maxBucket: Int,
                                        pinOverflow: Boolean = false)
      : BoundedCandidates =
    if (maxBucket == Int.MaxValue)
      BoundedCandidates(stored.unionByName(home)
        .join(broadcast(probes.select(col("doc_id").as("doc_n"),
            col("band").as("band_n"))),
          col("band") === col("band_n") && col("doc_id") =!= col("doc_n"))
        .select(least(col("doc_id"), col("doc_n")).as("doc_a"),
          greatest(col("doc_id"), col("doc_n")).as("doc_b"))
        .distinct(), emptyOverflow(probes.sparkSession, "n_probe"))
    else {
      val searched = stored.withColumn("is_new", lit(false))
        .unionByName(home.withColumn("is_new", lit(true)))
      val b = boundedProbeCandidates(searched, probes, maxBucket)
      if (pinOverflow) b.copy(overflow = ckptBands(b.overflow)) else b
    }

  /** The exact route's overflow report: no band saturated, in the capped
    * report's schema — `nCol` is `n_new` (symmetric) or `n_probe`
    * (multi-probe). It reads no index, so it never needs pinning.
    */
  private def emptyOverflow(spark: org.apache.spark.sql.SparkSession,
                            nCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("band", StringType),
        StructField("occupancy", LongType),
        StructField(nCol, LongType),
        StructField("emitted", LongType),
        StructField("suppressed", LongType))))
  }

  /** Hot-bucket cap for an ASYMMETRIC probe (r14): the searched side is
    * the band MEMBER set — `(doc_id, band, is_new)`, stored index rows
    * (is_new=false) plus the batch's own home rows (is_new=true) — and
    * the probe side a `(doc_id, band)` PROBE set whose rows need not be
    * members of the bands they probe (the embedding index's 1-bit-flip
    * multi-probe, [[multiProbeCandidates]]). Text banding is
    * the symmetric special case (probes == the batch's member rows);
    * this generalizes [[lshIncrementalCandidatesBounded]]'s star cap: a
    * band whose DISTINCT-member occupancy exceeds `maxBucket` emits one
    * pair per prober onto the band representative (min member id over
    * stored ∪ new) plus the (rep_all, rep_stored) bridge when the overall
    * min is itself new — per hot band ≤ n_probe + 1 rows instead of
    * O(occupancy · n_probe). The completeness-for-connectivity trade and
    * its rationale are [[lshIncrementalCandidatesBounded]]'s, verbatim;
    * connectivity across batches holds by the same rep-chain argument
    * because every arrival home-probes its own bucket
    * (SimilaritySpec mirrors OpsSpec's descending-id pin).
    *
    * Overflow accounting (exact, per band; a pair surfacing via two bands
    * is accounted in each): with m = occupancy, p = distinct probers,
    * q = probers that are themselves members of the band, the unordered
    * member↔prober pairs touching the band are m·p − q − q(q−1)/2
    * (member==prober self-pairs removed once, both-sides-member-prober
    * pairs counted from both ends halved); emitted =
    * p − [rep_all probes the band] + [bridge row emitted]. Every
    * accounting join runs on the touched slice — bounded by the batch's
    * probe set, never the index.
    */
  def boundedProbeCandidates(searched: DataFrame, probes: DataFrame,
                             maxBucket: Int = 1024): BoundedCandidates = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val pr = probes.select(col("doc_id").as("doc_n"), col("band").as("band_n"))
    val touched = pr.select(col("band_n").as("band")).distinct()
    val occ = searched
      .join(broadcast(touched), Seq("band"))
      .groupBy("band")
      // DISTINCT members for the same replayed-ingest reason as the
      // symmetric form (and union-time duplicates of stored∪home rows)
      .agg(count_distinct(col("doc_id")).as("occupancy"),
        min(col("doc_id")).as("rep_all"),
        min(when(!col("is_new"), col("doc_id"))).as("rep_stored"))
    val hot = occ.filter(col("occupancy") > maxBucket)
    val hotBands = hot.select("band")
    // cold bands: the unchanged exact asymmetric probe join
    val cold = searched.join(broadcast(hotBands), Seq("band"), "left_anti")
    val prCold = pr.join(broadcast(hotBands.withColumnRenamed("band", "band_n")),
      Seq("band_n"), "left_anti")
    val exact = cold.join(broadcast(prCold),
        col("band") === col("band_n") && col("doc_id") =!= col("doc_n"))
      .select(least(col("doc_id"), col("doc_n")).as("doc_a"),
        greatest(col("doc_id"), col("doc_n")).as("doc_b"))
    // hot bands: probers star onto the band representative
    val prHot = pr.join(broadcast(hot.select(col("band").as("band_n"),
        col("rep_all"), col("rep_stored"))), Seq("band_n"))
    val star = prHot.filter(col("doc_n") =!= col("rep_all"))
      .select(least(col("doc_n"), col("rep_all")).as("doc_a"),
        greatest(col("doc_n"), col("rep_all")).as("doc_b"))
    val bridge = hot
      .filter(col("rep_stored").isNotNull && col("rep_stored") =!= col("rep_all"))
      .select(least(col("rep_all"), col("rep_stored")).as("doc_a"),
        greatest(col("rep_all"), col("rep_stored")).as("doc_b"))
    val pairs = exact.unionByName(star).unionByName(bridge).distinct()
    // exact per-band accounting over the (bounded) hot slice
    val pStats = prHot.groupBy("band_n")
      .agg(count_distinct(col("doc_n")).as("n_probe"),
        count_distinct(when(col("doc_n") === col("rep_all"), col("doc_n")))
          .as("rep_probes"))
    val qStats = searched.join(broadcast(hotBands), Seq("band"))
      .select(col("band").as("band_n"), col("doc_id").as("doc_n"))
      .join(pr, Seq("band_n", "doc_n"))
      .groupBy("band_n")
      .agg(count_distinct(col("doc_n")).as("q"))
    val bridgeFlag = when(col("rep_stored").isNotNull &&
      col("rep_stored") =!= col("rep_all"), lit(1L)).otherwise(lit(0L))
    val overflow = hot
      .join(pStats.withColumnRenamed("band_n", "band"), Seq("band"), "left")
      .join(qStats.withColumnRenamed("band_n", "band"), Seq("band"), "left")
      .withColumn("n_probe", coalesce(col("n_probe"), lit(0L)))
      .withColumn("q", coalesce(col("q"), lit(0L)))
      .withColumn("emitted", col("n_probe") -
        coalesce(col("rep_probes"), lit(0L)) + bridgeFlag)
      // q(q-1) is even so the shift is exact — long arithmetic throughout
      // (double division loses exactness past 2^53; r14 ADVICE)
      .withColumn("touching", col("occupancy") * col("n_probe") - col("q") -
        shiftright(col("q") * (col("q") - 1), 1))
      .select(col("band"), col("occupancy"), col("n_probe"),
        col("emitted"), (col("touching") - col("emitted")).as("suppressed"))
    BoundedCandidates(pairs, overflow)
  }

  /** Incremental near-dup candidates: an ARRIVING batch against a stored
    * band index plus itself — the continuous-ingest shape
    * (`lshCandidatePairs` over history ∪ batch would re-self-join the
    * whole corpus for every batch). `storedBands` is a persisted
    * [[lshBandTable]] (same banding parameters — the band hash is part of
    * the index contract, like IVF's frozen centroids); `newBands` is the
    * arriving batch's table, computed batch-side only.
    *
    * One equi-join: new bands probe (stored ∪ new) on the band key —
    * history NEVER self-joins, so per-batch cost is
    * |new bands| × bucket occupancy regardless of corpus size. new↔new
    * pairs surface from the union side (found from either end, normalized
    * and deduped); old↔old pairs are by definition already known. Returns
    * normalized (doc_a < doc_b) distinct pairs where at least one side is
    * an arrival — exactly `lshCandidatePairs(history ∪ batch)` restricted
    * to arrival-touching pairs (OpsSpec pins the equivalence; the
    * `q_dedup_incremental` oracle is that restriction in SQL).
    */
  def lshIncrementalCandidates(storedBands: DataFrame,
                               newBands: DataFrame): DataFrame = {
    // the BATCH side broadcasts (bounded by the ingest-batch contract,
    // like the SCD2 merge's key set) and the stored index STREAMS through
    // the probe side — the hash table is never built on the 100 TB side,
    // and the index scan stays scan-local (no shuffle of history per
    // batch). new↔new pairs are found from both ends; least/greatest
    // normalization + distinct collapses them.
    val nb = newBands.select(col("doc_id").as("doc_n"), col("band").as("band_n"))
    val all = storedBands.select(col("doc_id"), col("band"))
      .unionByName(newBands.select(col("doc_id"), col("band")))
    all.join(broadcast(nb),
        col("band") === col("band_n") && col("doc_id") =!= col("doc_n"))
      .select(least(col("doc_id"), col("doc_n")).as("doc_a"),
        greatest(col("doc_id"), col("doc_n")).as("doc_b"))
      .distinct()
  }
}
