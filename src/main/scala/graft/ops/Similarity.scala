package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) — the
  * training-data-pipeline extension (north star). Baseline is brute-force
  * cosine top-k (a single broadcast + narrow map, no shuffle); the scale
  * path blocks candidate pairs by a partition key (here: label; at 100 TB:
  * LSH bucket from random hyperplanes) so the pairwise stage is an
  * equi-join, never a cross product.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double.
    * `zip_with` + `aggregate` is a sequential left fold — deterministic
    * order, and stays a Catalyst expression (no UDF).
    */
  def dotD(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a float-array column, in double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity; for unit-normalized embeddings this equals dotD. */
  def cosine(a: Column, b: Column): Column = dotD(a, b) / (l2Norm(a) * l2Norm(b))

  /** Append a unit-normalized float copy of `embCol` as `outCol`. The
    * norm is hoisted into its OWN projection: referencing the norm
    * aggregate inside the transform lambda would re-run it once per
    * element (no CSE across HOF lambda boundaries — the
    * q_boilerplate_scrub lesson), turning a linear map into a quadratic
    * one. A zero vector passes through unchanged so its pairwise dot
    * stays 0 rather than NaN (and NaN orders ABOVE every threshold in
    * Spark, which would pair every zero vector with everything). This is
    * the scale-right place to pay for true cosine: one normalization per
    * ROW, then the codegen dot per candidate pair.
    */
  def withUnitNorm(df: DataFrame, embCol: String, outCol: String): DataFrame =
    df.withColumn("__nrm", l2Norm(col(embCol)))
      .withColumn(outCol,
        when(col("__nrm") > 0d, transform(col(embCol),
          x => (x.cast("double") / col("__nrm")).cast("float")))
          .otherwise(col(embCol)))
      .drop("__nrm")

  /** `sig` plus every 1-bit flip of its low `bits` bits — the Hamming≤1
    * multi-probe set every hyperplane consumer shares (the embedding
    * index's probe side, [[topPairsPerBlockBounded]],
    * [[semanticDedupBounded]]'s hot cells). ONE definition, so the probe
    * contract cannot silently diverge between the ingest path, the band
    * table, and the bounded compares.
    */
  private def flipSigs(sig: Column, bits: Int): Seq[Column] =
    sig +: (0 until bits).map(b => sig.bitwiseXOR(lit(1L << b)))

  /** Brute-force top-k nearest to one probe vector. The probe side is a
    * 1-row frame broadcast to every partition; scoring is a narrow map over
    * the corpus; only the global top-k ordering shuffles (TakeOrdered).
    * Scores are rounded to 4dp BEFORE ordering so ties resolve by vec_id —
    * deterministic under any partitioning. Embeddings in the fixture are
    * unit-normalized (L2 == 1.0, verified), so dot == cosine.
    */
  def cosineTopK(emb: DataFrame, probeId: Long, k: Int): DataFrame = {
    graft.functions.DotProductF.register(emb.sparkSession)
    val probe = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    emb.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(expr("graft_dot_f(embedding, probe_emb)"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Metadata-filtered exact top-k: the corpus predicate is applied BEFORE
    * scoring, so it reaches the parquet scan (PushedFilters) and only the
    * eligible rows are ever scored — filter-then-score, never
    * score-then-filter (which at 100 TB pays the full dot-product pass to
    * then discard most of it). The probe row is looked up in the UNfiltered
    * table (the probe need not satisfy the predicate itself). At scale the
    * same contract is served from an IVF index by over-fetching per probed
    * cell and post-filtering; this exact path is the oracle-able baseline.
    */
  def cosineTopKFiltered(emb: DataFrame, probeId: Long, k: Int,
                         pred: Column): DataFrame = {
    graft.functions.DotProductF.register(emb.sparkSession)
    val probe = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    emb.filter(pred && col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(expr("graft_dot_f(embedding, probe_emb)"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Blocked near-duplicate candidate ranking: top-k most-similar pairs
    * within each block (candidate-generation key). The self-join is an
    * equi-join on the block key — pairwise work is quadratic only within a
    * block, which the blocking key keeps bounded.
    */
  def topPairsPerBlock(emb: DataFrame, blockCol: String, k: Int): DataFrame = {
    graft.functions.DotProductF.register(emb.sparkSession)
    val a = emb.select(col(blockCol).as("block"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = emb.select(col(blockCol).as("block"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        round(expr("graft_dot_f(emb_a, emb_b)"), 4).as("cos_sim"))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Seeded random-hyperplane bit signature of the embedding column: bit i
    * is sign(embedding · h_i) for `bits` deterministic pseudo-random unit
    * directions. Same plan shape as IVF assign — one codegen'd dot per
    * plane, zero shuffle.
    */
  def hyperplaneSig(emb: DataFrame, embCol: String, dim: Int, bits: Int,
                    seed: Long = 42L): Column = {
    require(bits >= 1 && bits <= 63,
      s"bits must be in [1, 63] (the signature is a long; 1L << $bits wraps)")
    graft.functions.DotProductF.register(emb.sparkSession)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bits)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    (0 until bits).map { i =>
      when(call_function("graft_dot_f", col(embCol), typedlit(planes(i))) > 0d,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Embedding width for the hyperplane family: the explicit `dim` if
    * given, else inferred from the first NON-NULL row. An EMPTY (or
    * all-null) frame infers 1 — no row ever evaluates a plane, and a
    * streaming foreachBatch loop legitimately delivers empty
    * micro-batches (a `.head()` here threw). Null rows are skipped
    * rather than crashing the probe: `size(null)` is null and
    * `getInt(0)` on it NPEs, so one adversarial null vector would
    * otherwise kill a whole ingest batch (r14 ADVICE).
    */
  private[ops] def inferDim(emb: DataFrame, embCol: String, dim: Int): Int =
    if (dim > 0) dim else inferDimOpt(emb, embCol).getOrElse(1)

  /** The raw head probe of [[inferDim]] — None on an empty or all-null
    * frame, so callers that must distinguish "no evidence" from
    * "dimension 1" (the VectorFlow params sidecar) can.
    */
  private[ops] def inferDimOpt(emb: DataFrame, embCol: String): Option[Int] =
    emb.filter(col(embCol).isNotNull)
      .select(size(col(embCol))).head(1).headOption
      .map(_.getInt(0))

  /** The family-f seed of the hyperplane family (golden-ratio stride so
    * families draw disjoint plane sets); family 0 IS the base seed, so
    * `families = 1` reproduces the single-family index bit for bit.
    */
  private def famSeed(seed: Long, f: Int): Long =
    if (f == 0) seed else seed + f.toLong * 0x9E3779B97F4A7C15L

  /** Single-family recall of the Hamming≤1 contract for a duplicate
    * pair at angle θ: each of the `bits` planes separates the pair with
    * probability θ/π independently, and home+1-flip probing recovers it
    * iff AT MOST ONE plane does — P(Binomial(bits, θ/π) ≤ 1). Matches
    * the measured EmbRecallProbe at 8a861d8 table to ~1% (SCALE.md r14).
    */
  def hammingLe1Recall(bits: Int, dupAngle: Double): Double = {
    require(bits >= 1 && dupAngle >= 0 && dupAngle <= math.Pi,
      s"bits >= 1 and angle in [0, pi] required, got ($bits, $dupAngle)")
    val p = dupAngle / math.Pi
    math.pow(1 - p, bits) + bits * p * math.pow(1 - p, bits - 1)
  }

  /** The bits/families sizing rule, codified from SCALE.md r14's
    * measured tables so operators don't hand-solve the trade:
    *
    *   1. recall wants bits LOW — pick the largest bits whose
    *      single-family Hamming≤1 recall at the duplicate angle meets
    *      `targetRecall` ([[hammingLe1Recall]]);
    *   2. occupancy wants bits HIGH — expected mean bucket occupancy is
    *      corpus / 2^bits with a FLOOR at the corpus's own duplicate-
    *      cluster size (near-twins share a signature no matter how many
    *      planes; the SCALE table's ~72-occupancy floor), estimated
    *      here from `sample`'s distinct home-signatures at a high-bits
    *      probe;
    *   3. if one family cannot serve both ends, raise bits until
    *      occupancy fits and buy the recall back with OR-amplified
    *      families: the smallest F with 1-(1-r)^F ≥ target (measured to
    *      match the analytic lift to ~1%).
    *
    * Returns (bits, families) — frozen index parameters for
    * [[embBandTable]] / [[embIndexIngest]] / [[graft.ops.VectorFlow]].
    * Throws if no (bits ≤ 63, families ≤ maxFamilies) meets both
    * constraints — an impossible ask should fail loudly, not silently
    * under-recall.
    */
  def sizeBands(sample: DataFrame, targetRecall: Double, dupAngle: Double,
                corpusSize: Long, maxAvgOccupancy: Double = 64.0,
                maxFamilies: Int = 8, embCol: String = "embedding",
                dim: Int = -1, seed: Long = 42L): (Int, Int) = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall in (0, 1) required, got $targetRecall")
    require(corpusSize >= 1, s"corpusSize >= 1 required, got $corpusSize")
    // null embeddings drop BEFORE the count (r15 ADVICE): they carry no
    // signature information but each counted toward n while collapsing
    // into one null 48-bit signature, inflating the cluster-floor
    // estimate on a null-heavy sample
    val nn = sample.filter(col(embCol).isNotNull)
    val n = nn.count()
    require(n > 0, "sizeBands needs a sample with non-null embeddings")
    // duplicate-cluster floor: at a high-bits probe only true near-twins
    // share a home signature, so sample/distinct ≈ mean cluster size.
    // Stated limit (r15 ADVICE): the 48-bit probe groups NEAR-IDENTICAL
    // twins only — clusters spread at the threshold angle itself mostly
    // split at 48 bits, so the floor is a lower bound; a corpus whose
    // duplicate mass sits AT the angle can exceed the occupancy target
    // the rule solves for (the hot-bucket cap is the runtime backstop).
    val d = Similarity.inferDim(nn, embCol, dim)
    val probeBits = 48
    val distinctSigs = nn
      .select(hyperplaneSig(nn, embCol, d, probeBits, seed).as("sig"))
      .distinct().count()
    val clusterFloor = n.toDouble / math.max(distinctSigs, 1L)
    def occ(bits: Int): Double =
      math.max(corpusSize.toDouble / math.pow(2.0, bits), clusterFloor)
    def r1(bits: Int): Double = hammingLe1Recall(bits, dupAngle)
    // r1 is monotone decreasing in bits; occ is monotone non-increasing
    val bitsSolo = (1 to 63).takeWhile(r1(_) >= targetRecall).lastOption
    bitsSolo.filter(b => occ(b) <= maxAvgOccupancy) match {
      case Some(b) => (b, 1)
      case None =>
        val bits = (bitsSolo.getOrElse(1) to 63)
          .find(occ(_) <= maxAvgOccupancy)
          .getOrElse(throw new IllegalArgumentException(
            f"no bits <= 63 reaches mean occupancy <= $maxAvgOccupancy " +
              f"for corpus $corpusSize (cluster floor $clusterFloor%.1f " +
              "exceeds it) — dedup the cluster mass with the hot-bucket " +
              "cap or semanticDedup first"))
        val r = r1(bits)
        val f = (1 to maxFamilies)
          .find(f => 1 - math.pow(1 - r, f) >= targetRecall)
          .getOrElse(throw new IllegalArgumentException(
            f"recall $targetRecall at angle $dupAngle%.3f unreachable " +
              f"with bits=$bits (occupancy-minimum) and families <= " +
              f"$maxFamilies: per-family recall $r%.3f"))
        (bits, f)
    }
  }

  /** Band string of family f's signature. With ONE family the raw
    * decimal signature (the original on-disk format); with several, a
    * `f:` prefix keeps the families' band spaces disjoint — a collision
    * between family 0's signature 37 and family 2's 37 means nothing.
    * `families` is a frozen index parameter like bits/seed/dim: one
    * index, one value.
    */
  private def bandStr(f: Int, sig: Column, families: Int): Column =
    if (families == 1) sig.cast("string")
    else concat(lit(s"$f:"), sig.cast("string"))

  /** The (doc_id, band) HOME-bucket table of an embedding frame — the
    * embedding analog of [[Dedup.lshBandTable]], sharing the same
    * persisted-index machinery ([[Dedup.BandIndex]]).
    * One row per (vector, family); band = that family's `bits`-bit
    * hyperplane signature as a string. `families > 1` is the
    * OR-amplification dial (the text index's numBands shape): a pair is
    * a candidate if ANY family puts them within Hamming 1, lifting
    * recall r to 1-(1-r)^families at families× index rows — the move
    * when one family cannot serve both occupancy (wants bits high) and
    * recall at the duplicate angle (wants bits low); measured in
    * SCALE.md (EmbRecallProbe at 8a861d8).
    */
  def embBandTable(emb: DataFrame, idCol: String, embCol: String,
                   bits: Int = 8, seed: Long = 42L,
                   dim: Int = -1, families: Int = 1): DataFrame = {
    require(families >= 1, s"families must be >= 1, got $families")
    val d = inferDim(emb, embCol, dim)
    val bands = (0 until families).map(f =>
      bandStr(f, hyperplaneSig(emb, embCol, d, bits, famSeed(seed, f)),
        families))
    if (families == 1)
      emb.select(col(idCol).as("doc_id"), bands.head.as("band"))
    else
      emb.select(col(idCol).as("doc_id"),
        explode(array(bands: _*)).as("band"))
  }

  /** [[embBandTable]] plus every 1-bit flip per family — the multi-probe
    * PROBE side (recovers pairs straddling one hyperplane, exactly
    * [[topPairsPerBlockBounded]]'s contract).
    */
  def embProbeTable(emb: DataFrame, idCol: String, embCol: String,
                    bits: Int = 8, seed: Long = 42L,
                    dim: Int = -1, families: Int = 1): DataFrame = {
    require(families >= 1, s"families must be >= 1, got $families")
    val d = inferDim(emb, embCol, dim)
    val probes = (0 until families).flatMap { f =>
      val sig = hyperplaneSig(emb, embCol, d, bits, famSeed(seed, f))
      flipSigs(sig, bits).map(s => bandStr(f, s, families))
    }
    emb.select(col(idCol).as("doc_id"),
      explode(array(probes: _*)).as("band"))
  }

  /** One checkpointed derivation of a batch's signatures, unpacked into
    * the HOME rows (what the index stores) and the PROBE rows (home +
    * every 1-bit flip per family): the ingest flow references the signed
    * batch from three separate actions (touched-bucket collect,
    * candidate join, append), and without the checkpoint each re-runs
    * the signature dots (same rationale as [[Dedup]]'s ckptBands).
    * Batch-bounded by the ingest contract; constraints dropped like
    * every checkpoint here.
    */
  private[graft] def signedBatch(arrivals: DataFrame, idCol: String,
                               embCol: String, bits: Int, seed: Long,
                               dim: Int, families: Int): (DataFrame, DataFrame) = {
    require(families >= 1, s"families must be >= 1, got $families")
    val d = inferDim(arrivals, embCol, dim)
    val sigCols = (0 until families).map(f =>
      hyperplaneSig(arrivals, embCol, d, bits, famSeed(seed, f)).as(s"sig_$f"))
    val signed = org.apache.spark.sql.graftbridge.Bridge
      .dropCheckpointConstraints(
        arrivals.select((col(idCol).as("doc_id") +: sigCols): _*)
          .localCheckpoint())
    val homeCols = (0 until families).map(f =>
      bandStr(f, col(s"sig_$f"), families))
    val home =
      if (families == 1) signed.select(col("doc_id"), homeCols.head.as("band"))
      else signed.select(col("doc_id"),
        explode(array(homeCols: _*)).as("band"))
    val probeCols = (0 until families).flatMap(f =>
      flipSigs(col(s"sig_$f"), bits).map(s => bandStr(f, s, families)))
    (home, signed.select(col("doc_id"),
      explode(array(probeCols: _*)).as("band")))
  }

  /** Incremental EMBEDDING near-dup against a persisted hyperplane-bucket
    * index — the continuous-ingest shape for the vector side of the
    * corpus, completing the symmetry with the text band index
    * ([[Dedup.bandIndexIngest]]): the index stores each vector's HOME
    * bucket; an arriving batch probes its home bucket plus every 1-bit
    * flip against the bucket-PRUNED stored read (static partition
    * filter), then appends its home rows so the next batch sees it as
    * history. Candidate contract: (a, b) surfaces iff their home
    * signatures are within Hamming distance 1 (either side's flip probes
    * reach the other's home) and at least one side is an arrival — the
    * arrival-restricted full-corpus contract, found exactly once per
    * pair across a sharded feed (SimilaritySpec pins both, mirroring the
    * text index's OpsSpec pins). Bits/seed/dim/families are frozen index
    * parameters like the banding itself (`families > 1` widens the
    * contract to Hamming≤1 in ANY family — see [[embBandTable]]).
    * foreachBatch-serial writers, same single-writer contract and layout
    * sidecar as the text index (it IS the same on-disk machinery).
    *
    * HOT-BUCKET CAP: a saturated HOME bucket (a spam/boilerplate cluster
    * of near-identical vectors all hashing to one signature) makes the
    * exact probe emit O(occupancy · n_probe) pairs per batch. A finite
    * `maxBucket` routes through [[Dedup.boundedProbeCandidates]] (via
    * [[Dedup.multiProbeCandidates]]): cold buckets keep the exact join,
    * hot buckets emit the prober star onto the bucket representative
    * plus the min-chain bridge — linear output, connectivity preserved
    * across batches, suppression reported in the overflow frame. Both
    * routes are interchangeable on one index.
    */
  def embIndexIngest(path: String, arrivals: DataFrame,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     bits: Int = 8, seed: Long = 42L, dim: Int = -1,
                     buckets: Int = 16, families: Int = 1,
                     maxBucket: Int = Int.MaxValue): Dedup.BoundedCandidates = {
    val (home, probes) =
      signedBatch(arrivals, idCol, embCol, bits, seed, dim, families)
    val candidates = Dedup.multiProbeCandidates(
      Dedup.BandIndex.pruned(path, probes, buckets), home, probes,
      maxBucket)
    Dedup.BandIndex.append(path, home, buckets)
    candidates
  }

  /** Read-only [[embIndexIngest]] — probe without appending, from
    * PRECOMPUTED (doc_id, band) home/probe tables ([[signedBatch]], or
    * [[embBandTable]]/[[embProbeTable]]): a caller that already derived
    * — and pinned — the arrivals' signatures (the hyperplane dots are the
    * dominant CPU of the incremental-embedding keys) probes without
    * re-running them (r21). Same candidate contract and cap; under a
    * finite cap the overflow report is checkpointed, because a flow's
    * later commit appends to the index it reads.
    */
  def embIndexProbe(path: String, home: DataFrame, probes: DataFrame,
                    buckets: Int = 16,
                    maxBucket: Int = Int.MaxValue): Dedup.BoundedCandidates =
    Dedup.multiProbeCandidates(
      Dedup.BandIndex.pruned(path, probes, buckets), home, probes,
      maxBucket, pinOverflow = true)

  /** Keeper rule for [[semanticDedup]]: which member of a duplicate
    * group survives. [[KeepMinId]] is the deterministic stand-in (min
    * vec_id — the CC label itself); [[KeepFarFromCentroid]] is the
    * SemDeDup paper's rule — keep the member with the LOWEST cosine to
    * its cluster centroid, i.e. the one farthest from the cluster's
    * center of mass, maximizing diversity of the kept set (the paper's
    * measured-best policy). Ties (identical centroid cosine) break by
    * min vec_id, so both rules are deterministic under any partitioning.
    */
  sealed trait KeepRule
  case object KeepMinId extends KeepRule
  case object KeepFarFromCentroid extends KeepRule

  /** [[semanticDedupBounded]]'s return: the per-vector verdict plus the
    * honesty report — one row per cell routed through the hyperplane
    * sub-blocked compare (cell, n_rows, n_buckets, max_bucket), so
    * residual bucket skew inside a routed cell (an all-identical spam
    * cluster saturating one sign bucket) is visible, not silent.
    * `centroids` is the quantizer's (cell, centroid) table — exposed
    * (r19 verdict #1) so an in-query keeper-rule verdict can re-resolve
    * [[KeepFarFromCentroid]] from the emitted rows without re-running
    * the seeded build.
    */
  final case class SemDedup(result: DataFrame, routedCells: DataFrame,
                            centroids: DataFrame)

  /** Exact within-cell candidate pairs at cosine ≥ `minCos`: the cell
    * equi-join, quadratic only inside a cell. Input columns (vec_id,
    * embedding, cell). The threshold is TRUE cosine — each side is
    * unit-normalized once per row ([[withUnitNorm]]) and the per-pair op
    * stays the codegen dot; on already-unit input this is the plain dot
    * it always was, on unnormalized input it no longer silently compares
    * raw dot products against a cosine threshold (review find).
    */
  private def cellPairsExact(asg: DataFrame, minCos: Double): DataFrame = {
    val normed = withUnitNorm(asg, "embedding", "nemb")
    val a = normed.select(col("cell"), col("vec_id").as("id_a"),
      col("nemb").as("emb_a"))
    val b = normed.select(col("cell"), col("vec_id").as("id_b"),
      col("nemb").as("emb_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        expr("graft_dot_f(emb_a, emb_b)") >= minCos)
      .select(col("id_a"), col("id_b"))
  }

  /** Pairs → components → keeper: the shared tail of the semantic-dedup
    * family. Group = connected component of the ≥ minCos pair graph
    * (singletons are their own group); the keeper rule picks the
    * canonical. `min_by(vec_id, struct(cos_c, vec_id))` resolves
    * [[KeepFarFromCentroid]] in one partial-aggregable shuffle on the
    * group key — no window sort; the centroid join is broadcast
    * (nlist-bounded).
    */
  private def dedupFromPairs(asg: DataFrame, centroids: DataFrame,
                             pairs: DataFrame, keeper: KeepRule): DataFrame = {
    // r21: pin the verified pair table before CC — the generic op's
    // self-looper pass re-ran the cell-join + cosine chain a second
    // time (pairs are a<b by construction); batch CC counts + collects
    // from the pinned blocks.
    val pinned = org.apache.spark.sql.graftbridge.Bridge
      .dropCheckpointConstraints(pairs.localCheckpoint())
    val labels = Graph.batchComponents(
      pinned.select(col("id_a").as("src"), col("id_b").as("dst")))
    val grouped = asg
      .join(labels.withColumnRenamed("node_id", "vec_id"), Seq("vec_id"),
        "left")
      .select(col("vec_id"), col("cell"), col("embedding"),
        coalesce(col("component"), col("vec_id")).as("group"))
    val canon = keeper match {
      case KeepMinId =>
        // the CC label IS the min id of the group — no second pass
        grouped.select(col("vec_id"), col("cell"),
          col("group").as("canonical"))
      case KeepFarFromCentroid =>
        val withCos = grouped
          .join(broadcast(centroids.select(col("cell").cast("long").as("cell"),
            col("centroid"))), Seq("cell"))
          .withColumn("cos_c", cosine(col("embedding"), col("centroid")))
        val keepers = withCos.groupBy("group")
          .agg(min_by(col("vec_id"),
            struct(col("cos_c"), col("vec_id"))).as("canonical"))
        // rejoin from `grouped`, not withCos: the probe side needs no
        // cosine, so the centroid join + per-row cosine evaluate ONCE
        // (in the aggregation branch only) instead of twice per output
        // row (review find)
        grouped.select(col("vec_id"), col("cell"), col("group"))
          .join(keepers, Seq("group"))
          .select(col("vec_id"), col("cell"), col("canonical"))
    }
    canon.withColumn("is_dup",
      (col("vec_id") =!= col("canonical")).cast("int"))
  }

  /** SemDeDup-style semantic deduplication — the published
    * cluster-then-compare method for pretraining corpora: k-means the
    * embeddings (the IVF quantizer, reused verbatim), compare pairs ONLY
    * within a cluster cell, connect pairs with cosine ≥ `minCos`, and
    * keep one canonical representative per connected group (`keeper`
    * picks which — min id, or the paper's farthest-from-centroid).
    * Candidate generation is the cell equi-join — pairwise work is
    * quadratic only WITHIN a cell, so per-cell cost is (n/nlist)² and
    * `nlist` is the scale dial (size it with the corpus exactly like the
    * serving index; the method's own contract — SemDeDup runs k-means
    * for this reason). Never all-pairs; on an adversarial giant cell
    * that defeats any nlist, use [[semanticDedupBounded]].
    * Returns one row per input vector:
    * (vec_id, cell, canonical, is_dup).
    */
  def semanticDedup(emb: DataFrame, nlist: Int = 16, minCos: Double = 0.99,
                    iters: Int = 3, seed: Long = 42L,
                    keeper: KeepRule = KeepMinId,
                    route: IvfIndex.AssignRoute = IvfIndex.FlatAssign)
      : DataFrame = {
    graft.functions.DotProductF.register(emb.sparkSession)
    val model = IvfIndex.build(
      emb.select(col("vec_id"), col("embedding")), nlist, iters, seed,
      route = route)
    val asg = model.assignments.select(col("vec_id"), col("embedding"),
      col("cell"))
    dedupFromPairs(asg, model.centroids, cellPairsExact(asg, minCos), keeper)
  }

  /** [[semanticDedup]] with the giant-cell guard: a cell holding more
    * than `maxCell` rows (one semantic mega-cluster — half the corpus in
    * one k-means cell — is the adversarial input no nlist fixes) is
    * routed through hyperplane sub-blocking instead of the exact
    * within-cell quadratic: members compare only within (cell, sign
    * bucket), probing every 1-bit flip of their `bits`-bit signature
    * ([[topPairsPerBlockBounded]]'s machinery), so per-task pair work
    * drops from |cell|² to Σ occupancy² over ~|cell|/2^bits buckets.
    * Every emitted pair is still cosine-verified at `minCos` — the
    * approximation is RECALL only (a pair straddling ≥ 2 hyperplanes is
    * not probed; at the 0.99-cosine duplicate angle the 1-bit probe
    * recall is the measured ≥ 0.98 contract of SCALE.md). Cold cells
    * are byte-identical to [[semanticDedup]]. Routed cells are
    * REPORTED, not silent: `routedCells` lists (cell, n_rows,
    * n_buckets, max_bucket), so a saturated sign bucket inside a routed
    * cell — the spam shape [[embIndexIngest]] caps on the index
    * path — is visible to the operator.
    */
  def semanticDedupBounded(emb: DataFrame, nlist: Int = 16,
                           minCos: Double = 0.99, iters: Int = 3,
                           seed: Long = 42L, maxCell: Int = 100000,
                           bits: Int = 8, dim: Int = -1,
                           keeper: KeepRule = KeepMinId,
                           route: IvfIndex.AssignRoute = IvfIndex.FlatAssign)
      : SemDedup = {
    graft.functions.DotProductF.register(emb.sparkSession)
    val d = inferDim(emb, "embedding", dim)
    val model = IvfIndex.build(
      emb.select(col("vec_id"), col("embedding")), nlist, iters, seed,
      route = route)
    val asg = model.assignments.select(col("vec_id"), col("embedding"),
      col("cell"))
    val hot = asg.groupBy("cell").count()
      .filter(col("count") > maxCell)
      .select(col("cell"))
    // ≤ nlist rows by construction — broadcast the routing decision
    val tagged = asg.join(broadcast(hot.withColumn("is_hot", lit(true))),
      Seq("cell"), "left")
    val coldPairs = cellPairsExact(tagged.filter(col("is_hot").isNull)
      .drop("is_hot"), minCos)
    // checkpoint the signed hot rows: probes, the build side, and the
    // routedCells report each reference this frame from separate
    // actions, and without the checkpoint each re-runs the assignment
    // join + `bits` signature dots per row (signedBatch's rationale;
    // review find). nemb: the pair threshold is TRUE cosine, normalized
    // once per row like cellPairsExact (the sign bits are
    // scale-invariant, so the signature stays on the raw embedding).
    val hotRows = org.apache.spark.sql.graftbridge.Bridge
      .dropCheckpointConstraints(
        withUnitNorm(tagged.filter(col("is_hot")).drop("is_hot"),
            "embedding", "nemb")
          .withColumn("sig", hyperplaneSig(emb, "embedding", d, bits, seed))
          .drop("embedding")
          .localCheckpoint())
    val probes = hotRows.select(col("cell"), col("vec_id"), col("nemb"),
      explode(array(flipSigs(col("sig"), bits): _*)).as("bucket"))
    val build = hotRows.select(col("cell"), col("sig").as("bucket"),
      col("vec_id").as("id_b"), col("nemb").as("emb_b"))
    val hotPairs = probes.join(build, Seq("cell", "bucket"))
      .filter(col("vec_id") < col("id_b") &&
        call_function("graft_dot_f", col("nemb"), col("emb_b")) >= minCos)
      .select(col("vec_id").as("id_a"), col("id_b"))
      .distinct() // a pair can surface via both sides' flip probes
    val result = dedupFromPairs(asg, model.centroids,
      coldPairs.unionByName(hotPairs), keeper)
    val routed = hotRows
      .groupBy(col("cell"), col("sig"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("cell"))
      .agg(sum(col("occ")).as("n_rows"),
        count(lit(1)).as("n_buckets"), max(col("occ")).as("max_bucket"))
    SemDedup(result, routed, model.centroids)
  }

  /** Sub-blocked near-duplicate ranking — the bounded scale path for
    * [[topPairsPerBlock]] (soak showed in-block pairs grow quadratically
    * with block size). Candidates are generated within (block, hyperplane
    * bucket): near-identical vectors agree on every sign bit with high
    * probability, so `bits` controls the expected sub-block size
    * (≈ |block| / 2^bits for spread-out vectors) at a measured recall
    * cost for genuinely-near pairs (spec: recall vs the exact ranking).
    * Multi-probe: each vector also probes every 1-bit flip of its bucket,
    * which recovers pairs straddling one hyperplane — output stays an
    * equi-join on (block, bucket), never a block-wide cross product.
    */
  def topPairsPerBlockBounded(emb: DataFrame, blockCol: String, k: Int,
                              bits: Int = 8, seed: Long = 42L,
                              dim: Int = -1): DataFrame = {
    graft.functions.DotProductF.register(emb.sparkSession)
    // the hyperplane family needs the embedding dimension; callers that
    // know it pass it and skip the one-row probe job below (ADVICE r6 —
    // parquet array columns don't carry a length in the schema)
    val d = if (dim > 0) dim
            else emb.select(size(col("embedding"))).head().getInt(0)
    val sig = hyperplaneSig(emb, "embedding", d, bits, seed)
    val signed = emb.select(col(blockCol).as("block"), col("vec_id"),
      col("embedding"), sig.as("sig"))
    // probe side: home bucket plus every 1-bit flip (multi-probe)
    val probes = signed.withColumn("bucket",
      explode(array(flipSigs(col("sig"), bits): _*)))
    val build = signed.select(col("block"), col("sig").as("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairs = probes
      .join(build, Seq("block", "bucket"))
      .filter(col("vec_id") < col("id_b"))
      .select(col("block"), col("bucket"), col("vec_id").as("id_a"), col("id_b"),
        round(call_function("graft_dot_f", col("embedding"), col("emb_b")), 4)
          .as("cos_sim"))
    // two-stage exact top-k: rank within (block, bucket) first — many small
    // window partitions instead of one giant per-block sort (the 100×-soak
    // memory peak). Exact because any pair in the block top-k is beaten by
    // < k candidates overall, hence by < k within its own bucket, so it
    // survives stage 1; the same total order runs in both stages.
    val wBucket = Window.partitionBy(col("block"), col("bucket"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    val perBucket = pairs.withColumn("rnb", row_number().over(wBucket))
      .filter(col("rnb") <= k)
      .select(col("block"), col("id_a"), col("id_b"), col("cos_sim"))
      .distinct() // a pair can match via both sides' probes (distinct buckets)
    val w = Window.partitionBy(col("block"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    perBucket.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }
}
