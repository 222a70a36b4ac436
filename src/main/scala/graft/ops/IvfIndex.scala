package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the scale path for similarity search (north star). Brute-force
  * cosine ([[Similarity.cosineTopK]]) scans the whole corpus per probe; IVF
  * scans only the `nprobe` most promising of `nlist` coarse cells:
  *
  *  1. TRAIN: `nlist` coarse centroids by seeded k-means (Lloyd iterations
  *     — the same algorithm as the mesh pipeline's G1, here over vectors).
  *     Centroid table is dimension-sized (`nlist` rows) and broadcast.
  *  2. ASSIGN: each vector joins its nearest centroid → `(cell, vec)`
  *     inverted file, persisted as cell-partitioned data in real use.
  *  3. SEARCH: a probe ranks cells by centroid similarity, takes `nprobe`,
  *     and re-ranks EXACTLY (codegen dot product) only within those cells —
  *     an equi-join on cell id, never a corpus scan.
  *
  * Search cost drops by ~nlist/nprobe at a recall governed by nprobe —
  * the standard IVF trade (see FAISS-style IVF-Flat in the literature).
  */
object IvfIndex {

  final case class Model(centroids: DataFrame, assignments: DataFrame)

  /** Assignment route for [[build]]/[[append]]: [[FlatAssign]] is the
    * exact argmax over every centroid (the default — correct at any
    * nlist, compute-bound through ~8k cells); [[CoarseAssign]] is the
    * hierarchical coarse-quantizer route for PRODUCTION cell counts
    * (nlist ≥ ~10⁴, where the flat packed literal's planning cost turns
    * super-linear — SCALE.md r13 sweep). Coarse assignment is
    * approximate (exact within the probed coarse groups; `wProbe` is the
    * quality dial) — standard IVF practice, FAISS-style: cells are
    * buckets, membership optimality is a quality knob, never a
    * correctness condition. `wProbe = nCoarse` probes every group and is
    * pinned EXACTLY equal to [[FlatAssign]] (IvfIndexSpec).
    */
  sealed trait AssignRoute
  case object FlatAssign extends AssignRoute
  final case class CoarseAssign(nCoarse: Int = 128, wProbe: Int = 4)
      extends AssignRoute

  private def assignBy(route: AssignRoute)(emb: DataFrame,
                                           centroids: DataFrame): DataFrame =
    route match {
      case FlatAssign            => assign(emb, centroids)
      case CoarseAssign(nc, w)   => assignCoarse(emb, centroids, nc, w)
    }

  /** Bounded-cost row-count estimate: count `sampleParts` partitions of the
    * UNDECODED scan (`queryExecution.toRdd` — no row conversion) and
    * extrapolate by partition count. Building an index on a 100 TB corpus
    * must not scan it end to end just to pick a sampling fraction; this job
    * runs min(sampleParts, nParts) tasks, never one per partition (pinned by
    * a listener in IvfIndexSpec). The estimate only steers the
    * hash-threshold fraction — [[build]] re-checks the materialized sample
    * and widens on undershoot, so a skewed-partition misestimate costs one
    * extra map pass, never correctness.
    */
  private[graft] def approxCount(df: DataFrame, sampleParts: Int = 8): Long = {
    val rdd = df.queryExecution.toRdd
    val nParts = rdd.getNumPartitions
    if (nParts == 0) 0L
    else {
      val k = math.min(sampleParts, nParts)
      // STRIDED indices, not the 0..k prefix: ordered layouts (time-sorted
      // ingest, size-tiered compaction) make early partitions systematically
      // small or large; a spread sample at the same cost is far less
      // layout-sensitive (ADVICE r6). Distinct because nParts >= k makes
      // i*nParts/k strictly increasing.
      val idx = (0 until k).map(i => (i.toLong * nParts / k).toInt)
      val counts = df.sparkSession.sparkContext.runJob(
        rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
        },
        idx)
      math.ceil(counts.sum.toDouble * nParts / k).toLong
    }
  }

  private def dotF(spark: SparkSession) = {
    graft.functions.DotProductF.register(spark)
  }

  /** Materialize AND make an optimizer boundary: `localCheckpoint()` alone
    * preserves the origin plan's constraint set, and the packed-argmax
    * alias ("cell = -array_max(zip_with(...))") resurfacing downstream as
    * an inferred join predicate is at best a per-row recompute of the whole
    * assign and at worst WRONG — a constraint captured against one Lloyd
    * round's centroid literals re-applied to a frame assigned with LATER
    * centroids silently filters the rows whose cell moved between rounds
    * (observed: 12% of the corpus unreachable in full-probe search).
    */
  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
      df.localCheckpoint())

  /** Train `nlist` centroids with `iters` Lloyd rounds (seeded init by
    * hashing vec ids — deterministic), then assign every vector to its
    * nearest centroid. Centroids stay float arrays so the codegen dot
    * product applies end to end.
    *
    * Scale shape: training runs on a BOUNDED seeded sample (coarse k-means
    * quality saturates long before the corpus is exhausted — standard IVF
    * practice), and each Lloyd round is [[trainRound]] = zero-shuffle assign
    * + ONE map-combined shuffle moving nlist×dim doubles per partition.
    * Only the final full-corpus `assign` (a map pass) touches every row.
    */
  def build(emb: DataFrame, nlist: Int, iters: Int = 3, seed: Long = 42L,
            maxTrainRows: Long = 1L << 18,
            route: AssignRoute = FlatAssign): Model = {
    val spark = emb.sparkSession
    dotF(spark)
    require(maxTrainRows >= nlist, s"maxTrainRows ($maxTrainRows) < nlist ($nlist)")
    // Bounded, deterministic training sample: hash-threshold filter — a
    // distributed map-pass, no sort, no shuffle. Materialized once so the
    // Lloyd rounds never rescan the corpus. Sizing uses the partition-
    // sampled [[approxCount]], NOT a full count() — no full-corpus job runs
    // just to decide whether to sample. maxTrainRows = Long.MaxValue skips
    // even the estimate — for corpora the caller knows are small.
    val n = if (maxTrainRows == Long.MaxValue) 0L else approxCount(emb)
    val (train, trainIsCkpt) =
      if (n <= maxTrainRows) (emb, false)
      else {
        val den = 1L << 20
        def sampled(num: Long) =
          ckpt(emb.filter(pmod(xxhash64(col("vec_id"), lit(seed)), lit(den)) < lit(num)))
        // oversample ~25% so rounding of the hash fraction can't undershoot nlist
        var num = math.min(den, math.max(1L, (maxTrainRows * den) / n * 5 / 4))
        var t = sampled(num)
        // post-hoc guard for the approximate estimate: if the materialized
        // sample still undershoots nlist (n was badly over-estimated from a
        // skewed partition sample), widen the fraction 8x and refilter —
        // each retry is one map pass; counting t itself is cheap (it is
        // checkpointed and sample-sized). Terminates: num reaches den (= the
        // unsampled corpus) in O(log) retries. The superseded checkpoint is
        // unpersisted each retry — dead sample blocks must not pin executor
        // storage for the life of the build (ADVICE r6).
        while (t.count() < nlist && num < den) {
          num = math.min(den, num * 8)
          val prev = t
          t = sampled(num)
          org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(prev)
        }
        (t, true)
      }
    // deterministic init: rank sampled vectors by a seeded hash, take nlist
    var centroids = train
      .withColumn("__r", xxhash64(col("vec_id"), lit(seed)))
      .orderBy("__r").limit(nlist)
      .withColumn("cell", row_number().over(Window.orderBy("__r")).cast("long") - 1)
      .select(col("cell"), col("embedding").as("centroid"))
    for (i <- 0 until iters) {
      val prev = centroids
      centroids = ckpt(trainRound(train, centroids, route))
      // round r's checkpoint supersedes round r-1's; release it eagerly
      // (ADVICE r6). Guarded to i > 0: the round-0 input is the
      // (un-checkpointed) init PLAN, whose tree contains `train` —
      // unpersisting through it would release the sample mid-build.
      if (i > 0)
        org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(prev)
    }
    val model = Model(centroids, ckpt(assignBy(route)(emb, centroids)))
    // the training sample has served its purpose once the final centroids
    // and the full-corpus assignment are materialized
    if (trainIsCkpt)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(train)
    model
  }

  /** One Lloyd round: nearest-centroid assign (zero Exchange, unrolled
    * codegen argmax) then the element-wise member mean via the map-combined
    * [[graft.functions.VecMeanAgg]] vector aggregator — the WHOLE round is a
    * single Exchange of nlist×dim doubles per map partition (pinned in
    * PlanAuditSpec), vs the naive posexplode update's corpus×dim rows
    * through two. Empty cells drop out, exactly as Lloyd prescribes.
    */
  def trainRound(train: DataFrame, centroids: DataFrame,
                 route: AssignRoute = FlatAssign): DataFrame = {
    val vecMean = udaf(graft.functions.VecMeanAgg)
    assignBy(route)(train, centroids)
      .groupBy("cell")
      .agg(vecMean(col("embedding")).as("centroid"))
  }

  /** Nearest-centroid assignment with ZERO shuffle: the centroid table is
    * nlist rows (dimension-bounded, like every broadcast dim), so collect
    * it once, embed ALL centroids as one 2-D array literal, and compute the
    * argmax as a single packed expression per row —
    * `array_max(zip_with(scores, -cells, struct))` — linear in nlist with
    * no per-centroid column (an earlier per-centroid unrolled-column shape
    * fell off whole-stage codegen past `spark.sql.codegen.maxFields` = 100
    * columns and went super-linear: 11 s vs 0.2 s for nlist=256 on a 20k
    * corpus, `tools/IvfAssignBench` at 8a861d8). No window, no exchange — a 100 TB
    * corpus assigns in one map pass. Ties break to the lowest cell
    * (struct comparison on (score, -cell) descending).
    *
    * Above `maxPackedCells` (centroid-literal size guard: the packed
    * literal rides every task binary), falls back to one partial-aggregated
    * shuffle: `groupBy(vec_id).agg(max_by(...))` — still never nlist× the
    * corpus through an exchange.
    */
  def assign(emb: DataFrame, centroids: DataFrame,
             maxPackedCells: Int = 4096): DataFrame = {
    dotF(emb.sparkSession)
    val cents = centroids.select(col("cell").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "assign: empty centroid table")
    if (cents.length <= maxPackedCells) {
      val scores = transform(typedlit(cents.map(_._2)),
        c => call_function("graft_dot_f", col("embedding"), c))
      val best = array_max(zip_with(scores, typedlit(cents.map(-_._1)),
        (s, negCell) => struct(s.as("s"), negCell.as("c"))))
      emb.withColumn("cell", -best.getField("c"))
    } else {
      val others = emb.columns.filterNot(_ == "vec_id").toIndexedSeq
      argmaxPerVec(
        emb.crossJoin(broadcast(centroids))
          .withColumn("__score", expr("graft_dot_f(embedding, centroid)")),
        others, "cell")
    }
  }

  /** Hierarchical (coarse-quantized) assignment — the production-nlist
    * route (VERDICT r12 #6): past nlist ≈ 8–16k the flat [[assign]] hits
    * its measured cliff (`tools/IvfAssignBench` at 8a861d8: the packed literal's
    * one-time planning cost turns super-linear at 4 MB/16k cells — 26 s
    * cold — and the max_by fallback pushes corpus × nlist scored rows
    * through its partial aggregate). This is the standard IVF answer:
    *
    *   1. cluster the CENTROID TABLE itself into `nCoarse` groups (an
    *      nlist-row job — trivial at any corpus size);
    *   2. per vector, pick the top-`wProbe` coarse groups by packed
    *      argmax over the nCoarse-bounded coarse-centroid literal;
    *   3. broadcast the (fine_cell, coarse, centroid) tag table (nlist
    *      rows — a dimension-bounded dim, NOT a plan literal, so no
    *      codegen/planning blow-up) and equi-join on the probed coarse
    *      group: exact argmax over only the probed groups' members.
    *
    * Scored rows: corpus × (nCoarse + wProbe × nlist/nCoarse) instead of
    * corpus × nlist — 23× fewer at nlist=16384 with the defaults. The
    * assignment is APPROXIMATE (exact within the probed coarse groups;
    * a vector whose true cell hides in an unprobed group mis-assigns —
    * measured ≥ 0.97 agreement with exact at the defaults,
    * IvfIndexSpec/IvfAssignBench at 8a861d8). Standard IVF practice: membership
    * quality degrades gracefully and search correctness never depends on
    * assignment optimality — cells are just buckets. Deterministic given
    * the build seed, like [[assign]].
    */
  def assignCoarse(emb: DataFrame, centroids: DataFrame,
                   nCoarse: Int = 128, wProbe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    dotF(spark)
    val coarseModel = build(
      centroids.select(col("cell").as("vec_id"), col("centroid").as("embedding")),
      nlist = nCoarse, iters = 2, maxTrainRows = Long.MaxValue)
    // Materialize the whole (fine_cell, coarse, fine_centroid) tag table
    // DRIVER-SIDE — nlist rows, dimension-bounded exactly like the packed
    // centroid literal this route replaces — so the nested build's
    // localCheckpoints can be released NOW instead of staying pinned in
    // executor storage for the life of the returned lazy plan. Repeated
    // assignCoarse calls in a long-lived session (per-append assignments,
    // bench loops) would otherwise accumulate one small coarse model each
    // (ADVICE r13). The member-group set falls out of the same collect.
    val tagRows = coarseModel.assignments.select(
      col("vec_id").as("fine_cell"), col("cell").as("coarse"),
      col("embedding").as("fine_centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    // MEMBER groups only (r13 review find): a coarse cell can survive the
    // Lloyd rounds yet end the FINAL assignment memberless; if every one
    // of a vector's top-w probed groups were such a cell, the inner join
    // would produce zero rows and the vector would silently VANISH from
    // the assignment (index data loss, not mere approximation).
    // Restricting the probe ranking to groups with >= 1 member makes the
    // top-1 probe always yield candidates — every vector assigns, by
    // construction.
    val memberGroups = tagRows.map(_._2).toSet
    val coarseCents = coarseModel.centroids
      .select(col("cell").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter(c => memberGroups.contains(c._1))
      .sortBy(_._1)
    require(coarseCents.nonEmpty, "assignCoarse: empty coarse centroid table")
    // nothing downstream references the coarse model's frames anymore —
    // release its checkpoints eagerly
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(
      coarseModel.centroids)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(
      coarseModel.assignments)
    import spark.implicits._
    val tagged = tagRows.toSeq.toDF("fine_cell", "coarse", "fine_centroid")
    val scores = transform(typedlit(coarseCents.map(_._2)),
      c => call_function("graft_dot_f", col("embedding"), c))
    // ascending struct sort on (-score, coarseId) = score desc, low-id ties
    val ranked = array_sort(zip_with(scores, typedlit(coarseCents.map(_._1)),
      (s, cid) => struct((-s).as("n"), cid.as("c"))))
    val probed = emb.withColumn("__probe",
      explode(transform(slice(ranked, 1, wProbe), p => p.getField("c"))))
    val others = emb.columns.filterNot(_ == "vec_id").toIndexedSeq
    argmaxPerVec(
      probed.join(broadcast(tagged), col("__probe") === col("coarse"))
        .withColumn("__score", expr("graft_dot_f(embedding, fine_centroid)")),
      others, "fine_cell")
  }

  /** Shared per-vector argmax unpack for [[assign]]'s max_by fallback and
    * [[assignCoarse]]: one partial-aggregated groupBy(vec_id) keeping the
    * best-scored candidate row (ties to the lowest cell), original columns
    * restored plus `cell`.
    */
  private def argmaxPerVec(scored: DataFrame, others: IndexedSeq[String],
                           cellCol: String): DataFrame =
    scored.groupBy("vec_id")
      .agg(max_by(
        struct(others.map(col) :+ col(cellCol).as("cell"): _*),
        struct(col("__score"), col(cellCol) * lit(-1L))).as("__best"))
      .select(col("vec_id") +:
        (others.map(c => col(s"__best.$c").as(c)) :+ col("__best.cell").as("cell")): _*)

  /** Batched ANN top-k: many probes answered in ONE pass over the inverted
    * file — the shape a real pipeline needs (per-probe [[searchTopK]] calls
    * are a driver-side loop of tiny jobs; a 100 TB corpus serves probe
    * BATCHES). Per probe, the contract is identical to [[searchTopK]]:
    * rank cells by centroid score, keep `nprobe`, exact re-rank inside them
    * (4dp rounding, vec_id tie-break) — pinned by IvfIndexSpec equivalence.
    *
    * Plan shape: (probe × centroid) scoring is dim-bounded (P × nlist rows,
    * both sides small), the probed (cell, probe) table broadcasts, and the
    * corpus is touched by a single equi-join on cell — rows outside every
    * probed cell are never scanned. The only data-sized shuffle is the
    * per-probe top-k window over candidate rows (≈ P × nprobe × cell size).
    */
  def searchTopKBatch(model: Model, probeIds: Seq[Long], k: Int,
                      nprobe: Int): DataFrame =
    searchTopKBatch(model,
      model.assignments.filter(col("vec_id").isInCollection(probeIds))
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb")),
      k, nprobe,
      // probe ids ARE corpus vec_ids here, so "nearest neighbor of x" must
      // not be x itself
      excludeSelf = true)

  /** Probe-VECTOR batch search: callers that already hold the query
    * embeddings (the serving norm — the id overload above must scan the
    * inverted file just to look its probes up) pass them as a
    * (probe_id, probe_emb) frame, bounded by the probe batch size.
    *
    * The probed-cell table is collected ONCE (≤ probes × nprobe rows,
    * dimension-bounded like every driver-side point in this codebase) and
    * re-enters the plan as a LOCAL relation — one job instead of the
    * previous checkpoint + distinct-collect pair, and no checkpoint blocks
    * left pinning executor storage after the call (ADVICE r6). The distinct
    * cell list from the same rows is pushed as a LITERAL filter on the
    * corpus scan: on a [[save]]d cell-partitioned index that is
    * planning-time partition pruning — unprobed cell directories are never
    * opened, measured (not just planned) in `tools/IvfPruneBench` at 8a861d8.
    * Runtime-only DPP planned but did not shrink physical reads on this
    * shape, which is why the static filter exists.
    *
    * `excludeSelf` drops candidates whose vec_id equals the probe_id — the
    * id-based overload sets it (its probe ids ARE corpus ids); external
    * callers whose probe numbering is unrelated to corpus vec_ids must
    * leave it false, or a coincidental id collision silently costs one
    * valid neighbor per colliding probe (ADVICE r6).
    */
  def searchTopKBatch(model: Model, probes: DataFrame, k: Int,
                      nprobe: Int, excludeSelf: Boolean = false,
                      pred: Column = lit(true)): DataFrame = {
    val spark = model.centroids.sparkSession
    dotF(spark)
    val pc = probedCells(model, probes, nprobe)
    val pcRows = pc.collect()
    val probeCells = spark.createDataFrame(
      java.util.Arrays.asList(pcRows: _*), pc.schema)
    val cellList = pcRows.map(_.getLong(0)).distinct.toSeq
    val candidates = model.assignments
      .filter(col("cell").isInCollection(cellList)) // static partition prune
      // metadata predicate BEFORE scoring (filter-then-score): on a saved
      // index this conjoins with the cell list at the scan, so a filtered
      // search reads nprobe/nlist of a corpus and decodes only eligible
      // rows. Selective predicates thin each probed cell — callers raise
      // nprobe to hold recall (the standard filtered-ANN dial).
      .filter(pred)
      .join(broadcast(probeCells), Seq("cell"))
    (if (excludeSelf) candidates.filter(col("vec_id") =!= col("probe_id"))
     else candidates)
      .select(col("probe_id"), col("vec_id"),
        round(expr("graft_dot_f(embedding, probe_emb)"), 4).as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Persist the index as it would live at 100 TB: the centroid table as
    * one dimension-sized parquet, the inverted file CELL-PARTITIONED
    * (`partitionBy("cell")`) so the probed-cell list every search pushes
    * as a static `cell IN (...)` predicate becomes PLANNING-TIME directory
    * pruning — unprobed cells are never listed, let alone read off disk
    * (pinned in IvfIndexSpec, measured in `tools/IvfPruneBench` at 8a861d8).
    */
  def save(model: Model, path: String): Unit = {
    clearLayoutSidecar(model.centroids.sparkSession, path)
    clearStaleQuantSidecars(model.centroids.sparkSession, path, keep = "")
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // repartition BY cell before the partitioned write: an unrepartitioned
    // partitionBy emits one file per (task, cell) — measured 15,248 files
    // for a 20k-vector/8k-cell save (tools/IvfProdBench at 8a861d8), 65 s of commit
    // overhead for 5 MB of data. One corpus shuffle buys one file per cell.
    model.assignments.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
  }

  /** [[save]] with the inverted file SQ8-quantized ([[Quantize]]): member
    * embeddings are stored as 1-byte-per-dimension codes (≈4× smaller on
    * disk — the scan-bandwidth divisor at 100 TB), with the affine params
    * in a tiny sidecar table. [[load]] auto-detects the sidecar and
    * reconstructs the embedding column through the codegen decode kernel,
    * so every downstream path — search, append, refine, compact — works
    * unchanged on a quantized index; search pays only the grid error
    * (recall pinned in IvfIndexSpec). Centroids stay full precision: they
    * are nlist-bounded, and cell ranking quality is what nprobe depends on.
    */
  def saveQuantized(model: Model, path: String,
                    params: Quantize.Sq8Params): Unit = {
    val spark = model.centroids.sparkSession
    clearLayoutSidecar(spark, path)
    clearStaleQuantSidecars(spark, path, keep = "sq8_params")
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    model.assignments
      .withColumn("codes",
        Quantize.sq8Encode(model.assignments, col("embedding"), params))
      .drop("embedding")
      .repartition(col("cell")) // one file per cell (see save)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    import spark.implicits._
    Seq((params.offset.toSeq, params.scale.toSeq)).toDF("offset", "scale")
      .select(col("offset").cast("array<float>").as("offset"),
        col("scale").cast("array<float>").as("scale"))
      .write.mode("overwrite").parquet(s"$path/sq8_params")
  }

  /** [[saveQuantized]]'s PQ sibling: the inverted file stored as m-byte
    * product-quantization codes ([[Pq]]) with the codebook in a sidecar —
    * the deepest rung of the compression ladder (8 bytes per 64-dim
    * vector at m=8). Same transparency contract: [[load]] reconstructs
    * the embedding column through the codegen PQ decode, [[append]]
    * encodes arrivals under the saved codebook, and every search /
    * maintenance path runs unchanged at PQ's measured recall
    * (QuantBench at 8a861d8; SCALE.md r8).
    */
  def saveQuantizedPq(model: Model, path: String, pq: Pq.PqModel): Unit = {
    val spark = model.centroids.sparkSession
    clearLayoutSidecar(spark, path)
    clearStaleQuantSidecars(spark, path, keep = "pq_params")
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    graft.functions.PqF.register(spark)
    model.assignments
      .withColumn("pq_codes", call_function("graft_pq_encode",
        col("embedding"), typedlit(pq.codebook), lit(pq.dsub)))
      .drop("embedding")
      .repartition(col("cell")) // one file per cell (see save)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    writePqSidecar(spark, path, pq)
  }

  private def writePqSidecar(spark: SparkSession, path: String,
                             pq: Pq.PqModel): Unit = {
    import spark.implicits._
    Seq((pq.m, pq.dsub, pq.k, pq.codebook.toSeq))
      .toDF("m", "dsub", "k", "codebook")
      .select(col("m"), col("dsub"), col("k"),
        col("codebook").cast("array<float>").as("codebook"))
      .write.mode("overwrite").parquet(s"$path/pq_params")
  }

  /** [[saveQuantized]]'s cell-bucketed sibling — the SQ8 counterpart of
    * [[saveQuantizedPqBucketed]] (same writer cliff: 215 s / 16k files at
    * nlist=16384 in IvfProdBench at 8a861d8). [[load]] reconstructs embeddings and
    * drops the bucket column, so the decode serving path runs unchanged;
    * the probed-cell filter pushes into row-group min/max inside the
    * constant-count bucket directories.
    */
  def saveQuantizedBucketed(model: Model, path: String,
                            params: Quantize.Sq8Params,
                            cellBuckets: Int = 256): Unit = {
    require(cellBuckets >= 1, s"cellBuckets must be >= 1, got $cellBuckets")
    val spark = model.centroids.sparkSession
    clearStaleQuantSidecars(spark, path, keep = "sq8_params")
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    model.assignments
      .withColumn("codes",
        Quantize.sq8Encode(model.assignments, col("embedding"), params))
      .drop("embedding")
      .withColumn("cbkt", cbktOf(cellBuckets))
      .repartition(col("cbkt"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").partitionBy("cbkt")
      .parquet(s"$path/assignments")
    import spark.implicits._
    Seq((params.offset.toSeq, params.scale.toSeq)).toDF("offset", "scale")
      .select(col("offset").cast("array<float>").as("offset"),
        col("scale").cast("array<float>").as("scale"))
      .write.mode("overwrite").parquet(s"$path/sq8_params")
    Seq(cellBuckets).toDF("cell_buckets")
      .write.mode("overwrite").parquet(s"$path/layout")
  }

  /** [[saveQuantizedPq]] in the CELL-BUCKETED layout for production cell
    * counts: one directory per cell stops scaling past nlist ≈ 1k — the
    * partitioned write commits nlist files, and every subsequent read
    * pays partition DISCOVERY over nlist directories (tools/IvfProdBench at 8a861d8:
    * 19.5 s warm ADC search at nlist=8192, dominated by listing ~7,600
    * dirs — and an object store pays it in LIST requests). Here cells
    * group into `cellBuckets` directories (`cbkt = cell mod B`) with
    * `cell` kept as a DATA column, sorted within files so each cell is a
    * contiguous run of row groups: the probed-cell read prunes to the
    * touched buckets (static partition filter) and pushes `cell IN (...)`
    * into the parquet scan (row-group min/max skip). The trade: a probe
    * touching C cells reads min(C, B) directories but only the matching
    * row groups inside them — coarser directory pruning, same row-level
    * selectivity, constant file count. [[searchTopKBatchAdc]] /
    * [[append]] / [[load]] / [[compact]] auto-detect the layout via the
    * sidecar; nlist ≤ ~1k should keep the per-cell layout (finer static
    * pruning at no listing cost — the r13 decision table's regime).
    */
  def saveQuantizedPqBucketed(model: Model, path: String, pq: Pq.PqModel,
                              cellBuckets: Int = 256): Unit = {
    require(cellBuckets >= 1, s"cellBuckets must be >= 1, got $cellBuckets")
    val spark = model.centroids.sparkSession
    clearStaleQuantSidecars(spark, path, keep = "pq_params")
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    graft.functions.PqF.register(spark)
    model.assignments
      .withColumn("pq_codes", call_function("graft_pq_encode",
        col("embedding"), typedlit(pq.codebook), lit(pq.dsub)))
      .drop("embedding")
      .withColumn("cbkt", cbktOf(cellBuckets))
      .repartition(col("cbkt"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").partitionBy("cbkt")
      .parquet(s"$path/assignments")
    writePqSidecar(spark, path, pq)
    import spark.implicits._
    Seq(cellBuckets).toDF("cell_buckets")
      .write.mode("overwrite").parquet(s"$path/layout")
  }

  private def cbktOf(cellBuckets: Int): org.apache.spark.sql.Column =
    pmod(col("cell"), lit(cellBuckets.toLong)).cast("int")

  /** A NON-bucketed save over a previously-bucketed path must remove the
    * stale layout sidecar, or layout auto-detection would filter on a
    * cbkt column the rewritten assignments no longer have (r14 review).
    */
  private def clearLayoutSidecar(spark: SparkSession, path: String): Unit =
    dropSidecar(spark, path, "layout")

  /** Re-saving an index under a DIFFERENT quantization must remove the
    * other codec's params sidecar (r14 ADVICE): a stale `pq_params` after
    * an SQ8 re-save makes [[searchTopKBatchAdc]] fail on the missing
    * pq_codes column (loud but misattributed), and a stale `sq8_params`
    * after a PQ re-save is consulted FIRST by [[load]]'s auto-detection —
    * silently decoding pq bytes as sq8 codes. Each save variant clears
    * every sidecar it does not itself write.
    */
  private def clearStaleQuantSidecars(spark: SparkSession, path: String,
                                      keep: String): Unit =
    Seq("sq8_params", "pq_params").filterNot(_ == keep)
      .foreach(dropSidecar(spark, path, _))

  private def dropSidecar(spark: SparkSession, path: String,
                          name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The bucketed-layout sidecar, if this index uses it. */
  private def layoutCellBuckets(spark: SparkSession,
                                path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/layout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(s"$path/layout").head().getInt(0))
  }

  /** The SQ8 sidecar of a saved index, if the index is quantized. */
  private def quantParams(spark: SparkSession,
                          path: String): Option[Quantize.Sq8Params] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/sq8_params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val row = spark.read.parquet(s"$path/sq8_params").head()
      Some(Quantize.Sq8Params(
        row.getAs[scala.collection.Seq[Float]]("offset").toArray,
        row.getAs[scala.collection.Seq[Float]]("scale").toArray))
    }
  }

  /** The PQ sidecar of a saved index, if the index is PQ-coded. */
  private def pqParams(spark: SparkSession,
                       path: String): Option[Pq.PqModel] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/pq_params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val row = spark.read.parquet(s"$path/pq_params").head()
      Some(Pq.PqModel(row.getAs[Int]("m"), row.getAs[Int]("dsub"),
        row.getAs[Int]("k"),
        row.getAs[scala.collection.Seq[Float]]("codebook").toArray))
    }
  }

  /** Incremental ingest into a [[save]]d index — the maintenance path a
    * continuously-arriving corpus needs (rebuilding a 100 TB inverted file
    * for each day's arrivals is a non-starter). New vectors are assigned
    * with the SAVED centroids (one zero-shuffle map pass over only the new
    * rows) and appended into the cell-partitioned inverted file: new files
    * land inside the existing `cell=...` directories, so a subsequent
    * [[load]] + [[searchTopKBatch]] sees old + new rows through the same
    * partition-pruned scan. The coarse quantizer is deliberately NOT
    * retrained — standard IVF maintenance: centroids drift slowly, and
    * assignment against fixed centroids keeps append idempotent-shaped and
    * cheap; quantizer refresh is an offline [[build]] + [[save]] rebuild.
    * Caller owns vec_id uniqueness across appends (same as any fact-table
    * append).
    */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             route: AssignRoute = FlatAssign): Unit = {
    val centroids = spark.read.parquet(s"$path/centroids")
    appendAssigned(spark, path, assignBy(route)(newVecs, centroids))
  }

  /** [[append]]'s post-assign tail — shared with [[maintainAppend]],
    * whose watch aggregate already assigned the batch once.
    */
  private def appendAssigned(spark: SparkSession, path: String,
                             assigned: DataFrame): Unit =
    writeAssignRows(spark, path, assigned, s"$path/assignments", "append")

  /** The encode-and-lay-out core of the assignment writers: encode under
    * the index's saved quantization (if any), land in the index's layout
    * (cbkt dirs or per-cell dirs), at `target` with `mode`. Factored out
    * so the ledgered maintain path can stage the SAME bytes into a
    * pending dir ([[stagedAssignAppend]]) instead of appending directly.
    */
  private def writeAssignRows(spark: SparkSession, path: String,
                              assigned: DataFrame, target: String,
                              mode: String): Unit = {
    // a quantized index stays quantized: encode arrivals under the SAVED
    // params (the quantization grid / codebook is part of the index
    // contract, like the frozen centroids — refitting per append would
    // make codes incomparable across files)
    val out = quantParams(spark, path) match {
      case Some(params) =>
        assigned.withColumn("codes",
            Quantize.sq8Encode(assigned, col("embedding"), params))
          .drop("embedding")
      case None => pqParams(spark, path) match {
        case Some(pq) =>
          graft.functions.PqF.register(spark)
          assigned.withColumn("pq_codes", call_function("graft_pq_encode",
              col("embedding"), typedlit(pq.codebook), lit(pq.dsub)))
            .drop("embedding")
        case None => assigned
      }
    }
    layoutCellBuckets(spark, path) match {
      case Some(b) => // bucketed index: arrivals land in their cbkt dirs
        out.withColumn("cbkt", cbktOf(b))
          .repartition(col("cbkt")).sortWithinPartitions("cell")
          .write.mode(mode).partitionBy("cbkt").parquet(target)
      case None =>
        // repartition BY cell first — un-repartitioned partitionBy emits
        // one file per (task, cell): 32 tasks × nlist cells ≈ 8k files
        // PER APPEND (save()'s measured 15,248-file lesson applied to
        // the append path, where a maintenance loop pays it every batch)
        out.repartition(col("cell"))
          .write.mode(mode).partitionBy("cell").parquet(target)
    }
  }

  /** Lane-qualified names for the ledgered maintain protocol (r19 —
    * the in-loop serving wiring): a serving index maintained by
    * SEVERAL streaming feeds (the unified ingest loop plus both
    * late-correction steps) sees each feed's foreachBatch ids start at
    * 0 independently, so one max-id ledger would let feed B's batch 0
    * be "skipped" by feed A's batch 5. Each feed passes a `lane` —
    * lowercase alphanumeric, no separators (the dash is the name
    * delimiter) — and gets its OWN ledger file and footprint namespace;
    * ids are monotonic per lane (foreachBatch's contract), which is all
    * the per-lane max-id ledger needs. The empty lane is the original
    * single-caller protocol, byte-compatible with existing indexes.
    */
  private def laneTag(lane: String): String = {
    require(lane.matches("[a-z0-9]*"),
      s"maintain lane must be lowercase alphanumeric, got '$lane'")
    // a lane spelled like a batch id ("b5") would make lane footprints
    // `maint-b5-b<k>-*` MATCH the legacy empty-lane wipe glob
    // `maint-b5-*` — a legacy caller's torn retry of batch 5 could then
    // wipe lane "b5"'s already-applied assignment rows on the same
    // index (r19 ADVICE). The two namespaces must never overlap.
    require(!lane.matches("b[0-9]+"),
      s"maintain lane '$lane' collides with the legacy batch-footprint " +
        "namespace (b<digits>) — pick a lane not of that form")
    if (lane.isEmpty) "" else s"$lane-"
  }
  private def ledgerName(lane: String): String =
    if (lane.isEmpty) "_maintain_ledger" else s"_maintain_ledger_$lane"

  /** The maintain batch ledger (`_maintain_ledger`, per lane): the last
    * APPLIED ledgered batch id, a [[StagedSwap.writeRecord]] record like
    * the flow cursors. A batch id at or below the recorded one is already
    * fully in the stores and must not mutate again.
    */
  private[graft] def readMaintainLedger(fs: FileSystem, path: String,
                                        lane: String): Option[Long] =
    StagedSwap.readRecord(fs, new Path(path, ledgerName(lane)))(
      s => scala.util.Try(s.trim.toLong).toOption)

  private[graft] def writeMaintainLedger(fs: FileSystem, path: String,
                                         id: Long, lane: String): Unit =
    StagedSwap.writeRecord(fs, new Path(path, ledgerName(lane)), id.toString)

  /** The drift sidecar (`_graft_maintain.json`): the maintained baseline
    * cosine and the consecutive-drift streak, a [[StagedSwap.writeRecord]]
    * record.
    */
  private[graft] def readMaintainSidecar(
      fs: FileSystem, path: String): Option[(Double, Long)] =
    StagedSwap.readRecord(fs, new Path(path, MaintainSidecar)) { body =>
      """"baselineCos"\s*:\s*(-?[0-9.eE+-]+)""".r.findFirstMatchIn(body)
        .map { m =>
          // pre-streak sidecars read streak 0 (stamped by earlier rounds)
          val s = """"driftStreak"\s*:\s*([0-9]+)""".r.findFirstMatchIn(body)
            .map(_.group(1).toLong).getOrElse(0L)
          (m.group(1).toDouble, s)
        }
    }

  private[graft] def writeMaintainSidecar(fs: FileSystem, path: String,
                                          baseline: Double,
                                          streak: Long): Unit =
    StagedSwap.writeRecord(fs, new Path(path, MaintainSidecar),
      s"""{"baselineCos":$baseline,"driftStreak":$streak}""")

  private val MaintainSidecar = "_graft_maintain.json"

  /** Carry every lane's maintain ledger (`_maintain_ledger*`, a tmp-only
    * one healed first) into a staged swap tmp — the new index CONTAINS
    * every ledgered batch from every lane, so forgetting any one would
    * let a crash-replay double-insert it.
    */
  private def carryMaintainLedgers(fs: FileSystem, path: String,
                                   tmp: String): Unit =
    Option(fs.globStatus(new Path(path, "_maintain_ledger*")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripSuffix(".tmp")
        .stripPrefix("_maintain_ledger").stripPrefix("_"))
      .distinct
      .foreach(lane => readMaintainLedger(fs, path, lane)
        .foreach(writeMaintainLedger(fs, tmp, _, lane)))

  /** Remove every file a previous (possibly torn) attempt of ledgered
    * batch `id` left behind: the deterministic `maint-[<lane>-]b<id>-*`
    * part files under assignments and the batch's occupancy delta file.
    */
  private def wipeBatchFootprint(spark: SparkSession, path: String,
                                 id: Long, lane: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val tag = laneTag(lane)
    val glob = new org.apache.hadoop.fs.Path(
      s"$path/assignments/*/maint-${tag}b$id-*")
    Option(fs.globStatus(glob)).getOrElse(Array.empty)
      .foreach(st => fs.delete(st.getPath, false))
    val delta = new org.apache.hadoop.fs.Path(
      s"$path/occupancy/delta-${tag}b$id.parquet")
    if (fs.exists(delta)) fs.delete(delta, false)
    val pending = new org.apache.hadoop.fs.Path(
      s"$path/assignments_pending_${tag}b$id")
    if (fs.exists(pending)) fs.delete(pending, true)
  }

  /** The batch's occupancy delta as ONE deterministically-named flat
    * file inside `occupancy/` (`delta-b<id>.parquet`) — idempotent under
    * retry (the wipe removed any previous attempt), and the summed read
    * path is unchanged (spark reads every file in the flat dir).
    */
  private def writeOccupancyDelta(spark: SparkSession, path: String,
                                  id: Long, counts: DataFrame,
                                  lane: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val tag = laneTag(lane)
    val tmpDir = new org.apache.hadoop.fs.Path(
      s"$path/occupancy/.delta-${tag}b$id.tmp")
    counts.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir)
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new java.io.IOException(
        s"occupancy delta write produced no parquet file under $tmpDir"))
    val fin = new org.apache.hadoop.fs.Path(
      s"$path/occupancy/delta-${tag}b$id.parquet")
    StagedSwap.rename(fs, part, fin)
    fs.delete(tmpDir, true)
  }

  /** Stage the batch's assignment rows into a pending dir, then move
    * each part file to its mirrored layout dir under a DETERMINISTIC
    * name (`maint-b<id>-<k>.parquet`) — so a retry can wipe exactly this
    * batch's footprint and redo it, whatever the crash point.
    */
  private def stagedAssignAppend(spark: SparkSession, path: String,
                                 assigned: DataFrame, id: Long,
                                 lane: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val tag = laneTag(lane)
    val pending = s"$path/assignments_pending_${tag}b$id"
    writeAssignRows(spark, path, assigned, pending, "overwrite")
    val pendingPath = new org.apache.hadoop.fs.Path(pending)
    val parts = fs.listStatus(pendingPath)
      .filter(_.isDirectory) // cell=N / cbkt=N dirs
      .sortBy(_.getPath.getName)
      .flatMap { dir =>
        fs.listStatus(dir.getPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
          .map(st => (dir.getPath.getName, st.getPath))
      }
    parts.zipWithIndex.foreach { case ((layoutDir, src), k) =>
      val destDir = new org.apache.hadoop.fs.Path(
        s"$path/assignments/$layoutDir")
      fs.mkdirs(destDir)
      val dest = new org.apache.hadoop.fs.Path(destDir,
        s"maint-${tag}b$id-$k.parquet")
      StagedSwap.rename(fs, src, dest)
    }
    fs.delete(pendingPath, true)
  }

  /** [[maintainAppend]]'s report — the numbers an operator (or the
    * maintenance loop itself) acts on, and the `action` the watch
    * recommends:
    *   - `ok` — keep appending at frozen centroids;
    *   - `refine` — some cell's occupancy (tracked incrementally in the
    *     `occupancy/` delta ledger, never by rescanning the index)
    *     crossed `maxCellRows`: split the hot cells ([[refineInPlace]]
    *     — the drift study's measured right fix for a tight new
    *     modality, which is ONE k-means cell however fresh the
    *     centroids);
    *   - `retrain` — the batch's mean assign-cosine fell more than
    *     `driftMargin` below the maintained baseline (with no hot
    *     cells, or for the SECOND consecutive watch even with them —
    *     `driftStreak`, persisted in the sidecar): the incoming
    *     DISTRIBUTION moved away from every centroid, which cell
    *     splitting cannot fix — apply [[retrainInPlace]] (fed by the
    *     kept-vector store for quantized indexes) or an offline
    *     [[build]]+[[save]];
    *   - `purge` — tombstoned rows ([[maintainRemove]]) crossed
    *     `maxTombstoneFrac` of the physical index with nothing more
    *     urgent firing (refine/retrain purge as a side effect): apply
    *     [[purgeInPlace]] — an evict-heavy, drift-free corpus would
    *     otherwise filter a growing dead fraction on every scan
    *     forever (r17 verdict #3).
    */
  final case class MaintainWatch(appended: Long, maxCell: Long,
                                 cap: Long, hotCells: Long,
                                 meanAssignCos: Double,
                                 baselineCos: Double, action: String,
                                 driftStreak: Long = 0L,
                                 tombstoneFrac: Double = 0.0)

  /** Continuous SERVING-index maintenance (r15 verdict #4): the corpus
    * flows land kept vectors and indexes build/save/compact, but
    * nothing MAINTAINED a serving IVF index as the kept corpus grew —
    * a rebuild from `vectors/` was the only route. This is the
    * maintenance step: [[append]]'s assign-at-frozen-centroids write
    * plus the WATCH that says when frozen centroids stop being
    * honest:
    *
    *   - occupancy is tracked in an APPEND-ONLY delta ledger
    *     (`occupancy/` — (cell, cnt) rows per batch, seeded once from
    *     the existing assignments on first call, summed on read:
    *     nlist-bounded rows, never an index rescan);
    *   - drift is the batch's mean cosine to its assigned centroid vs
    *     a baseline stamped on the first maintained batch
    *     (`_graft_maintain.json`, tmp+rename) — a corpus already
    *     drifted before maintenance starts should rebuild first.
    *
    * The batch is assigned ONCE (shared by the watch aggregate and the
    * append write). Caller owns vec_id uniqueness and the single-writer
    * contract, and acts on [[MaintainWatch.action]] — this step never
    * re-clusters behind the caller's back (`tools/IvfServeSoak` at 8a861d8 is the
    * measured loop: recall@10 flat across 20+ appended batches, the
    * watch firing on a planted tight modality, refine recovering it).
    *
    * CRASH CONTRACT (r16 ADVICE): pass `batchId >= 0` from any caller
    * that can redeliver a batch (a foreachBatch loop, a retrying job).
    * The ledgered protocol is exactly-once under any crash/replay
    * interleaving: an already-applied id skips the mutation entirely
    * (`_maintain_ledger`); a fresh attempt first WIPES the batch's
    * previous (possibly torn) footprint — its `maint-b<id>-*`
    * assignment files and its `delta-b<id>.parquet` occupancy file are
    * deterministically named for exactly this — then writes the
    * occupancy delta BEFORE the assignment moves (a torn batch
    * OVER-counts occupancy transiently: the watch can only fire early,
    * never late), and commits the ledger last. The legacy `batchId < 0`
    * path keeps the delta-first ordering and its recovery recipe
    * (delete `occupancy/` to force the one-time re-seed from
    * assignments) but double-inserts if the caller retries — it exists
    * for one-shot interactive use only.
    *
    * `lane` (r19) namespaces the ledger and footprint for MULTI-FEED
    * maintenance — see [[laneTag]]: each streaming feed of one serving
    * index passes its own lane, and ids only need to be monotonic
    * within it. Feeds must still be mutually serialized (the
    * single-writer contract is per index, not per lane —
    * [[graft.streaming.StreamOps]] wraps a JVM monitor around it).
    */
  def maintainAppend(spark: SparkSession, path: String, batch: DataFrame,
                     maxCellRows: Long, driftMargin: Double = 0.05,
                     route: AssignRoute = FlatAssign,
                     batchId: Long = -1L,
                     maxTombstoneFrac: Double = 0.2,
                     lane: String = ""): MaintainWatch = {
    require(maxCellRows >= 1, s"maxCellRows must be >= 1, got $maxCellRows")
    val fs = StagedSwap.heal(spark, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val assigned = ckpt(assignBy(route)(batch, centroids))
    val occPath = s"$path/occupancy"
    if (!fs.exists(new org.apache.hadoop.fs.Path(occPath)))
      // one-time seed from the index as it stands (the only full pass
      // this ledger ever takes); cell cast LONG — a saved index's
      // partition column infers as int and would poison the ledger's
      // parquet schema against the long delta rows
      spark.read.parquet(s"$path/assignments")
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(occPath)
    val stats = assigned
      .join(broadcast(centroids), Seq("cell"))
      .agg(count(lit(1)).as("n"),
        avg(Similarity.cosine(col("embedding"), col("centroid"))).as("c"))
      .head()
    val appended = stats.getLong(0)
    val meanCos = if (appended == 0) 1.0 else stats.getDouble(1)
    // no sidecar yet: the first non-empty batch stamps its cosine as the
    // baseline (an empty batch reads 1.0 and stamps nothing)
    val (baseline, prevStreak) = readMaintainSidecar(fs, path).getOrElse {
      if (appended > 0) writeMaintainSidecar(fs, path, meanCos, 0L)
      (meanCos, 0L)
    }
    val applied = batchId >= 0 &&
      readMaintainLedger(fs, path, lane).exists(_ >= batchId)
    if (appended > 0 && !applied) {
      if (batchId >= 0) {
        // exactly-once ledgered mutation; see the scaladoc contract
        wipeBatchFootprint(spark, path, batchId, lane)
        writeOccupancyDelta(spark, path, batchId,
          assigned.groupBy(col("cell").cast("long").as("cell"))
            .agg(count(lit(1)).as("cnt")), lane)
        stagedAssignAppend(spark, path, assigned, batchId, lane)
        writeMaintainLedger(fs, path, batchId, lane)
      } else {
        // legacy one-shot path: delta FIRST (a torn batch over-counts
        // transiently; delete occupancy/ to re-seed), appends second —
        // retrying callers must pass batchId
        assigned.groupBy(col("cell").cast("long").as("cell"))
          .agg(count(lit(1)).as("cnt"))
          .write.mode("append").parquet(occPath)
        appendAssigned(spark, path, assigned)
      }
    }
    val occ = spark.read.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType))))
      .parquet(occPath)
      .groupBy("cell").agg(sum(col("cnt")).as("cnt"))
      .agg(coalesce(max(col("cnt")), lit(0L)).as("mx"),
        count(when(col("cnt") > maxCellRows, lit(1))).as("hot"),
        coalesce(sum(col("cnt")), lit(0L)).as("tot"))
      .head()
    val (maxCell, hot, physRows) =
      (occ.getLong(0), occ.getLong(1), occ.getLong(2))
    // tombstone fraction vs PHYSICAL rows (occupancy counts tombstoned
    // rows until a purge — consistent numerator and denominator); the
    // count is one single-column scan of the id log, not an index read
    val nTomb = tombstones(spark, path).map(_.count()).getOrElse(0L)
    val tombFrac =
      if (physRows <= 0L) 0.0 else nTomb.toDouble / physRows.toDouble
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(assigned)
    // the drift STREAK (r17 — the driftflood escalation, watch-native):
    // consecutive drifted watches persist in the sidecar, surviving
    // refines (refineInPlace carries the file) and resetting on retrain
    // (retrainInPlace drops it) or on any un-drifted batch. Hot cells
    // keep priority for a FIRST drifted reading (a one-batch flood dips
    // the cos too, and refine is its measured right fix); drift that
    // PERSISTS past that is a moved distribution, which splitting
    // chases one cell per batch — retrain wins even with hot cells.
    // Crash note: a replayed drifted batch can advance the streak twice
    // — the watch can only recommend retrain EARLY, never late (the
    // occupancy ledger's torn-batch convention).
    val drifted = appended > 0 && meanCos < baseline - driftMargin
    val streak = if (drifted) prevStreak + 1 else 0L
    if (appended > 0 && streak != prevStreak)
      writeMaintainSidecar(fs, path, baseline, streak)
    val action =
      if (drifted && (hot == 0 || streak >= 2)) "retrain"
      else if (hot > 0) "refine"
      else if (tombFrac > maxTombstoneFrac) "purge"
      else "ok"
    MaintainWatch(appended, maxCell, maxCellRows, hot, meanCos, baseline,
      action, streak, tombFrac)
  }

  /** One SELF-MAINTAINING serving cycle — the composition every soak
    * loop writes by hand (`IvfServeSoak` at 8a861d8, `LateInterleaveSoak` at 8a861d8), as one
    * call for production callers: ledgered append, tombstone removals,
    * then APPLY the watch's verdict with the escalation policy the
    * soaks validated (retrain from `source` on persistent drift, refine
    * on hot cells with the occupancy-proportional split the flood soak
    * settled on, purge past the tombstone threshold, nothing on `ok`).
    *
    * Exactly-once shape: the append is ledgered (`batchId`), removals
    * are duplicate-tolerant, and the ACTION needs no ledger — every
    * action is resolution-idempotent: a crash between the append's
    * ledger commit and the action means the next cycle's watch simply
    * RE-RECOMMENDS it (occupancy still hot → refine again; baseline
    * still drifted → retrain again; fraction still high → purge again),
    * so maintenance converges under any crash/replay interleaving —
    * it can only run a fix later than recommended, never lose one.
    *
    * `source` is the kept-vector store a retrain re-fits from (the
    * production source-of-truth contract — REQUIRED for quantized
    * indexes, where codes alone cannot carry a retrain); evaluated
    * lazily, only if the retrain verdict fires. Returns the watch
    * (pre-action) — callers log it or assert on it.
    */
  def maintainCycle(spark: SparkSession, path: String, appends: DataFrame,
                    removals: Option[DataFrame], maxCellRows: Long,
                    batchId: Long, source: => Option[DataFrame] = None,
                    driftMargin: Double = 0.05,
                    route: AssignRoute = FlatAssign,
                    maxTombstoneFrac: Double = 0.2,
                    lane: String = ""): MaintainWatch = {
    val watch = maintainAppend(spark, path, appends, maxCellRows,
      driftMargin, route, batchId, maxTombstoneFrac, lane)
    removals.foreach(r => maintainRemove(spark, path, r))
    watch.action match {
      case "retrain" => retrainInPlace(spark, path, source = source,
        route = route)
      case "refine" => refineInPlace(spark, path, maxCellRows,
        splitInto = math.max(2, (watch.maxCell / maxCellRows + 1).toInt),
        iters = 3)
      case "purge" => purgeInPlace(spark, path)
      case _ => ()
    }
    watch
  }

  /** Bootstrap a serving index from its FIRST non-empty kept batch —
    * the in-loop wiring's build step (r19; the soaks did this by hand
    * with a `built` flag, which a crashed-and-replayed foreachBatch
    * loop does not have). Builds at `nlist`, saves STAGED to
    * `path + ".boot"`, records `batchId` in `lane`'s maintain ledger
    * INSIDE the staged dir, then promotes with one rename — so the
    * bootstrap is exactly-once under any crash point: pre-promote
    * crashes find the live path absent and redo the whole bootstrap
    * (the stale boot dir is wiped first), post-promote replays of the
    * same batch hit the ledger in [[maintainAppend]] and skip the
    * append that would double-insert the built rows.
    */
  private[graft] def bootstrapServing(spark: SparkSession, path: String,
                                      batch: DataFrame, nlist: Int,
                                      iters: Int = 2, seed: Long = 42L,
                                      lane: String = "",
                                      batchId: Long = 0L): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val boot = path + ".boot"
    fs.delete(new org.apache.hadoop.fs.Path(boot), true)
    save(build(batch, nlist, iters, seed), boot)
    writeMaintainLedger(fs, boot, batchId, lane)
    // destination guard (r19 ADVICE): on HDFS, rename onto an EXISTING
    // dir nests boot INSIDE it — a live path with no top-level
    // centroids that every caller's `centroids`-absence probe re-
    // bootstraps forever. Callers gate on path+"/centroids", so a bare
    // `path` here is a stale centroid-less remnant: wipe it (mirroring
    // the boot-dir wipe above) — but never a LIVE index, which would
    // mean two bootstrappers raced outside the serving lock.
    val dest = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(dest)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(path + "/centroids")))
        throw new IllegalStateException(
          s"serving bootstrap: $path is already a live index — " +
            "bootstrap must run under the index's single-writer lock")
      fs.delete(dest, true)
    }
    StagedSwap.rename(fs, new org.apache.hadoop.fs.Path(boot), dest)
  }

  /** Apply the `refine` action to a PERSISTED index: load, split the
    * hot cells ([[refine]]), save to a staging dir, swap it in
    * (aside + rename — the band-index swap discipline), and re-seed
    * the occupancy ledger from the refined assignments. Single-writer
    * like every index mutation.
    *
    * QUANTIZED indexes refine in place too (r16 verdict #4 — the PQ/SQ8
    * serving ladder used to have maintenance for append only): [[load]]
    * decodes the codes, the sub-Lloyd splits run on the reconstructions
    * (quantization error is orders below a cell radius), and the staged
    * save RE-ENCODES under the SAVED params — a lossless round-trip for
    * every existing row, since decoded values are grid points (SQ8) or
    * codebook reconstructions (PQ) that re-encode to their own codes.
    * Only the cell structure changes; the stored codes never degrade.
    * The maintain batch ledger survives the swap (a replayed ledgered
    * batch must still skip), and so does the DRIFT BASELINE (r17 —
    * reversed from r16's deliberate drop): a refine only ADDS
    * centroids, so the stamped expectation remains a conservative
    * lower bound for the undrifted distribution — no false retrain —
    * while dropping it let the FIRST batch after a refine re-stamp the
    * baseline, and under sustained drift that batch is a drifted one:
    * the poisoned (low) baseline then hid the drift from every later
    * watch, starving the retrain verdict behind an endless refine
    * churn (the `IvfServeSoak driftflood` finding at 8a861d8 — 7 refines in 10
    * batches, cells creeping +1-2 per batch, where one retrain
    * re-allocates the whole grid). [[retrainInPlace]] still drops it:
    * a retrain replaces the geometry wholesale.
    */
  def refineInPlace(spark: SparkSession, path: String, maxCellRows: Long,
                    splitInto: Int = 2, iters: Int = 2,
                    seed: Long = 43L): Unit = {
    StagedSwap.heal(spark, path)
    val refined = refine(load(spark, path), maxCellRows, splitInto, iters,
      seed)
    swapModelInPlace(spark, path, refined)
  }

  /** Apply the `purge` action (r18 — the churn half of maintenance):
    * physically rewrite the index WITHOUT tombstoned rows, at the
    * existing centroids and encoding. Tombstones are logical until a
    * refine/retrain purges them as a side effect ([[maintainRemove]]),
    * but an evict-heavy, drift-free corpus never earns either — the
    * filtered fraction grows without bound in time (bounded only by
    * churn), every cell scan paying the anti-join and the dead rows'
    * IO forever. The watch recommends this when the tombstone fraction
    * crosses `maxTombstoneFrac` and nothing more urgent fired
    * (refine/retrain purge for free). Same staged-swap machinery as
    * [[refineInPlace]] — load is tombstone-filtered, so the saved tmp
    * carries no dead rows and (by the swap) no `tombstones/` dir;
    * occupancy re-seeds to the post-purge physical counts.
    */
  def purgeInPlace(spark: SparkSession, path: String): Unit = {
    StagedSwap.heal(spark, path)
    swapModelInPlace(spark, path, load(spark, path))
  }

  /** Staged whole-index swap shared by [[refineInPlace]] and
    * [[purgeInPlace]]: save `model` to a tmp sibling in the live
    * index's own encoding/layout, re-seed occupancy from its
    * assignments, carry the maintain ledger and drift baseline, then
    * promote through the [[StagedSwap]] (healed at every entry).
    */
  private def swapModelInPlace(spark: SparkSession, path: String,
                               model: Model): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = StagedSwap.tmp(path)
    val sq = quantParams(spark, path)
    val pq = pqParams(spark, path)
    val cellBuckets = layoutCellBuckets(spark, path)
    (sq, pq, cellBuckets) match {
      case (Some(p), _, Some(b)) => saveQuantizedBucketed(model, tmp, p, b)
      case (Some(p), _, None) => saveQuantized(model, tmp, p)
      case (_, Some(p), Some(b)) => saveQuantizedPqBucketed(model, tmp, p, b)
      case (_, Some(p), None) => saveQuantizedPq(model, tmp, p)
      case _ => save(model, tmp)
    }
    model.assignments.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$tmp/occupancy")
    // the maintain ledgers and the drift baseline survive a refine/purge
    // (see the scaladoc — a dropped baseline re-stamps on the NEXT batch,
    // which under sustained drift poisons the signal the retrain verdict
    // needs)
    carryMaintainLedgers(fs, path, tmp)
    readMaintainSidecar(fs, path).foreach { case (b, streak) =>
      writeMaintainSidecar(fs, tmp, b, streak)
    }
    StagedSwap.promote(fs, path)
  }

  /** Logical DELETE for a maintained serving index (r17 — the corpus
    * flows EVICT vectors retroactively through the late-correction
    * passes, and the serving index must stop serving them without
    * waiting for a rebuild). An id→cell lookup cannot prune the write:
    * a row's stored cell is its nearest centroid AS OF its append, and
    * a later refine's sub-centroids can capture it from a neighboring
    * cell — so removal is a TOMBSTONE, the log-structured answer: ids
    * land in `tombstones/` (duplicate-tolerant idempotent appends — a
    * replayed removal needs no ledger), every serving read anti-joins
    * them out ([[load]] covers every decode-domain consumer — search,
    * refine, retrain, recall yardsticks; [[searchTopKBatchAdc]] covers
    * the codes domain), and the next [[refineInPlace]] or
    * [[retrainInPlace]] PURGES them physically for free — both load
    * (tombstone-filtered) and whole-dir swap (the staged tmp carries no
    * tombstones dir). Occupancy keeps counting physical rows until the
    * purge: the watch can only fire early, the ledger convention.
    * Single-writer like every index mutation. CONTRACT: a tombstoned
    * id must not be re-appended before a purge (the filter would hide
    * the new row too) — the corpus flows satisfy it by construction,
    * an evicted doc id never returns.
    */
  def maintainRemove(spark: SparkSession, path: String,
                     ids: DataFrame): Unit = {
    StagedSwap.heal(spark, path)
    ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
      .repartition(1)
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** The tombstone set, absent-safe ((vec_id) — explicit schema, no
    * inference on a data-file-less dir).
    */
  private def tombstones(spark: SparkSession,
                         path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
      .parquet(s"$path/tombstones").distinct())
  }

  /** Per-cell reconstruction audit of a (typically quantized) serving
    * index (r17 — the driftflood diagnosis needed a MANUAL
    * decoded-vs-stored probe to see stale-codebook damage pooling in
    * one cell: the soak's recall yardstick compares against the same
    * index at full probe, so quantization error cancels, and the
    * whole-index recon average hid a single garbage cell behind 200k
    * good rows). Joins a 1-in-`sampleOneIn` hash sample of the index's
    * decoded rows with the TRUE vectors in `source` (the kept-vector
    * store) and reports per-cell sample size and mean/min cosine,
    * worst cells first — the maintenance loop's early-warning read
    * before damage costs recall. One scan of the index + one join
    * against the sample (broadcast-sized at any real `sampleOneIn`);
    * output is nlist-bounded. Index rows missing from `source` are
    * skipped (they contribute no truth to compare against).
    */
  def reconByCell(spark: SparkSession, path: String, source: DataFrame,
                  sampleOneIn: Int = 50): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val m = load(spark, path)
    val sampled = m.assignments
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleOneIn.toLong)) === 0)
      .select(col("vec_id"), col("cell"), col("embedding").as("__dec"))
    sampled
      .join(source.select(col("vec_id"), col("embedding").as("__true")),
        Seq("vec_id"))
      // a ZERO reconstruction (the stale-grid decode of a dimension the
      // codebooks never saw) reads cosine 0 — the honest damage figure
      // — instead of the raw formula's 0/0 NaN
      .withColumn("__c",
        when(Similarity.l2Norm(col("__dec")) > 0d &&
            Similarity.l2Norm(col("__true")) > 0d,
          Similarity.cosine(col("__dec"), col("__true")))
          .otherwise(lit(0d)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_sampled"),
        avg(col("__c")).as("mean_cos"),
        min(col("__c")).as("min_cos"))
      .orderBy("mean_cos")
  }

  /** Apply the `retrain` action to a PERSISTED index IN PLACE (r17 —
    * the drift half of the serving ladder's maintenance, closing the
    * [[refineInPlace]] gap: refine fixes hot CELLS, this fixes a moved
    * DISTRIBUTION, which cell splitting cannot — the watch's own
    * taxonomy). Re-runs Lloyd from fresh seeds over the stored corpus
    * at the same (or caller-chosen) nlist, RE-FITS the quantization
    * (SQ8 grid / PQ codebooks at the saved m) on that corpus, and
    * staged-swaps the re-trained, re-encoded index in. Occupancy
    * re-seeds from the new assignments; the drift baseline drops (the
    * next [[maintainAppend]] re-stamps it against the new geometry);
    * the maintain batch ledger survives the swap (every ledgered
    * batch's rows are in the rebuilt index — a replayed batch must
    * still skip).
    *
    * `source` is the production contract: a quantized index is LOSSY,
    * and a drifted modality was already encoded under the stale grid —
    * for the SQ8 case a dimension the old corpus never used decodes to
    * ZERO, so re-training from decoded codes alone cannot recover what
    * the codes never stored. Pass the kept-vector store (the serving
    * loop's `vectors/` — (vec_id, embedding) float rows) and the
    * retrain trains, re-fits, and re-encodes from TRUE vectors wherever
    * the store has them (per-row coalesce; index rows missing from the
    * source keep their decoded reconstruction, so membership never
    * changes). Without `source`, reconstructions are used as-is —
    * honest for un-quantized indexes and for mild drift still inside
    * the grid.
    *
    * This is the heavy maintenance op by design — one full Lloyd build
    * plus one index rewrite, the same bill as the offline rebuild it
    * replaces, minus the serve gap: readers see the old index until one
    * atomic rename. Single-writer like every index mutation.
    */
  def retrainInPlace(spark: SparkSession, path: String,
                     source: Option[DataFrame] = None, nlist: Int = -1,
                     iters: Int = 3, seed: Long = 44L,
                     route: AssignRoute = FlatAssign): Unit = {
    val fs = StagedSwap.heal(spark, path)
    val model = load(spark, path)
    val decoded = model.assignments
      .select(col("vec_id"), col("embedding").as("__dec"))
    // pinned BEFORE any mutation: the build, the re-fit, and the staged
    // save must all read one frozen snapshot of the pre-swap stores
    val emb = ckpt(source match {
      case Some(src) => decoded
        .join(src.select(col("vec_id"), col("embedding").as("__true")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("__true"), col("__dec")).as("embedding"))
      case None => decoded
        .select(col("vec_id"), col("__dec").as("embedding"))
    })
    val n = if (nlist > 0) nlist else model.centroids.count().toInt
    val rebuilt = build(emb, n, iters, seed, route = route)
    val tmp = StagedSwap.tmp(path)
    val cellBuckets = layoutCellBuckets(spark, path)
    (quantParams(spark, path), pqParams(spark, path)) match {
      case (Some(_), _) =>
        val fresh = Quantize.fitSq8(emb)
        cellBuckets match {
          case Some(b) => saveQuantizedBucketed(rebuilt, tmp, fresh, b)
          case None => saveQuantized(rebuilt, tmp, fresh)
        }
      case (_, Some(old)) =>
        val fresh = Pq.fit(emb, old.m, seed = seed)
        cellBuckets match {
          case Some(b) => saveQuantizedPqBucketed(rebuilt, tmp, fresh, b)
          case None => saveQuantizedPq(rebuilt, tmp, fresh)
        }
      case _ => save(rebuilt, tmp)
    }
    rebuilt.assignments.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$tmp/occupancy")
    carryMaintainLedgers(fs, path, tmp)
    StagedSwap.promote(fs, path)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(emb)
  }

  /** Split oversized cells IN PLACE — the rebalance the drift study
    * (`tools/IvfDriftBench` at 8a861d8, SCALE.md r7) shows a same-nlist retrain
    * cannot deliver: a tight new modality is ONE k-means cell however
    * fresh the centroids, so the fix is more centroids in the hot region,
    * not fresher ones. Every cell holding more than `maxCellRows` members
    * is split into `splitInto` sub-cells by a grouped Lloyd refinement
    * trained ONLY on that cell's members; all other cells (and their
    * rows) are untouched. Cost: `iters`+1 passes over the HOT cells'
    * rows only (each a broadcast join against the sub-centroid table +
    * one partial-aggregated shuffle), never the corpus. The returned
    * model has the hot cells' centroid rows replaced by the sub-cell
    * centroids (fresh ids above the old range) and those members
    * reassigned; search/save/append all work unchanged on it — and
    * full-probe exactness is preserved by construction (cell structure
    * never affects WHICH vectors exist, only where they sit).
    */
  def refine(model: Model, maxCellRows: Long, splitInto: Int = 2,
             iters: Int = 2, seed: Long = 43L): Model = {
    val spark = model.centroids.sparkSession
    dotF(spark)
    require(splitInto >= 2, s"splitInto ($splitInto) must be >= 2")
    val hot = model.assignments.groupBy("cell").count()
      .filter(col("count") > maxCellRows)
      .select("cell").collect().map(_.getLong(0)).sorted // nlist-bounded
    if (hot.isEmpty) return model
    val hotSet = hot.toSeq
    val hotRows = ckpt(model.assignments.filter(col("cell").isInCollection(hotSet)))
    // fresh ids above every existing cell id: hot cell #i's sub s gets
    // base + i*splitInto + s (driver-computed, nlist-bounded mapping)
    val base = model.centroids.agg(max("cell")).head().getLong(0) + 1
    val newId = hot.zipWithIndex.map { case (c, i) =>
      (c, base + i.toLong * splitInto)
    }.toMap

    // grouped Lloyd: seeds = splitInto hash-ranked members per hot cell,
    // L2-NORMALIZED like every later round's centroids (r17 — the r16
    // spherical fix covered the Lloyd rounds but seeded round 0 with
    // RAW member embeddings: on a quantized index the decoded members'
    // norms vary a few percent, which inside a tight cell DOMINATES the
    // directional spread, so round 0 collapsed winner-take-all onto the
    // higher-norm seed, the empty sub vanished from the groupBy, and
    // every later round kept the cell whole — the driftflood soak's
    // 3,868-row flood-core cell survived refine after refine at every
    // seed until this; unit-norm raw corpora never showed it)
    // zero-norm guard BEFORE seed selection: a stale-grid SQ8 decode can
    // yield an all-zero member (a dim the old corpus never used decodes
    // to zero — see reconByCell), and dividing by __n = 0 would poison
    // the sub-Lloyd for that cell with a NaN centroid. The guard must
    // not price every hot row's norm (hot cells can be most of a corpus
    // when maxCellRows is tight — q_ann_refine's shape): hash-rank a 4×
    // CANDIDATE pool first, norm-check only the pool, re-rank survivors
    // — the next candidate takes a zero-norm seed's slot unless a cell
    // is >75% zero-decode, which no stale grid produces.
    var subC = hotRows
      .withColumn("__r", xxhash64(col("vec_id"), lit(seed)))
      .withColumn("__rc", row_number().over(
        Window.partitionBy("cell").orderBy("__r")))
      .filter(col("__rc") <= splitInto * 4)
      .withColumn("__n", sqrt(aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")), lit(0.0), _ + _)))
      .filter(col("__n") > 0.0)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cell").orderBy("__r")))
      .filter(col("__rn") <= splitInto)
      .select(col("cell"), (col("__rn") - 1).as("sub"),
        transform(col("embedding"),
          x => (x.cast("double") / col("__n")).cast("float")).as("centroid"))
    val vecMean = udaf(graft.functions.VecMeanAgg)
    // per-cell nearest-sub assignment, carrying every payload column
    // (same shape as assign's max_by fallback — rows × splitInto through
    // one partial-aggregated shuffle, hot cells only)
    val payload = model.assignments.columns
      .filterNot(c => c == "vec_id" || c == "cell").toIndexedSeq
    def assignSub(rows: DataFrame, cands: DataFrame): DataFrame =
      rows.join(broadcast(cands), Seq("cell"))
        .withColumn("__s", expr("graft_dot_f(embedding, centroid)"))
        .groupBy("vec_id")
        .agg(max_by(
          struct(col("cell") +: col("sub") +: payload.map(col): _*),
          struct(col("__s"), col("sub") * lit(-1L))).as("__best"))
        .select(col("vec_id") +: col("__best.cell").as("cell") +:
          col("__best.sub").as("sub") +:
          payload.map(c => col(s"__best.$c").as(c)): _*)
    // SPHERICAL Lloyd (r16): sub-centroids are L2-NORMALIZED each round.
    // assignSub scores by raw dot, and inside a hot cell the members are
    // nearly parallel — direction differences contribute O(θ²) ≈ 1e-3 to
    // the dot while the MEANS' norm differences are comparable, so an
    // un-normalized round collapses winner-take-all onto whichever sub's
    // mean has the larger norm (measured: a 250-member blob split
    // 235/8/7 however many subs or iters). Normalizing makes the dot a
    // cosine and the split a true directional Voronoi — the standard
    // spherical k-means step for cosine-similarity indexes. The final
    // sub-centroids persist normalized, so cell ranking (dot of a unit
    // probe) is cosine-consistent with the split.
    for (i <- 0 until iters) {
      val prev = subC
      val means = assignSub(hotRows, subC)
        .groupBy("cell", "sub").agg(vecMean(col("embedding")).as("cm"))
        // the norm is referenced once per ELEMENT inside the transform —
        // hoist it to its own projection (HOF-CSE boundary)
        .withColumn("__n", sqrt(aggregate(transform(col("cm"),
          x => x.cast("double") * x.cast("double")), lit(0.0), _ + _)))
      subC = ckpt(means.select(col("cell"), col("sub"),
        transform(col("cm"),
          x => (x.cast("double") / col("__n")).cast("float")).as("centroid")))
      // round-0's input is the (un-checkpointed) seed PLAN over hotRows —
      // unpersisting through it would release hotRows mid-refine
      if (i > 0)
        org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(prev)
    }

    val idMap = typedlit(newId)
    val refinedRows = assignSub(hotRows, subC)
      .withColumn("cell", element_at(idMap, col("cell")) + col("sub"))
      .drop("sub")
    val cold = model.assignments.filter(!col("cell").isInCollection(hotSet))
    val newCentroids = model.centroids.filter(!col("cell").isInCollection(hotSet))
      .unionByName(subC
        .withColumn("cell", element_at(idMap, col("cell")) + col("sub"))
        .select("cell", "centroid"))
    val out = Model(ckpt(newCentroids),
      ckpt(cold.select(refinedRows.columns.map(col).toIndexedSeq: _*)
        .unionByName(refinedRows)))
    // the refined assignments are materialized; release the working frames
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(subC)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(hotRows)
    out
  }

  /** Continuous index maintenance: consume a STREAM of (vec_id, embedding)
    * rows and [[append]] each micro-batch into the persisted index at
    * `path` — the online half of the IVF lifecycle (offline [[build]] +
    * [[save]], online appendStream, periodic offline retrain when centroid
    * drift warrants). `foreachBatch` is the right sink because an append
    * is a whole-frame parquet write, not a row sink; the streaming
    * checkpoint makes ingest restartable at micro-batch granularity
    * (standard foreachBatch semantics: a batch that fails mid-write can
    * replay on restart — at-least-once, the same contract as any
    * non-transactional parquet append sink). Serving queries pick up
    * appended cells on their next [[load]].
    */
  def appendStream(path: String, stream: DataFrame,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty) append(batch.sparkSession, path, batch)
      }
      .start()

  /** Compact the small files continuous [[append]]s / [[appendStream]]
    * micro-batches accumulate inside the cell directories — the file-count
    * side of index maintenance ([[refine]] is the row-balance side). At
    * 100 TB a cell appended every micro-batch collects thousands of tiny
    * parquet files, and each search then pays open/footer/seek per file
    * where one seek would do; periodic compaction is how every
    * append-heavy columnar store (and the reference's own snapshot
    * folders, `Output/MLSOut*.bin`, one file per step) keeps reads flat.
    *
    * Only cells holding more than `maxFilesPerCell` files are touched —
    * compaction cost is proportional to the appended (hot) region, never
    * the corpus. Each hot cell is rewritten into
    * ceil(bytes / targetFileBytes) files via a per-cell read → coalesce →
    * write into a sibling staging directory, then swapped in through
    * [[StagedSwap]] (healed on the next call). The swap is not
    * transactional — run it in the same offline maintenance window as
    * [[refine]]/retrain (the standard parquet-compaction contract); a
    * concurrent reader mid-swap can see a partial cell. Membership, search results, and the probed-cell
    * partition pruning are unchanged (spec-pinned in IvfIndexSpec).
    *
    * Returns (cells compacted, files before, files after).
    */
  def compact(spark: SparkSession, path: String, maxFilesPerCell: Int = 8,
              targetFileBytes: Long = 128L << 20): (Int, Int, Int) = {
    val root = new Path(s"$path/assignments")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: Path) = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // each cell swaps on its own, staged at .compact_<cell> with the live
    // cell aside at .compact_old_<cell>
    def stages(cell: String) = StagedSwap.Stages(new Path(root, cell),
      new Path(root, s".compact_$cell"), new Path(root, s".compact_old_$cell"))
    // heal FIRST: a crash inside a prior swap can leave the aside as the
    // cell's only copy (pre-r9 the swap deleted old files before the new
    // ones were in place, so that window LOST the cell's rows)
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".compact_"))
      .map(n => n.stripPrefix(".compact_").stripPrefix("old_")).distinct
      .foreach(cell => StagedSwap.heal(fs, stages(cell)))
    // per-cell layout lists cell= dirs; the bucketed layout's cbkt= dirs
    // compact identically (read dir, coalesce, whole-dir rename swap)
    val cells = fs.listStatus(root)
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("cell=") ||
          st.getPath.getName.startsWith("cbkt=")))
    var (done, before, after) = (0, 0, 0)
    cells.foreach { c =>
      val files = dataFiles(c.getPath)
      before += files.length
      if (files.length <= maxFilesPerCell) after += files.length
      else {
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val s = stages(c.getPath.getName)
        // read THIS cell's rows only (directory read — the cell column is
        // the directory name, not in the files) and rewrite coalesced;
        // coalesce not repartition: a narrow merge, no shuffle. Bucketed
        // dirs must keep cell-sorted files: the layout's row-group
        // min/max cell skipping depends on it (r14 review — a plain
        // coalesce interleaves cell ranges across row groups)
        val rows = spark.read.parquet(c.getPath.toString).coalesce(nOut)
        val resorted =
          if (c.getPath.getName.startsWith("cbkt="))
            rows.sortWithinPartitions("cell")
          else rows
        resorted.write.mode("overwrite").parquet(s.staged.toString)
        val nNew = dataFiles(s.staged).length
        // whole-directory swap: the cell is never a mixture of old and
        // new files (a reader in the rename window sees the cell missing
        // — retry contract, same as Sketches.maintain)
        StagedSwap.promote(fs, s)
        done += 1
        after += nNew
      }
    }
    (done, before, after)
  }

  /** Load a [[save]]d index, healing a torn in-place rebuild first
    * ([[StagedSwap.heal]]). The partition column comes back via directory
    * inference — restore its long type so search joins stay key-compatible.
    */
  def load(spark: SparkSession, path: String): Model = {
    StagedSwap.heal(spark, path)
    val asg = spark.read.parquet(s"$path/assignments")
      .drop("cbkt") // bucketed layout's partition column; no-op otherwise
      .withColumn("cell", col("cell").cast("long"))
    // quantized index: reconstruct the embedding column inline (codegen
    // decode — the scan still reads only the byte codes off disk)
    val decoded = quantParams(spark, path) match {
      case Some(params) =>
        asg.withColumn("embedding",
            Quantize.sq8Decode(asg, col("codes"), params))
          .drop("codes")
      case None => pqParams(spark, path) match {
        case Some(pq) =>
          asg.withColumn("embedding",
              Pq.pqDecode(asg, col("pq_codes"), pq))
            .drop("pq_codes")
        case None => asg
      }
    }
    // tombstoned rows never load (maintainRemove): one filter point
    // covers every decode-domain consumer — search, refine, retrain,
    // compaction-through-save, and the soaks' recall yardsticks
    val served = tombstones(spark, path)
      .map(t => decoded.join(t, Seq("vec_id"), "left_anti"))
      .getOrElse(decoded)
    Model(spark.read.parquet(s"$path/centroids"), served)
  }

  /** The (cell, probe_id, probe_emb) table of cells each probe scans: per
    * probe, the `nprobe` cells ranked best by centroid score. Dim-bounded
    * (P × nlist in, P × nprobe out). Shared by [[searchTopKBatch]] and the
    * recall sweep tool (which measures the scanned-candidate fraction off
    * the exact same table the search joins on).
    */
  private[graft] def probedCells(model: Model, probeIds: Seq[Long],
                                 nprobe: Int): DataFrame =
    probedCells(model,
      model.assignments.filter(col("vec_id").isInCollection(probeIds))
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb")),
      nprobe)

  private[graft] def probedCells(model: Model, probes: DataFrame,
                                 nprobe: Int): DataFrame = {
    dotF(model.centroids.sparkSession)
    // rank cells by COSINE, not raw dot (r16 ADVICE): refineInPlace
    // persists unit-normalized sub-centroids while build()'s vecMean
    // centroids have norm < 1, so raw-dot ranking handed refined cells
    // a systematic norm advantage in nprobe selection. Dividing by the
    // centroid norm makes the ranking scale-consistent across refined
    // and organic cells (the probe's own norm is constant per probe —
    // it never changes the order). The epsilon floor only guards a
    // degenerate all-zero centroid from NaN, which would sort FIRST
    // under descending double order.
    model.centroids.crossJoin(broadcast(probes))
      .withColumn("cscore", expr("graft_dot_f(centroid, probe_emb)") /
        greatest(sqrt(expr("graft_dot_f(centroid, centroid)")), lit(1e-30)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cscore").desc, col("cell"))))
      .filter(col("__rn") <= nprobe)
      .select(col("cell"), col("probe_id"), col("probe_emb"))
  }

  /** ANN top-k for one probe vector id: rank cells by centroid score, probe
    * the best `nprobe`, exact re-rank inside them. Same output contract as
    * [[Similarity.cosineTopK]] (vec_id, cos_sim rounded to 4dp, ordered).
    * A thin wrapper over [[searchTopKBatch]] — one code path, so the
    * single-probe queries get the same statically-pruned scan.
    */
  def searchTopK(model: Model, probeId: Long, k: Int, nprobe: Int): DataFrame =
    searchTopKBatch(model, Seq(probeId), k, nprobe)
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)

  /** IVFPQ fast path: serve a [[saveQuantizedPq]]-saved index by ADC
    * directly over the stored codes — no decode, no float math per row.
    * Per probe, cells are ranked driver-side against the (nlist-bounded)
    * centroid table and the m×256 ADC lookup table is precomputed; the
    * scan then reads ONLY the probed `cell=` directories (static
    * partition prune) and scores each row in m lookup reads
    * ([[graft.functions.PqAdcF]]). Scores equal the decode-then-dot path
    * up to float-sum regrouping (spec-bounded), so full probing serves
    * the exact reconstruction ranking at the ADC price.
    */
  def searchTopKBatchAdc(spark: SparkSession, path: String,
                         probes: Seq[(Long, Array[Float])], k: Int,
                         nprobe: Int): DataFrame = {
    val pq = pqParams(spark, path).getOrElse(
      throw new IllegalArgumentException(s"$path is not a PQ-coded index"))
    graft.functions.PqF.register(spark)
    // centroid table is nlist-bounded: rank cells driver-side
    val cents = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    import spark.implicits._
    val probeCellRows = probes.flatMap { case (pid, pv) =>
      // cosine ranking, matching probedCells (r16 ADVICE): refined
      // sub-centroids are unit-normalized, organic ones are not
      val ranked = cents.map { case (cell, c) =>
        (cell, dot(pv, c) / math.max(math.sqrt(dot(c, c)), 1e-30)) }
        .sortBy { case (cell, s) => (-s, cell) }.take(nprobe).map(_._1)
      val lut = Pq.adcLut(pq, pv)
      ranked.map(cell => (cell, pid, lut.toSeq))
    }
    val probeCells = probeCellRows.toDF("cell", "probe_id", "lut")
    val cellList = probeCellRows.map(_._1).distinct
    val asgRaw = spark.read.parquet(s"$path/assignments")
    // bucketed layout: prune to touched cell-buckets (static partition
    // filter over cellBuckets dirs), then the cell IN filter below pushes
    // into the parquet row groups; per-cell layout: the cell filter IS
    // the static partition prune
    val asg = layoutCellBuckets(spark, path) match {
      case Some(b) =>
        val bkts = cellList.map(c => (c % b).toInt).distinct
        asgRaw.filter(col("cbkt").isInCollection(bkts)).drop("cbkt")
      case None => asgRaw
    }
    // the codes domain anti-joins tombstones itself (load's filter
    // never runs here — ADC reads the raw codes)
    val live = tombstones(spark, path)
      .map(t => asg.join(t, Seq("vec_id"), "left_anti"))
      .getOrElse(asg)
    live
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isInCollection(cellList)) // static partition prune
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(call_function("graft_pq_adc", col("pq_codes"), col("lut")), 4)
          .as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Two-stage serving for a PQ index: ADC candidate generation + exact
    * re-rank — the standard answer to "PQ recall is capped by code error".
    * Stage 1 runs [[searchTopKBatchAdc]] for `cand` (>= k) candidates per
    * probe entirely over the m-byte codes (no decode); stage 2 fetches the
    * TRUE vectors for only those P x `cand` candidate ids from `corpus`
    * (the full-precision table of record) and re-scores them with the same
    * codegen dot + round the brute-force path uses, so the final ordering
    * is exact over the candidate set. Shape at 100 TB: the candidate list
    * is probe-batch-bounded (P x cand rows), so it BROADCASTS into one
    * corpus scan — the expensive full-precision column is read once per
    * batch, never per probe, and ADC's ranking error only costs recall if
    * a true neighbor falls outside the top-`cand`, a fast-shrinking tail
    * (measured in QuantBench at 8a861d8: the recall-vs-cand curve). With full probing
    * and `cand` >= corpus the result equals brute force bit-for-bit
    * (spec-pinned in PqSpec).
    */
  def searchTopKBatchAdcRerank(spark: SparkSession, path: String,
                               probes: Seq[(Long, Array[Float])], k: Int,
                               nprobe: Int, cand: Int,
                               corpus: DataFrame): DataFrame = {
    require(cand >= k, s"cand=$cand must be >= k=$k")
    val candidates = searchTopKBatchAdc(spark, path, probes, cand, nprobe)
      .select(col("probe_id"), col("vec_id"))
    import spark.implicits._
    val probeDf = probes.toDF("probe_id", "probe_emb")
      .select(col("probe_id"), col("probe_emb").cast("array<float>").as("probe_emb"))
    dotF(spark)
    corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(candidates.join(probeDf, Seq("probe_id"))), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("graft_dot_f(embedding, probe_emb)"), 4).as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Filtered ANN from the index: [[Similarity.cosineTopKFiltered]]'s
    * contract served through the inverted file — the metadata predicate
    * conjoins with the probed-cell partition prune, so the scan fraction
    * and the predicate selectivity multiply. Full probing reproduces the
    * brute-force filtered result exactly (spec-pinned); at partial nprobe,
    * selective predicates thin the candidate pool and callers raise nprobe
    * to hold recall.
    */
  def searchTopKFiltered(model: Model, probeId: Long, k: Int, nprobe: Int,
                         pred: Column): DataFrame =
    searchTopKBatch(model,
      model.assignments.filter(col("vec_id") === probeId)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb")),
      k, nprobe, excludeSelf = true, pred = pred)
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
}
