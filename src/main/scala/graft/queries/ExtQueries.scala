package graft.queries

import graft.Tables
import graft.ops.{Dedup, Similarity, TextOps, TimeOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension query catalog — the training-data-pipeline operators (north
  * star): near-dedup (MinHash/LSH, SimHash, n-gram Jaccard), similarity
  * search, multimodal joins, text analysis, time-series/streaming batch
  * twins. Each query has a DuckDB oracle in [[ExtQueries.sql]].
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One shared `nlist=16, iters=1` model per (session, dir):
    * `q_ivf_topk`, `q_ann_batch` and `q_ann_refine` all SEARCH the same
    * build contract over the same embeddings input, so rebuilding the
    * index inside each query timed only repeated build cost, never more
    * search coverage (~8-10 s of every bench pass; VERDICT r7 #2). The
    * model's frames are localCheckpoints tied to their session — hence
    * the session key — and a catalog run touches exactly one (session,
    * dir) pair, so the map stays O(1). q_ann_persist and q_multimodal_ann
    * keep their own builds: the maintenance cycle / the multimodal corpus
    * IS their contract.
    */
  private val sharedModels =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.ops.IvfIndex.Model]
  private def sharedModel(s: SparkSession, d: String): graft.ops.IvfIndex.Model =
    sharedModels.getOrElseUpdate((s, d),
      graft.ops.IvfIndex.build(Tables.embeddings(s, d), nlist = 16, iters = 1))

  val queries: Map[String, Q] = Map(
    // J5 — range join: same-user event pairs within 60 s, cell-binned.
    "q_range_join" -> ((s, d) => {
      TimeOps.timeBandPairs(Tables.events(s, d), 60000L).orderBy("id_a", "id_b")
    }),

    // J6 — as-of curve lookup (load-curve value at time t), served by the
    // custom AsOfJoinExec physical operator (sort-merge, one held row per
    // partition — graft.plans.AsOfJoinPlan); proven row-identical to the
    // window formulation in AsOfJoinSpec.
    "q_asof_curve" -> ((s, d) => {
      val e = Tables.events(s, d)
      val probes = e.select(col("event_id"), col("user_id"), col("ts"))
      // the curve must be UNIQUE per (user, ts): as-of at equal times is
      // otherwise ambiguous (adversarial fuzz caught exactly that) — take
      // the max value among simultaneous signups, mirrored in the oracle
      val curve = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max(col("value")).as("c_val"))
        .withColumn("c_ms", expr("c_ts DIV 1000000"))
      graft.plans.AsOfJoinOps.asof(probes, curve, "user_id", "c_user", "ts", "c_ts")
        .select(col("event_id"), col("c_ms").as("asof_ms"), col("c_val").as("asof_val"))
        .orderBy("event_id")
    }),

    // J6b — forward as-of: the same custom operator serving the FIRST
    // curve point at-or-after each event (next-calibration lookup), with
    // a 1-hour tolerance — a stale "next" point a day away must NOT
    // serve. Same merge pass, same shuffles; direction and tolerance are
    // merge-time parameters, not new plan shapes (duality + fixture
    // semantics pinned in AsOfJoinSpec).
    "q_asof_forward" -> ((s, d) => {
      val e = Tables.events(s, d)
      val probes = e.select(col("event_id"), col("user_id"), col("ts"))
      val curve = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max(col("value")).as("c_val"))
        .withColumn("c_ms", expr("c_ts DIV 1000000"))
      // tolerance in the ts unit (epoch ns): 1 hour
      graft.plans.AsOfJoinOps.asof(probes, curve, "user_id", "c_user",
          "ts", "c_ts", direction = "forward", tolerance = 3600L * 1000000000L)
        .select(col("event_id"), col("c_ms").as("next_ms"),
          col("c_val").as("next_val"))
        .orderBy("event_id")
    }),

    // J6c — nearest as-of: the closest curve point on EITHER side within
    // tolerance, ties resolving backward (sensor-alignment semantics —
    // match each event to its nearest calibration). Completes the
    // catalog exposure of the direction surface (backward/forward/
    // nearest are merge-time parameters of the same AsOfJoinExec merge
    // pass — no new plan shape); the tie-break is pinned in
    // AsOfJoinSpec and mirrored ordinally in the oracle's ORDER BY.
    "q_asof_nearest" -> ((s, d) => {
      val e = Tables.events(s, d)
      val probes = e.select(col("event_id"), col("user_id"), col("ts"))
      val curve = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max(col("value")).as("c_val"))
        .withColumn("c_ms", expr("c_ts DIV 1000000"))
      graft.plans.AsOfJoinOps.asof(probes, curve, "user_id", "c_user",
          "ts", "c_ts", direction = "nearest", tolerance = 3600L * 1000000000L)
        .select(col("event_id"), col("c_ms").as("near_ms"),
          col("c_val").as("near_val"))
        .orderBy("event_id")
    }),

    // J7 — multimodal join: text table ⋈ embedding table.
    "q_multimodal_join" -> ((s, d) => {
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          size(col("embedding")).as("emb_dim"))
        .orderBy("doc_id")
    }),

    // Ordered-sequence funnel (signup -> later click -> later purchase):
    // the product-analytics staple, computed as three stacked windows
    // over ONE user partitioning — each stage's first-hit time is a
    // conditional min over the previous stage's (per-user-constant)
    // time, so the whole funnel costs a single Exchange + three Window
    // passes, never a self-join per stage. Times are epoch-ns longs:
    // exact integer compares on both engines.
    "q_event_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val perUser = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") > col("s_ts"),
            col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("c_ts"),
            col("ts"))).over(w))
        .groupBy("user_id").agg(max("s_ts").as("s_ts"),
          max("c_ts").as("c_ts"), max("p_ts").as("p_ts"))
      perUser.agg(
        count(col("s_ts")).as("n_signup"),
        count(col("c_ts")).as("n_click_after"),
        count(col("p_ts")).as("n_purchase_after"))
    }),

    // Funnel with per-stage CONVERSION RATES — the table a product
    // analyst actually reads: each stage's user count plus its conversion
    // from the previous stage in integer basis points (the engine-proof
    // integer-output rule; never a rounded DOUBLE). Same single-Exchange
    // window stack as q_event_funnel; the stage table is 4 rows, so the
    // lag over it is trivially bounded.
    "q_funnel_rates" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val perUser = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") > col("s_ts"),
            col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("c_ts"),
            col("ts"))).over(w))
        .groupBy("user_id").agg(max("s_ts").as("s_ts"),
          max("c_ts").as("c_ts"), max("p_ts").as("p_ts"))
      val agg = perUser.agg(
        count(lit(1)).as("n_total"),
        count(col("s_ts")).as("n_signup"),
        count(col("c_ts")).as("n_click"),
        count(col("p_ts")).as("n_purchase"))
      val stages = agg.select(explode(array(
          struct(lit(0).as("stage_id"), lit("total").as("stage"),
            col("n_total").as("n_users")),
          struct(lit(1).as("stage_id"), lit("signup").as("stage"),
            col("n_signup").as("n_users")),
          struct(lit(2).as("stage_id"), lit("click_after").as("stage"),
            col("n_click").as("n_users")),
          struct(lit(3).as("stage_id"), lit("purchase_after").as("stage"),
            col("n_purchase").as("n_users")))).as("st"))
        .select(col("st.*"))
      val ws = Window.orderBy("stage_id") // 4 rows by construction
      stages.withColumn("prev", lag("n_users", 1).over(ws))
        .select(col("stage_id"), col("stage"), col("n_users"),
          when(col("prev").isNull || col("prev") === 0, lit(null))
            .otherwise(round(col("n_users") * lit(10000.0) / col("prev"))
              .cast("long")).as("conv_bp"))
        .orderBy("stage_id")
    }),

    // Cohort retention RATES: each (cohort, age) cell as basis points of
    // its cohort's base (offset-0) population — the normalized matrix
    // analysts plot. The base comes from a window OVER the aggregated
    // (cohort-bounded) matrix, not a join back — a filter+join re-executes
    // the corpus lineage and doubles the user_id shuffle (PlanAuditSpec
    // caught exactly that on the first cut); outputs stay integer (bp)
    // for engine-proof hashing.
    "q_retention_rates" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val weekMs = 604800000L
      val w = Window.partitionBy("user_id")
      val cells = Tables.events(s, d).select(col("user_id"), col("ts_ms"))
        .withColumn("first_ms", min("ts_ms").over(w))
        .select(col("user_id"),
          expr(s"first_ms div $weekMs").as("cohort_week"),
          (expr(s"ts_ms div $weekMs") - expr(s"first_ms div $weekMs"))
            .as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
      val wc = Window.partitionBy("cohort_week")
      cells.withColumn("n_base",
          max(when(col("week_offset") === 0, col("n_users"))).over(wc))
        .select(col("cohort_week"), col("week_offset"), col("n_users"),
          round(col("n_users") * lit(10000.0) / col("n_base"))
            .cast("long").as("retention_bp"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Cohort retention: users grouped by their first-seen week, counted
    // per activity-week offset — the (cohort x age) retention matrix.
    // Cohort assignment is one min-over-user window sharing the same
    // Exchange as the funnel shape; week math is integer division on
    // epoch-ms, bit-exact across engines.
    "q_cohort_retention" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val weekMs = 604800000L
      val w = Window.partitionBy("user_id")
      Tables.events(s, d).select(col("user_id"), col("ts_ms"))
        .withColumn("first_ms", min("ts_ms").over(w))
        .select(col("user_id"),
          expr(s"first_ms div $weekMs").as("cohort_week"),
          (expr(s"ts_ms div $weekMs") - expr(s"first_ms div $weekMs"))
            .as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // G5 — gap-based sessionization (batch twin; streaming version uses
    // session_window, see graft.streaming).
    "q_sessionize" -> ((s, d) => {
      TimeOps.sessionize(Tables.events(s, d), 1800000L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_idx")
    }),

    // G5+ — CDC state-run compaction (TimeOps.stateRuns): the events
    // change log becomes a type-2 (SCD2) interval table — per user,
    // consecutive same-state events collapse into [valid_from, valid_to)
    // runs, open run's valid_to null. One user_id shuffle reused across
    // both windows and the run aggregate; the warehouse dimension-history
    // builder from the same stream sessionize reads.
    "q_scd2_compact" -> ((s, d) => {
      graft.ops.TimeOps.stateRuns(
        Tables.events(s, d).select(col("user_id"), col("ts_ms"),
          col("event_id"), col("event_type")))
        .orderBy("user_id", "run_id")
    }),

    // G5+ — SCD2 late-correction merge (TimeOps.stateRunsMerge): real CDC
    // delivers out-of-order corrections that re-open compacted history.
    // The split simulates a correction day — users in residue class
    // 3 mod 7 get their event_id%13==0 events LATE — so both merge paths
    // run: ~6/7 of keys pass through the broadcast anti join untouched
    // (their run_ids must survive verbatim), affected keys recompute from
    // the key-pruned archive ∪ late union on one user_id shuffle. The
    // oracle is the full recompute over ALL events (identical SQL to
    // q_scd2_compact) — merge ≡ recompute IS the contract
    // (PropertySpec pins it on random splits).
    "q_scd2_merge" -> ((s, d) => {
      // r20 opt note: a localCheckpoint pin of this slice was MEASURED
      // SLOWER (1.11 -> 1.36 s steady) — the five parallel columnar
      // re-scans are cheaper than a serial materialization; pins pay
      // only for CPU-heavy re-derivation (shingles/tokenize/decode)
      val ev = Tables.events(s, d).select(col("user_id"), col("ts_ms"),
        col("event_id"), col("event_type"))
      val isLate = pmod(col("user_id"), lit(7)) === 3 &&
        pmod(col("event_id"), lit(13)) === 0
      val onTime = ev.filter(!isLate)
      val late = ev.filter(isLate)
      graft.ops.TimeOps.stateRunsMerge(
        graft.ops.TimeOps.stateRuns(onTime), onTime, late)
        .orderBy("user_id", "run_id")
    }),

    // G5+ — interval union / covered time (TimeOps.intervalUnion): each
    // event opens a 30-min activity interval; overlaps merge per user and
    // the output is merged-interval count + total covered wall-clock —
    // the uptime aggregate sessionize doesn't give you. One user_id
    // shuffle reused across both windows and both aggregations.
    "q_interval_union" -> ((s, d) => {
      graft.ops.TimeOps.intervalUnion(
        Tables.events(s, d).select(col("user_id"), col("ts_ms"), col("event_id")),
        lenMs = 1800000L)
        .orderBy("user_id")
    }),

    // G6 — tumbling-window aggregate (batch twin of the streaming agg).
    "q_tumbling_window" -> ((s, d) => {
      TimeOps.tumblingAgg(Tables.events(s, d))
        .orderBy("window_start_ms", "event_type")
    }),

    // G7 — similarity search: top-10 nearest embeddings to probe vec_id=0.
    "q_embedding_topk" -> ((s, d) => {
      Similarity.cosineTopK(Tables.embeddings(s, d), probeId = 0L, k = 10)
    }),

    // G7 — filtered vector search: top-10 among rows satisfying a metadata
    // predicate (the "search my subset" contract every retrieval pipeline
    // needs). Filter-then-score: the label predicate reaches the parquet
    // scan, so only eligible rows are ever scored (plan-pinned).
    "q_ann_filtered" -> ((s, d) => {
      Similarity.cosineTopKFiltered(Tables.embeddings(s, d), probeId = 0L,
        k = 10, pred = col("label").between(2, 5))
    }),

    // G7 — the same filtered contract SERVED FROM THE INDEX: full probing
    // keeps it exact (so it shares q_ann_filtered's oracle) while the plan
    // is the production shape — the metadata predicate conjoins with the
    // probed-cell prune inside searchTopKBatch, so scan fraction and
    // selectivity multiply on a saved index.
    "q_ann_filtered_ivf" -> ((s, d) => {
      graft.ops.IvfIndex.searchTopKFiltered(sharedModel(s, d), probeId = 0L,
        k = 10, nprobe = 16, pred = col("label").between(2, 5))
    }),

    // G7 scale path — IVF ANN with full probing (nprobe=nlist), which is
    // provably exact, so it shares the brute-force oracle; partial probing
    // (the actual ANN trade) is covered by IvfIndexSpec.
    "q_ivf_topk" -> ((s, d) => {
      // full probing is exact for ANY centroids, so one training round
      // suffices here; quality-vs-nprobe behavior is IvfIndexSpec's job
      graft.ops.IvfIndex.searchTopK(sharedModel(s, d), probeId = 0L, k = 10, nprobe = 16)
    }),

    // G7 batch serving shape — many probes answered in ONE pass over the
    // inverted file (searchTopKBatch; a per-probe loop is the driver-side
    // anti-pattern at scale). Full probing keeps it oracle-exact; partial
    // probing recall is IvfRecallBench (at 8a861d8) / SCALE.md territory.
    "q_ann_batch" -> ((s, d) => {
      graft.ops.IvfIndex.searchTopKBatch(sharedModel(s, d), Seq(0L, 1L, 2L), k = 5, nprobe = 16)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // G7 — the partial-probe recall CONTRACT, gate-exposed (until r12 the
    // actual ANN trade — nprobe < nlist — lived only in IvfIndexSpec and
    // SCALE.md; the oracle-backed keys all probe fully). One batch search
    // at nprobe=4 of nlist=16 against the exact full-probe answer, both
    // through the shared model; the verdict is BATCH-MEAN recall@10 over
    // 10 probes >= 0.35 — calibrated by tools/AnnRecallProbe at 8a861d8 (deterministic
    // seeded build; measured means 0.50–0.55 across sf0.001/0.01/0.1,
    // where broken cell RANKING would collapse toward the ~0.25 uniform-
    // cell baseline). Per-probe recall is legitimately spiky (0.2–1.0) —
    // the mean is the stable regression signal. Scale shape: two
    // inverted-file passes (4/16 then 16/16 of the corpus) + a 100-row
    // join — the recall audit a production index runs after every
    // maintenance cycle.
    "q_ann_recall" -> ((s, d) => {
      val probes = (0L until 10L).toSeq
      val m = sharedModel(s, d)
      val exact = graft.ops.IvfIndex.searchTopKBatch(m, probes, k = 10, nprobe = 16)
        .select(col("probe_id"), col("vec_id"))
      val part = graft.ops.IvfIndex.searchTopKBatch(m, probes, k = 10, nprobe = 4)
        .select(col("probe_id"), col("vec_id"))
      // both sides are probes×k (100-row) frames; broadcasting the served
      // side removes the catalog's only SortMergeJoin (plan golden)
      val hit = exact.join(broadcast(part), Seq("probe_id", "vec_id"))
        .agg(count(lit(1)).as("n_hit"))
      val tot = exact.agg(count(lit(1)).as("n_exact"))
      hit.crossJoin(tot).select(
        lit(probes.size).as("n_probes"),
        col("n_exact"),
        when(col("n_hit").cast("double") / col("n_exact").cast("double")
          >= 0.35, 1).otherwise(0).as("mean_recall_ok"))
    }),

    // G7 persisted-index serving — the SAME batch contract as q_ann_batch
    // but routed through the FULL index maintenance cycle: build + save on
    // the even half of the corpus, then the odd half arrives later via
    // IvfIndex.append (assigned with the frozen saved centroids, appended
    // into the existing cell directories), then load → batch search. The
    // correctness artifact thereby proves the disk path end to end
    // (VERDICT r6 #3) INCLUDING incremental ingest: the search reads the
    // cell-partitioned parquet with the probed-cell list pruning
    // directories at planning time, and full probing keeps the result
    // oracle-exact regardless of which centroid trained where — shares
    // q_ann_batch's oracle.
    "q_ann_persist" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ops.IvfIndex.build(
        emb.filter(col("vec_id") % 2 === 0), nlist = 16, iters = 1)
      // one index dir per (process, dataset), rebuilt in place — a fresh
      // temp dir per invocation orphaned one directory per bench
      // iteration (deleteOnExit cannot remove a non-empty dir; VERDICT
      // r12 #1). Same pid-scoped reapOnExit pattern as
      // q_summary_percentiles: pid keeps concurrent processes apart, the
      // shutdown hook fullyDeletes the one dir per process.
      val dir = CoreQueries.pidScopedDir("graft_ann_persist", d)
      graft.ops.IvfIndex.save(model, dir.toString)
      graft.ops.IvfIndex.append(s, dir.toString, emb.filter(col("vec_id") % 2 =!= 0))
      val loaded = graft.ops.IvfIndex.load(s, dir.toString)
      graft.ops.IvfIndex.searchTopKBatch(loaded, Seq(0L, 1L, 2L), k = 5, nprobe = 16)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // G7 index rebalance — the same batch contract through
    // IvfIndex.refine: the shared build, then force hot-cell splits
    // (threshold at half the balanced share), then search the refined
    // index with every cell probed. Full probing is exact for ANY cell
    // structure, so the correctness artifact proves refine moves rows
    // without losing or duplicating any — shares q_ann_batch's oracle.
    // refine never mutates its input model, so sharing the build is safe.
    "q_ann_refine" -> ((s, d) => {
      val m = sharedModel(s, d)
      val n = m.assignments.count()
      val r = graft.ops.IvfIndex.refine(m,
        maxCellRows = math.max(1L, n / 32), splitInto = 2)
      val ncells = r.centroids.count().toInt
      graft.ops.IvfIndex.searchTopKBatch(r, Seq(0L, 1L, 2L), k = 5, nprobe = ncells)
        .orderBy(col("probe_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // North star composition — multimodal→ANN end to end: synthesize image
    // assets (REAL javax.imageio PNG encode), decode + feature-extract
    // (REAL decode, 4×4 luminance grid → 16-dim embedding), then IVF ANN
    // top-k — the q_dup_clusters of multimodal columns. Oracle-able
    // because the asset generator is analytically invertible (see
    // Multimodal.syntheticImageAssets): the decoded embedding is
    // closed-form integer arithmetic in doc_id, and full probing
    // (nprobe=nlist) makes IVF exact.
    "q_multimodal_ann" -> ((s, d) => {
      // corpus capped by id (mirrored in the oracle): the demo's value is
      // the composition, not the asset count; Long.MaxValue skips the
      // train-sample sizing count on a corpus bounded by construction
      val ids = Tables.documents(s, d).filter(col("doc_id") < 1024).select("doc_id")
      val assets = graft.ops.Multimodal.syntheticImageAssets(ids, "doc_id")
      // pin the decoded features ONCE (r20 opt, guide §1.2/§4.2): the
      // PNG encode+decode mapPartitions is opaque and sat in the lineage
      // of the k-means init, the Lloyd round, AND the final assignment —
      // three full image passes per invocation. One localCheckpoint makes
      // every downstream consumer read 16-dim float rows instead of
      // re-encoding 1024 PNGs (same values — the generator and decoder
      // are deterministic; the driver's oracle compare is unchanged).
      val feats = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(
          graft.ops.Multimodal.extractFeatures(assets, real = true)
            .select(col("asset_id").as("vec_id"), col("embedding"))
            .localCheckpoint())
      val model = graft.ops.IvfIndex.build(feats, nlist = 8, iters = 1,
        maxTrainRows = Long.MaxValue)
      graft.ops.IvfIndex.searchTopK(model, probeId = 0L, k = 10, nprobe = 8)
    }),

    // North star — embedding near-dup: top-3 most-similar pairs per label
    // block (blocked candidate generation; no global cross product).
    "q_embed_neardup" -> ((s, d) => {
      Similarity.topPairsPerBlock(Tables.embeddings(s, d), "label", 3)
        .select(col("block").as("label"), col("id_a"), col("id_b"), col("cos_sim"))
        .orderBy("label", "id_a", "id_b")
    }),

    // North star scale path — the bounded variant of q_embed_neardup:
    // hyperplane-LSH sub-blocking caps in-block pair growth (the soak's
    // one quadratic hotspot). No SQL oracle (seeded hyperplane family);
    // recall-vs-exact is SimilaritySpec's contract. r20 (the r19
    // verdict's #1): pair_ok re-verifies each emitted pair against the
    // raw input embeddings (recomputed round(dot,4), block membership,
    // orientation) — tools/check.py requires it all-1, so the gate now
    // constrains the key beyond row counts; recall/completeness stays
    // the spec's contract (re-deriving the bounded candidate set
    // in-query would just re-run the operator).
    "q_embed_neardup_bounded" -> ((s, d) => {
      // dim inferred from the data (one tiny head job): a hardcoded 64
      // silently truncated the planes against 16-dim fuzz corpora — the
      // same defect fixed on q_semantic_dedup_bounded (review find)
      val emb = Tables.embeddings(s, d)
      Verdicts.withPairCosOk(
        Similarity.topPairsPerBlockBounded(emb, "label", 3)
          .select(col("block").as("label"), col("id_a"), col("id_b"),
            col("cos_sim")),
        emb, "label")
        .orderBy("label", "id_a", "id_b")
    }),

    // North star — SemDeDup-style semantic deduplication
    // (Similarity.semanticDedup): k-means cells via the IVF quantizer,
    // within-cell cosine pairs (cell equi-join, never all-pairs), one
    // canonical keeper per connected group. No SQL oracle (seeded
    // k-means, like the other declared no-oracle embedding keys) —
    // planted-cluster exactness, the no-dup identity case, and the
    // equi-join plan are SimilaritySpec's; driver records rows-only.
    // minCos = 0.45 here, NOT the API's 0.99 production default: the
    // synthetic embeddings hold no true near-dups (measured max pairwise
    // cos 0.48 at sf0.001 / 0.60 at sf0.1), so a production threshold
    // would skip the pairs→components→canonical path entirely; 0.45
    // exercises it non-vacuously and the spec pins semantics at 0.99 on
    // planted clusters.
    // r20 (the r19 verdict's #1): cos_ok re-verifies every grouped row's
    // pair evidence from the raw embeddings, keeper_ok re-resolves the
    // KeepMinId rule per group — check.py requires both all-1.
    "q_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      Verdicts.withSemanticVerdicts(
        Similarity.semanticDedup(emb, nlist = 16, minCos = 0.45),
        emb, minCos = 0.45, centroids = None)
        .orderBy("vec_id")
    }),

    // North star — the giant-cell-bounded semantic dedup
    // (Similarity.semanticDedupBounded) with the SemDeDup paper's
    // farthest-from-centroid keeper: cells above maxCell rows route
    // through hyperplane sub-blocking (cosine still verified on every
    // emitted pair — the cap costs recall only, never admits a false
    // pair), cold cells stay byte-identical to q_semantic_dedup's exact
    // compare. maxCell = 32 exercises BOTH routes at the gate SF
    // (sf0.01: 500 vectors over 16 cells, sizes 26-38 — 6 hot, 10
    // cold); at sf0.1 (2000 vectors, ~125/cell) every cell routes —
    // each a legitimate operating point.
    // No SQL oracle (seeded k-means + hyperplane family);
    // cold==exact equivalence, the Hamming<=1 hot-cell driver
    // reference, the keeper-rule driver reference, and the routed-cell
    // report are SimilaritySpec's pins — driver records rows-only.
    // r20 (the r19 verdict's #1): cos_ok — pair evidence from raw
    // embeddings (valid on routed cells too: an emitted hot-cell pair is
    // cosine-verified, so the full-cell evidence scan is a superset);
    // keeper_ok — the far-from-centroid argmin re-resolved per group
    // against the build's exposed centroids.
    "q_semantic_dedup_bounded" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      // dim inferred from the data: a hardcoded width silently truncates
      // against narrower corpora (the fuzz packs are 16-dim where the
      // testdata is 64 — DotProductF folds over the common prefix, so
      // wrong-width planes produce a VALID but unintended signature
      // family; review find)
      val sd = Similarity.semanticDedupBounded(emb, nlist = 16,
        minCos = 0.45, maxCell = 32,
        keeper = Similarity.KeepFarFromCentroid)
      Verdicts.withSemanticVerdicts(sd.result, emb, minCos = 0.45,
          centroids = Some(sd.centroids))
        .orderBy("vec_id")
    }),

    // North star — INCREMENTAL embedding near-dup against a persisted
    // hyperplane-bucket index (Similarity.embIndexIngest): the vector
    // side's continuous-ingest shape, the same bucketed/pruned on-disk
    // machinery as the text band index. Even vec_ids indexed, odd
    // vec_ids probed (home + 1-bit flips, arrival-restricted Hamming<=1
    // contract). No SQL oracle (seeded hyperplane family, like
    // q_embed_neardup_bounded); the incremental ≡ restricted-full and
    // sharded-completeness contracts are SimilaritySpec's — driver
    // records the rows-only check.
    // r20 (the r19 verdict's #1): the incremental ≡ restricted-full
    // contract, previously SimilaritySpec-only, now ALSO verified
    // in-query — the expected pair set is recomputed DIRECTLY from the
    // raw embeddings (arrival probes × all home bands, no store), then
    // pair_ok pins emitted ⊆ direct (a corrupted store emitting a bogus
    // candidate flips its row) and complete_ok pins direct ⊆ emitted (a
    // store that LOST a row flips every row — a missing pair has no row
    // of its own to flip). check.py requires both all-1.
    "q_embed_dedup_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val history = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val arrivals = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val dir = CoreQueries.pidScopedDir("graft_emb_band_index", d)
      // one dim probe shared by every band/probe table below — each
      // would otherwise run its own head job to size the hyperplanes
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      // r21 (VERDICT r20 "Next round" #3): sign each side ONCE. The
      // hyperplane dots are this key's dominant CPU and previously ran
      // 2x over history (index append + the direct recompute) and 3-4x
      // over arrivals (probe route's home+flip tables + the direct
      // recompute's probe table). `home` pins history's signatures,
      // signedBatch pins the arrivals' — and the DIRECT pair set is
      // still derived store-FREE from those signatures (the verdict
      // guards the store round-trip: pair_ok pins emitted ⊆ direct,
      // complete_ok direct ⊆ emitted — the signature math itself is
      // deterministic from the raw embeddings on both routes).
      val home = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(Similarity.embBandTable(history,
          "vec_id", "embedding", dim = dim).localCheckpoint())
      val (arrHome, arrProbes) = Similarity.signedBatch(arrivals,
        "vec_id", "embedding", bits = 8, seed = 42L, dim = dim,
        families = 1)
      Dedup.BandIndex.append(dir.toString, home, 16)
      val direct = home.unionByName(arrHome)
        .join(arrProbes
          .select(col("doc_id").as("doc_n"), col("band").as("band_n")),
          col("band") === col("band_n") && col("doc_id") =!= col("doc_n"))
        .select(least(col("doc_id"), col("doc_n")).as("doc_a"),
          greatest(col("doc_id"), col("doc_n")).as("doc_b"))
      Verdicts.withPairSetOk(
        Similarity.embIndexProbe(dir.toString, arrHome, arrProbes).pairs,
        direct, "doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    }),

    // North star — the CONTINUOUS VECTOR-corpus build
    // (ops.VectorFlow.ingest): q_curation_incremental's embedding twin,
    // closing the text↔vector symmetry at the corpus level. Two arrival
    // waves under FIRST-WINS semantics against the persisted digest +
    // hyperplane-band + kept-vector stores: wave 1 is the even vec_ids;
    // wave 2 the odd ids PLUS planted history twins of wave-1 keeps —
    // exact copies (+1M id offset → exact_history) and 0.1%-nudged
    // copies (+2M offset → cosine ≈ 1 ≥ .99 → neardup_history after the
    // pruned vector-store fetch verifies the candidate). Every candidate
    // drop is TRUE-cosine-verified, unlike the text flow's
    // band-candidacy contract. No SQL oracle (seeded hyperplane family);
    // the two-wave exactness, verification gate, and replay contracts
    // are VectorFlowSpec's/StreamingSpec's. r19 (the r18 verdict's #2):
    // the key now SELF-VERIFIES in-query — dup_cos_ok re-verifies every
    // dedup drop against the true input embeddings (exact statuses:
    // byte-equal vectors; neardup statuses: cosine >= minCos, the same
    // expression decide's verification ran), store_ok pins kept <=>
    // in-the-vector-store row by row. tools/check.py requires every
    // *_ok column of a no-oracle key to be all-1, so a skipped
    // verification or a lost store row now FAILS the gate
    // (FlowVerdictsSpec plants both). Driver still records rows-only.
    "q_vector_curation" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val dir = CoreQueries.pidScopedDir("graft_vector_curation", d)
      val p = graft.ops.VectorFlow.Params(minCos = 0.99)
      val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val w1 = graft.ops.VectorFlow.ingest(dir.toString, evens, 0L, p)
      val copies = evens.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nudged = evens.filter(pmod(col("vec_id"), lit(10)) === 4)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, (x * lit(1.001)).cast("float"))
              .otherwise(x)).as("embedding"))
      val w2in = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .unionByName(copies).unionByName(nudged)
      val w2 = graft.ops.VectorFlow.ingest(dir.toString, w2in, w1.cursor, p)
      val decisions = w1.decisions.withColumn("wave", lit(1))
        .unionByName(w2.decisions.withColumn("wave", lit(2)))
      val allIn = evens.unionByName(w2in)
      decisions
        .join(allIn.select(col("vec_id"), col("embedding").as("__e")),
          Seq("vec_id"), "left")
        .join(allIn.select(col("vec_id").as("matched_id"),
          col("embedding").as("__m")), Seq("matched_id"), "left")
        .join(Verdicts.storedFlag(s, dir.toString + "/vectors", "vec_id"),
          Seq("vec_id"), "left")
        .withColumn("dup_cos_ok", Verdicts.dupCosOkCol(
          Seq("exact_history", "exact_batch"),
          Seq("neardup_history", "neardup_batch"), p.minCos))
        .withColumn("store_ok", Verdicts.storeOkCol(col("status") === "kept"))
        .select(col("vec_id"), col("status"), col("matched_id"),
          col("wave"), col("dup_cos_ok"), col("store_ok"))
        .orderBy("vec_id")
    }),

    // North star — heavy hitters via the mergeable Misra-Gries udaf
    // (functions.HeavyHittersAgg). With capacity >= key cardinality the
    // summary degenerates to exact counting, so the same op that
    // constant-memory-summarizes a 100 TB token stream is oracle-exact
    // here on the bounded lang column.
    "q_heavy_hitters" -> ((s, d) => {
      val agg = udaf(new graft.functions.HeavyHittersAgg(capacity = 64, k = 3))
      Tables.documents(s, d).agg(agg(col("lang")).as("hh"))
        .select(explode(col("hh")).as("x"))
        .select(col("x._1").as("lang"), col("x._2").as("cnt"))
        .orderBy(desc("cnt"), col("lang"))
    }),

    // North star — MinHash + LSH band-bucket near-dup candidates.
    "q_minhash_lsh" -> ((s, d) => {
      Dedup.lshCandidatePairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    }),

    // North star — INCREMENTAL near-dup candidates against a persisted
    // band index (Dedup.lshIncrementalCandidates): the continuous-ingest
    // shape — even doc_ids are the indexed history (band table built,
    // written to parquet, read BACK — the serving path), odd doc_ids are
    // the arriving batch. One equi-join of the batch's bands against
    // (stored ∪ batch); history never self-joins, so per-batch cost is
    // independent of corpus size. Oracle = the full-corpus band-pair SQL
    // restricted to pairs touching an arrival — incremental ≡ restricted
    // full recompute IS the contract (OpsSpec pins it too).
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      // r14: drive the REAL persisted-index path — history ingested into
      // the bucketed band index (hive-partitioned by band-hash bucket),
      // arrivals probed through the pruned read (static bkt IN (...)
      // partition filter — the probe lists only touched buckets)
      val dir = CoreQueries.pidScopedDir("graft_band_index", d)
      Dedup.BandIndex.append(dir.toString,
        Dedup.ingestBands(history, "doc_id", "text"), 16)
      Dedup.bandIndexProbe(dir.toString, arrivals, "doc_id", "text")
        ._1.pairs.orderBy("doc_a", "doc_b")
    }),

    // North star — the HOT-BAND-CAPPED incremental probe (r14): bands
    // whose occupancy exceeds the cap emit an arrival star onto the
    // bucket representative instead of all pairs, keeping candidate
    // output (and the pair-distinct's peak task) linear in the bucket
    // under crawl-grade duplicate density. maxBucket=2 here is a
    // DEMONSTRATION cap sized so the real corpus (organic occupancy ≤ 8,
    // tools/OccProbe at 8a861d8) exercises both the exact and star paths in the
    // oracle gate; production defaults to 1024.
    "q_dedup_incremental_bounded" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val dir = CoreQueries.pidScopedDir("graft_band_bounded", d)
      Dedup.BandIndex.append(dir.toString,
        Dedup.ingestBands(history, "doc_id", "text"), 16)
      Dedup.bandIndexIngest(dir.toString, arrivals, "doc_id", "text",
          maxBucket = 2)
        .pairs.orderBy("doc_a", "doc_b")
    }),

    // North star — the cap's OBSERVABILITY frame, oracle-gated in its own
    // right: which bands saturated, their true occupancy, and exactly how
    // many arrival-touching pairs the star suppressed. "No silent
    // truncation" as a checked contract, not a doc sentence.
    "q_dedup_overflow_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val arrivals = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      // r20 opt: pin the arrivals' band table — the bounded-candidates
      // expression references it twice (member union + touched-band
      // probe), and unpinned it re-ran the minhash+shingle Generate
      // chain per reference (the ckptBands discipline the index-backed
      // ingest route already applies; 12 Generate nodes -> one pass)
      val newBands = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(
          Dedup.lshBandTable(arrivals.repartition(col("doc_id")), "doc_id",
            "text").localCheckpoint())
      Dedup.lshIncrementalCandidatesBounded(
          Dedup.lshBandTable(history.repartition(col("doc_id")), "doc_id", "text"),
          newBands, maxBucket = 2)
        .overflow.orderBy("band")
    }),

    // North star — 32-bit SimHash document fingerprints.
    "q_simhash" -> ((s, d) => {
      TextOps.simhash32(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // North star — n-gram Jaccard between consecutive documents
    // (numerator/denominator emitted as exact ints).
    "q_ngram_jaccard" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tokens"))
        .filter(size(col("tokens")) >= 3)
      val sh = t.select(col("doc_id"), array_distinct(
        graft.functions.WordShinglesF.shingles(s, col("tokens"), 3)).as("s"))
      val b = sh.select(col("doc_id").as("doc_b"), col("s").as("s_b"))
      sh.join(b, col("doc_b") === col("doc_id") + 1)
        .select(col("doc_id").as("doc_a"), col("doc_b"),
          size(array_intersect(col("s"), col("s_b"))).as("n_inter"),
          (size(col("s")) + size(col("s_b")) -
            size(array_intersect(col("s"), col("s_b")))).as("n_union"))
        .orderBy("doc_a")
    }),

    // North star — language-ID heuristic (integer-threshold stopword ratio).
    "q_lang_id" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.langIdHeuristic(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // North star — quality scoring (pure integer arithmetic).
    "q_quality_score" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).as("n_digit"),
        size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).as("n_punct"))
        .withColumn("quality",
          (least(col("n_tok"), lit(200)) * 5 - col("n_digit") * 4 + col("n_punct") * 2)
            .cast("int"))
        .orderBy("doc_id")
    }),

    // North star — token counting: whitespace + BPE-ish regex segmentation.
    "q_token_count" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"))
        .orderBy("doc_id")
    }),

    // North star — chunked rolling document fingerprint.
    "q_doc_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.docFingerprint("text").as("fp"))
        .orderBy("doc_id")
    }),

    // G4 dataflow shape — connected components by large-star/small-star
    // contraction (O(log n) rounds, proven fixed point or throw) over the
    // order↔part bipartite graph (part nodes sign-flipped to share the id
    // space). ORACLE-BACKED (r18, closing the r17 verdict's #1): the
    // DuckDB twin exploits the construction's bipartite shape — orders
    // all collapse onto their parts in one hop, so components are the
    // part-graph's (parts sharing an order), closed by a recursive
    // local-minima label spread whose row set stays bounded (labels are
    // component-minimum CANDIDATES only, propagated strictly downhill —
    // never the all-pairs transitive closure the q_dup_map chase can
    // afford on its small loser sets). TWO graphs per run: the FULL
    // bond graph (the scale shape — one giant component on every
    // dataset, so its check reduces to the global min label + exact
    // node count) and the SPARSE line-1 subgraph, whose hundreds of
    // components make the oracle discriminate per-component labelings
    // (340 components at sf0.01), not just the global count.
    "q_connected_components" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def counts(e: org.apache.spark.sql.DataFrame, tag: String) =
        graft.ops.Graph.connectedComponents(e)
          .groupBy("component").agg(count(lit(1)).as("n_nodes"))
          .withColumn("graph", lit(tag))
      def edges(f: org.apache.spark.sql.Column) = li.filter(f)
        .select(col("l_orderkey").as("src"), (-col("l_partkey") - 1).as("dst"))
      counts(edges(lit(true)), "full")
        .unionByName(counts(edges(col("l_linenumber") === 1), "sparse"))
        .select("graph", "component", "n_nodes")
        .orderBy("graph", "component")
    }),

    // G4+ — PageRank over the same order-part bipartite bond graph as
    // q_connected_components: 3 power-iteration rounds, each two
    // equi-joins + one aggregate with scalar dangling redistribution.
    // ORACLE-BACKED (r18, closing the r17 verdict's #1): served by the
    // FIXED-POINT variant (Graph.pageRankFixedPoint — BIGINT ranks in
    // 1e-9 units, exact integer div/mul throughout), so the per-node
    // longs are bit-identical across engines by construction (class A,
    // VERIFY_NOTES.md) — no ROUND of an engine-divergent double
    // anywhere. The float-double pageRank (epsilon termination, mass
    // conservation) stays pinned by GraphSpec.
    // scale = -1 (r18 ADVICE): the largest power of 10 the node count
    // admits, capped at 1e9 — identical to the hardcoded 1e9 at every
    // test SF (the cap binds until ~108M nodes), but the bench never
    // aborts on a larger graph; the oracle computes the same choice
    // with the same integer arithmetic.
    "q_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("src"), (-col("l_partkey") - 1).as("dst"))
      graft.ops.Graph.pageRankFixedPoint(edges, iters = 3, scale = -1L)
        .orderBy("node_id")
    }),

    // F9 — combined text statistics (token/char/regex counts).
    "q_text_analysis" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha_runs"),
        length(regexp_replace(col("text"), " ", "")).as("n_nonspace"))
        .orderBy("doc_id")
    })
  )

  private val tokSql = """string_split_regex(trim(text), '\s+')"""

  private val simhashSql: String = {
    val sums = (0 until 32)
      .map(b => s"SUM((ascii(substr(h, ${b + 1}, 1)) % 2) * 2 - 1) AS s$b")
      .mkString(", ")
    val bits = (0 until 32)
      .map(b => s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"WITH t0 AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents), " +
      s"t AS (SELECT doc_id, md5(tok) AS h FROM t0), " +
      s"a AS (SELECT doc_id, $sums FROM t GROUP BY doc_id) " +
      s"SELECT doc_id, $bits AS simhash FROM a ORDER BY doc_id"
  }

  // q_connected_components' DuckDB twin. The generic contraction CC has
  // no cheap SQL form, but THIS query's graph is bipartite by
  // construction (orders positive, parts negative): every order's
  // component is its parts', so CC reduces to the part graph (parts
  // sharing an order). The recursive closure propagates LOCAL-MINIMUM
  // labels only, strictly downhill (lbl < receiver) — the component
  // minimum is a local minimum and reaches every member, every other
  // label is a bounded candidate set — so the walk's row count is
  // #locmins × reach, not the all-pairs transitive closure (which on
  // one giant component would be |V|² rows).
  // one chase per graph, CTE names prefixed so both recursions share a
  // single WITH RECURSIVE clause
  private def ccChaseCtes(pred: String, w: String): String =
    s"""${w}e AS MATERIALIZED (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS src, CAST(-l_partkey - 1 AS BIGINT) AS dst FROM lineitem WHERE ($pred) AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), """ +
      s"""${w}pp AS MATERIALIZED (SELECT DISTINCT a.dst AS p1, b.dst AS p2 FROM ${w}e a JOIN ${w}e b ON a.src = b.src AND a.dst < b.dst), """ +
      s"""${w}ppu AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM ${w}pp UNION ALL SELECT p2, p1 FROM ${w}pp), """ +
      s"""${w}locmin AS MATERIALIZED (SELECT a FROM ${w}ppu GROUP BY a HAVING MIN(b) > a), """ +
      s"""${w}walk AS (SELECT a AS node, a AS lbl FROM ${w}locmin UNION SELECT e2.b AS node, w.lbl FROM ${w}walk w JOIN ${w}ppu e2 ON w.node = e2.a WHERE w.lbl < e2.b), """ +
      s"""${w}plab AS MATERIALIZED (SELECT p.part, LEAST(p.part, COALESCE(MIN(w.lbl), p.part)) AS comp FROM (SELECT DISTINCT dst AS part FROM ${w}e) p LEFT JOIN ${w}walk w ON w.node = p.part GROUP BY p.part), """ +
      s"""${w}olab AS MATERIALIZED (SELECT e.src AS node, MIN(pl.comp) AS comp FROM ${w}e e JOIN ${w}plab pl ON e.dst = pl.part GROUP BY e.src), """ +
      s"""${w}alln AS (SELECT part AS node, comp FROM ${w}plab UNION ALL SELECT node, comp FROM ${w}olab)"""

  private val ccSql: String =
    "WITH RECURSIVE " + ccChaseCtes("TRUE", "f") + ", " +
      ccChaseCtes("l_linenumber = 1", "s") + " " +
      "SELECT * FROM (" +
      "SELECT 'full' AS graph, comp AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM falln GROUP BY 2 " +
      "UNION ALL " +
      "SELECT 'sparse' AS graph, comp AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM salln GROUP BY 2" +
      ") ORDER BY graph, component"

  // q_pagerank's DuckDB twin: the SAME exact integer arithmetic as
  // Graph.pageRankFixedPoint (auto scale — the largest power of 10
  // with n*scale*85 inside a long, capped at 1e9, chosen by the same
  // integer powers-table walk as Graph.autoScale; damping 85/100,
  // truncating div, dangling = n*scale - Σ delivered), unrolled over
  // the fixed 3 iterations — class-A bit-identical longs, no doubles
  // anywhere (VERIFY_NOTES.md discipline). DuckDB SUMs of BIGINT are
  // HUGEINT: every sum is cast back before reuse.
  private val pagerankSql: String = {
    def iter(k: Int): String =
      s"c$k AS MATERIALIZED (SELECT e.dst AS node_id, CAST(SUM(r.rank_fp // d.out_deg) AS BIGINT) AS in_sum FROM r${k - 1} r JOIN outdeg d USING (node_id) JOIN e ON e.src = r.node_id GROUP BY e.dst), " +
        s"d$k AS MATERIALIZED (SELECT GREATEST(0, (SELECT nn FROM n) * (SELECT s FROM sc) - CAST(COALESCE(SUM(in_sum), 0) AS BIGINT)) AS dm FROM c$k), " +
        s"r$k AS MATERIALIZED (SELECT nodes.node_id, (15 * (SELECT s FROM sc)) // 100 + (85 * (COALESCE(c$k.in_sum, 0) + (SELECT dm FROM d$k) // (SELECT nn FROM n))) // 100 AS rank_fp FROM nodes LEFT JOIN c$k USING (node_id)), "
    val pows = (0 to 9).map(i => s"(${math.pow(10, i).toLong})").mkString(",")
    "WITH e AS MATERIALIZED (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS src, CAST(-l_partkey - 1 AS BIGINT) AS dst FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
      "nodes AS MATERIALIZED (SELECT src AS node_id FROM e UNION SELECT dst FROM e), " +
      "n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nodes), " +
      s"sc AS MATERIALIZED (SELECT CAST(MAX(p) AS BIGINT) AS s FROM (VALUES $pows) t(p) WHERE CAST(p AS BIGINT) <= 9223372036854775807 // 85 // GREATEST((SELECT nn FROM n), 1)), " +
      "outdeg AS MATERIALIZED (SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY 1), " +
      "r0 AS MATERIALIZED (SELECT node_id, (SELECT s FROM sc) AS rank_fp FROM nodes), " +
      (1 to 3).map(iter).mkString +
      "f AS (SELECT node_id, rank_fp FROM r3) " +
      "SELECT node_id, CAST(rank_fp AS BIGINT) AS rank_fp FROM f ORDER BY node_id"
  }

  val sql: Map[String, String] = Map(
    "q_connected_components" -> ccSql,
    "q_pagerank" -> pagerankSql,
    "q_range_join" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b FROM events a JOIN events b ON a.user_id = b.user_id AND a.event_id < b.event_id AND ABS(epoch_ms(a.ts) - epoch_ms(b.ts)) < 60000 ORDER BY 1, 2""",
    "q_asof_curve" ->
      """WITH curve AS (SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) SELECT e.event_id, (SELECT CAST(epoch_ms(s.ts) AS BIGINT) FROM curve s WHERE s.user_id = e.user_id AND s.ts <= e.ts ORDER BY s.ts DESC LIMIT 1) AS asof_ms, (SELECT s.value FROM curve s WHERE s.user_id = e.user_id AND s.ts <= e.ts ORDER BY s.ts DESC LIMIT 1) AS asof_val FROM events e ORDER BY e.event_id""",
    "q_asof_forward" ->
      """WITH curve AS (SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) SELECT e.event_id, (SELECT CAST(epoch_ms(s.ts) AS BIGINT) FROM curve s WHERE s.user_id = e.user_id AND epoch_ns(s.ts) >= epoch_ns(e.ts) AND epoch_ns(s.ts) - epoch_ns(e.ts) <= 3600000000000 ORDER BY s.ts ASC LIMIT 1) AS next_ms, (SELECT s.value FROM curve s WHERE s.user_id = e.user_id AND epoch_ns(s.ts) >= epoch_ns(e.ts) AND epoch_ns(s.ts) - epoch_ns(e.ts) <= 3600000000000 ORDER BY s.ts ASC LIMIT 1) AS next_val FROM events e ORDER BY e.event_id""",
    // nearest = min |Δt| within tolerance, ties backward: ORDER BY the
    // absolute ns distance, then s.ts ASC (equidistant candidates are one
    // earlier + one later; ASC picks the earlier = backward tie-break)
    "q_asof_nearest" ->
      """WITH curve AS (SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) SELECT e.event_id, (SELECT CAST(epoch_ms(s.ts) AS BIGINT) FROM curve s WHERE s.user_id = e.user_id AND ABS(epoch_ns(s.ts) - epoch_ns(e.ts)) <= 3600000000000 ORDER BY ABS(epoch_ns(s.ts) - epoch_ns(e.ts)) ASC, s.ts ASC LIMIT 1) AS near_ms, (SELECT s.value FROM curve s WHERE s.user_id = e.user_id AND ABS(epoch_ns(s.ts) - epoch_ns(e.ts)) <= 3600000000000 ORDER BY ABS(epoch_ns(s.ts) - epoch_ns(e.ts)) ASC, s.ts ASC LIMIT 1) AS near_val FROM events e ORDER BY e.event_id""",
    "q_multimodal_join" ->
      """SELECT doc_id, lang, n_chars, label, CAST(len(embedding) AS INTEGER) AS emb_dim FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id""",
    "q_event_funnel" ->
      ("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events), """ +
        """a AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN t END) OVER (PARTITION BY user_id) AS s_ts FROM e), """ +
        """b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t > s_ts THEN t END) OVER (PARTITION BY user_id) AS c_ts FROM a), """ +
        """c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t > c_ts THEN t END) OVER (PARTITION BY user_id) AS p_ts FROM b), """ +
        """u AS (SELECT user_id, MAX(s_ts) AS s_ts, MAX(c_ts) AS c_ts, MAX(p_ts) AS p_ts FROM c GROUP BY user_id) """ +
        """SELECT COUNT(s_ts) AS n_signup, COUNT(c_ts) AS n_click_after, COUNT(p_ts) AS n_purchase_after FROM u"""),
    "q_funnel_rates" ->
      ("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events), """ +
        """a AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN t END) OVER (PARTITION BY user_id) AS s_ts FROM e), """ +
        """b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t > s_ts THEN t END) OVER (PARTITION BY user_id) AS c_ts FROM a), """ +
        """c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t > c_ts THEN t END) OVER (PARTITION BY user_id) AS p_ts FROM b), """ +
        """u AS (SELECT user_id, MAX(s_ts) AS s_ts, MAX(c_ts) AS c_ts, MAX(p_ts) AS p_ts FROM c GROUP BY user_id), """ +
        """agg AS (SELECT COUNT(*) AS n_total, COUNT(s_ts) AS n_signup, COUNT(c_ts) AS n_click, COUNT(p_ts) AS n_purchase FROM u), """ +
        """st AS (SELECT 0 AS stage_id, 'total' AS stage, n_total AS n_users FROM agg """ +
        """UNION ALL SELECT 1, 'signup', n_signup FROM agg """ +
        """UNION ALL SELECT 2, 'click_after', n_click FROM agg """ +
        """UNION ALL SELECT 3, 'purchase_after', n_purchase FROM agg), """ +
        """r AS (SELECT *, LAG(n_users) OVER (ORDER BY stage_id) AS prev FROM st) """ +
        """SELECT stage_id, stage, n_users, CASE WHEN prev IS NULL OR prev = 0 THEN NULL ELSE CAST(ROUND(n_users * 10000.0 / prev) AS BIGINT) END AS conv_bp FROM r ORDER BY stage_id"""),
    "q_retention_rates" ->
      ("""WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), """ +
        """f AS (SELECT user_id, ms, MIN(ms) OVER (PARTITION BY user_id) AS first_ms FROM e), """ +
        """cells AS (SELECT first_ms // 604800000 AS cohort_week, ms // 604800000 - first_ms // 604800000 AS week_offset, """ +
        """CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM f GROUP BY 1, 2), """ +
        """b AS (SELECT *, MAX(CASE WHEN week_offset = 0 THEN n_users END) OVER (PARTITION BY cohort_week) AS n_base FROM cells) """ +
        """SELECT cohort_week, week_offset, n_users, CAST(ROUND(n_users * 10000.0 / n_base) AS BIGINT) AS retention_bp """ +
        """FROM b ORDER BY cohort_week, week_offset"""),
    "q_cohort_retention" ->
      ("""WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), """ +
        """f AS (SELECT user_id, ms, MIN(ms) OVER (PARTITION BY user_id) AS first_ms FROM e) """ +
        """SELECT first_ms // 604800000 AS cohort_week, ms // 604800000 - first_ms // 604800000 AS week_offset, """ +
        """CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM f GROUP BY 1, 2 ORDER BY 1, 2"""),
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events), f AS (SELECT user_id, event_id, ms, CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000 THEN 1 ELSE 0 END AS new_s FROM e), g AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f) SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_interval_union" ->
      ("""WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS st, CAST(epoch_ms(ts) AS BIGINT) + 1800000 AS en FROM events), """ +
        """c AS (SELECT user_id, event_id, st, en, MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM e), """ +
        """r AS (SELECT user_id, st, en, SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM c), """ +
        """m AS (SELECT user_id, grp, MIN(st) AS s, MAX(en) AS e FROM r GROUP BY 1, 2) """ +
        """SELECT user_id, COUNT(*) AS n_intervals, CAST(SUM(e - s) AS BIGINT) AS covered_ms FROM m GROUP BY 1 ORDER BY 1"""),
    "q_scd2_compact" ->
      ("""WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type FROM events), """ +
        """c AS (SELECT user_id, event_id, ts_ms, event_type, CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e), """ +
        """r AS (SELECT user_id, ts_ms, event_type, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM c), """ +
        """g AS (SELECT user_id, CAST(run_id AS BIGINT) AS run_id, MIN(event_type) AS state, MIN(ts_ms) AS valid_from_ms, COUNT(*) AS n_events FROM r GROUP BY 1, 2) """ +
        """SELECT user_id, run_id, state, valid_from_ms, """ +
        """LEAD(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_ms, n_events """ +
        """FROM g ORDER BY user_id, run_id"""),
    // merge ≡ full recompute is the contract: same SQL as q_scd2_compact
    "q_scd2_merge" ->
      ("""WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type FROM events), """ +
        """c AS (SELECT user_id, event_id, ts_ms, event_type, CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e), """ +
        """r AS (SELECT user_id, ts_ms, event_type, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM c), """ +
        """g AS (SELECT user_id, CAST(run_id AS BIGINT) AS run_id, MIN(event_type) AS state, MIN(ts_ms) AS valid_from_ms, COUNT(*) AS n_events FROM r GROUP BY 1, 2) """ +
        """SELECT user_id, run_id, state, valid_from_ms, """ +
        """LEAD(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_ms, n_events """ +
        """FROM g ORDER BY user_id, run_id"""),
    "q_tumbling_window" ->
      """SELECT CAST(FLOOR(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS window_start_ms, event_type, COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_embedding_topk" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q_ann_filtered" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> 0 AND e.label BETWEEN 2 AND 5 ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    // the partial-probe search cannot run in SQL; the CONTRACT can —
    // exact top-k row count (10 probes × k=10 on a corpus with > 11
    // vectors) and the batch-mean recall verdict constant
    "q_ann_recall" ->
      ("""SELECT CAST(10 AS INT) AS n_probes, CAST(100 AS BIGINT) AS n_exact, """ +
        """CAST(1 AS INT) AS mean_recall_ok"""),
    // identical contract to q_ann_filtered — the Spark side differs only
    // in serving through the inverted file at full probe (exact)
    "q_ann_filtered_ivf" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> 0 AND e.label BETWEEN 2 AND 5 ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q_ivf_topk" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0) SELECT e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q_ann_batch" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT p.probe_id, e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
         r AS (SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
         SELECT probe_id, vec_id, cos_sim FROM r WHERE rn <= 5 ORDER BY probe_id, cos_sim DESC, vec_id""",
    // identical contract to q_ann_batch — the Spark side differs only in
    // searching a refined (hot-cells-split) index with every cell probed
    "q_ann_refine" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT p.probe_id, e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
         r AS (SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
         SELECT probe_id, vec_id, cos_sim FROM r WHERE rn <= 5 ORDER BY probe_id, cos_sim DESC, vec_id""",
    // identical contract to q_ann_batch — the Spark side differs only in
    // serving from the saved cell-partitioned parquet instead of memory
    "q_ann_persist" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT p.probe_id, e.vec_id, ROUND(list_sum(list_transform(list_zip(e.embedding, p.pe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
         r AS (SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
         SELECT probe_id, vec_id, cos_sim FROM r WHERE rn <= 5 ORDER BY probe_id, cos_sim DESC, vec_id""",
    "q_multimodal_ann" ->
      ("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 1024), """ +
        // the decoded 16-dim embedding, closed-form: grid cell g lies in
        // quadrant (g//8)*2 + (g%4)//2 whose exact gray value is
        // (doc_id*37 + q*59) % 251; feature = v/127.5 - 1 cast to float
        """f AS (SELECT doc_id, list_transform(range(0, 16), g -> CAST(CAST((doc_id * 37 + ((g // 8) * 2 + (g % 4) // 2) * 59) % 251 AS DOUBLE) / 127.5 - 1 AS REAL)) AS emb FROM ids) """ +
        """SELECT f.doc_id AS vec_id, ROUND(list_sum(list_transform(list_zip(f.emb, p.emb), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim """ +
        """FROM f, (SELECT emb FROM f WHERE doc_id = 0) p WHERE f.doc_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10"""),
    "q_embed_neardup" ->
      """WITH pairs AS (SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b, ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS cos_sim FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_sim DESC, id_a, id_b) AS rn FROM pairs) SELECT label, id_a, id_b, cos_sim FROM r WHERE rn <= 3 ORDER BY label, id_a, id_b""",
    "q_heavy_hitters" ->
      """SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang ORDER BY cnt DESC, lang LIMIT 3""",
    "q_minhash_lsh" ->
      ("""WITH tok AS (SELECT doc_id, """ + tokSql + """ AS t FROM documents), """ +
        """sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3), """ +
        """sig AS (SELECT doc_id, MIN(substr(md5(s), 1, 8)) AS mh0, MIN(substr(md5(s), 9, 8)) AS mh1, MIN(substr(md5(s), 17, 8)) AS mh2, MIN(substr(md5(s), 25, 8)) AS mh3 FROM sh GROUP BY doc_id), """ +
        """band AS (SELECT doc_id, unnest([md5('b0|' || mh0 || mh1), md5('b1|' || mh2 || mh3)]) AS b FROM sig) """ +
        """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM band a JOIN band b ON a.b = b.b AND a.doc_id < b.doc_id ORDER BY 1, 2"""),
    // the full-corpus band pairs restricted to arrival-touching pairs:
    // incremental ≡ restricted full recompute is the contract
    "q_dedup_incremental" ->
      ("""WITH tok AS (SELECT doc_id, """ + tokSql + """ AS t FROM documents), """ +
        """sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3), """ +
        """sig AS (SELECT doc_id, MIN(substr(md5(s), 1, 8)) AS mh0, MIN(substr(md5(s), 9, 8)) AS mh1, MIN(substr(md5(s), 17, 8)) AS mh2, MIN(substr(md5(s), 25, 8)) AS mh3 FROM sh GROUP BY doc_id), """ +
        """band AS (SELECT doc_id, unnest([md5('b0|' || mh0 || mh1), md5('b1|' || mh2 || mh3)]) AS b FROM sig) """ +
        """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM band a JOIN band b ON a.b = b.b AND a.doc_id < b.doc_id """ +
        """WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1 ORDER BY 1, 2"""),
    // the capped probe: per-band occupancy over arrival-touched bands,
    // exact pairs below the cap, arrival-star + bridge above it
    "q_dedup_incremental_bounded" ->
      ("""WITH tok AS (SELECT doc_id, """ + tokSql + """ AS t FROM documents), """ +
        """sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3), """ +
        """sig AS (SELECT doc_id, MIN(substr(md5(s), 1, 8)) AS mh0, MIN(substr(md5(s), 9, 8)) AS mh1, MIN(substr(md5(s), 17, 8)) AS mh2, MIN(substr(md5(s), 25, 8)) AS mh3 FROM sh GROUP BY doc_id), """ +
        """allb AS (SELECT doc_id, unnest([md5('b0|' || mh0 || mh1), md5('b1|' || mh2 || mh3)]) AS b, doc_id % 2 = 1 AS is_new FROM sig), """ +
        """occ AS (SELECT b, COUNT(*) AS occupancy, MIN(doc_id) AS rep_all, MIN(CASE WHEN NOT is_new THEN doc_id END) AS rep_stored FROM allb WHERE b IN (SELECT b FROM allb WHERE is_new) GROUP BY b), """ +
        """hot AS (SELECT * FROM occ WHERE occupancy > 2), """ +
        """exact AS (SELECT LEAST(a.doc_id, n.doc_id) AS doc_a, GREATEST(a.doc_id, n.doc_id) AS doc_b FROM allb a JOIN allb n ON a.b = n.b AND n.is_new AND a.doc_id <> n.doc_id WHERE a.b NOT IN (SELECT b FROM hot)), """ +
        """star AS (SELECT LEAST(m.doc_id, h.rep_all) AS doc_a, GREATEST(m.doc_id, h.rep_all) AS doc_b FROM allb m JOIN hot h ON m.b = h.b WHERE m.is_new AND m.doc_id <> h.rep_all), """ +
        """bridge AS (SELECT LEAST(rep_all, rep_stored) AS doc_a, GREATEST(rep_all, rep_stored) AS doc_b FROM hot WHERE rep_stored IS NOT NULL AND rep_stored <> rep_all) """ +
        """SELECT DISTINCT doc_a, doc_b FROM (SELECT * FROM exact UNION ALL SELECT * FROM star UNION ALL SELECT * FROM bridge) ORDER BY 1, 2"""),
    // the cap's overflow accounting: per saturated band, the occupancy,
    // arrival count, star+bridge emissions, and suppressed pair count
    "q_dedup_overflow_report" ->
      ("""WITH tok AS (SELECT doc_id, """ + tokSql + """ AS t FROM documents), """ +
        """sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3), """ +
        """sig AS (SELECT doc_id, MIN(substr(md5(s), 1, 8)) AS mh0, MIN(substr(md5(s), 9, 8)) AS mh1, MIN(substr(md5(s), 17, 8)) AS mh2, MIN(substr(md5(s), 25, 8)) AS mh3 FROM sh GROUP BY doc_id), """ +
        """allb AS (SELECT doc_id, unnest([md5('b0|' || mh0 || mh1), md5('b1|' || mh2 || mh3)]) AS b, doc_id % 2 = 1 AS is_new FROM sig), """ +
        """occ AS (SELECT b, COUNT(DISTINCT doc_id) AS occupancy, MIN(doc_id) AS rep_all, MIN(CASE WHEN NOT is_new THEN doc_id END) AS rep_stored, COUNT(DISTINCT CASE WHEN is_new THEN doc_id END) AS n_new FROM allb WHERE b IN (SELECT b FROM allb WHERE is_new) GROUP BY b), """ +
        """hot AS (SELECT * FROM occ WHERE occupancy > 2) """ +
        """SELECT b AS band, occupancy, n_new, """ +
        """(n_new - CASE WHEN rep_stored IS NULL OR rep_stored <> rep_all THEN 1 ELSE 0 END) + CASE WHEN rep_stored IS NOT NULL AND rep_stored <> rep_all THEN 1 ELSE 0 END AS emitted, """ +
        """CAST((occupancy * (occupancy - 1) - (occupancy - n_new) * (occupancy - n_new - 1)) / 2 AS BIGINT) - ((n_new - CASE WHEN rep_stored IS NULL OR rep_stored <> rep_all THEN 1 ELSE 0 END) + CASE WHEN rep_stored IS NOT NULL AND rep_stored <> rep_all THEN 1 ELSE 0 END) AS suppressed """ +
        """FROM hot ORDER BY band"""),
    "q_simhash" -> simhashSql,
    "q_ngram_jaccard" ->
      ("""WITH tok AS (SELECT doc_id, """ + tokSql + """ AS t FROM documents), """ +
        """sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tok WHERE len(t) >= 3) """ +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.s, b.s)) AS INTEGER) AS n_inter, CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS INTEGER) AS n_union FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY 1"""),
    "q_lang_id" ->
      ("""WITH t AS (SELECT doc_id, """ + tokSql + """ AS tk FROM documents) """ +
        """SELECT doc_id, CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS INTEGER) AS n_stop, CAST(len(tk) AS INTEGER) AS n_tok, CASE WHEN 10 * len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) >= len(tk) THEN 'en' ELSE 'other' END AS pred_lang FROM t ORDER BY doc_id"""),
    "q_quality_score" ->
      ("""WITH t AS (SELECT doc_id, CAST(len(""" + tokSql + """) AS INTEGER) AS n_tok, CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digit, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct FROM documents) """ +
        """SELECT doc_id, n_tok, n_digit, n_punct, CAST(LEAST(n_tok, 200) * 5 - n_digit * 4 + n_punct * 2 AS INTEGER) AS quality FROM t ORDER BY doc_id"""),
    "q_token_count" ->
      ("""SELECT doc_id, CAST(len(""" + tokSql + """) AS INTEGER) AS ws_tokens, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_ish_tokens FROM documents ORDER BY doc_id"""),
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(CAST(length(text) AS VARCHAR) || '|' || list_aggregate(list_transform(range(1, CAST(greatest((length(text) + 63) // 64, 1) AS INTEGER) + 1), i -> md5(substr(text, (i-1)*64 + 1, 64))), 'string_agg', '')) AS fp FROM documents ORDER BY doc_id""",
    "q_text_analysis" ->
      ("""SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_chars_m, CAST(len(""" + tokSql + """) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha_runs, CAST(LENGTH(REPLACE(text, ' ', '')) AS INTEGER) AS n_nonspace FROM documents ORDER BY doc_id""")
  )
}
