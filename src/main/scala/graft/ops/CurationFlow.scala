package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation pipeline's stage operators and its CONTINUOUS-INGEST
  * form — the incremental twin of the batch `q_curation_pipeline` key,
  * completing the same batch↔incremental symmetry the dedup family has
  * ([[Dedup.bandIndexIngest]] vs `q_dup_clusters`).
  *
  * Batch (`q_curation_pipeline`, built from the stage builders here):
  * shape gate → repetition gate → exact dedup → LSH near-dup dedup with
  * the keep-longest keeper → benchmark decontamination → sequence
  * packing, each stage on the previous stage's survivors.
  *
  * Incremental ([[ingest]]): the same stages per arriving batch under
  * FIRST-WINS crawl semantics against persisted state — a digest index
  * and an LSH band index (both the bucketed, crash-safe
  * [[Dedup.BandIndex]] machinery), plus a carried
  * token cursor so packed sequence ids continue across batches. The
  * 100 TB shape is the band-index contract: the arriving batch
  * broadcasts, history is a bucket-PRUNED scan-local read, and per-batch
  * cost is independent of corpus size.
  */
object CurationFlow {

  /** The q_gopher_rules stopword set (shared with CurationQueries). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Documents passing the q_gopher_rules conjunction — the SHAPE gate.
    * Returns (doc_id, text, n_chars, tk, n_tok); tokens stay hoisted in
    * their own projection (HOF-CSE boundary — the q_boilerplate lesson).
    */
  def shapeGate(docs: DataFrame): DataFrame = {
    val tk = col("tk")
    docs
      .select(col("doc_id"), col("text"), col("n_chars"),
        split(trim(col("text")), "\\s+").as("tk"))
      .select(col("doc_id"), col("text"), col("n_chars"), tk,
        size(tk).cast("long").as("n_tok"),
        aggregate(transform(tk, t => length(t).cast("long")), lit(0L),
          (acc, x) => acc + x).as("sum_len"),
        size(filter(tk, t => t.rlike("^[0-9]+$"))).cast("long").as("n_digit"),
        size(array_distinct(tk)).cast("long").as("n_uniq"),
        size(filter(array_distinct(tk),
          t => t.isInCollection(Stopwords))).cast("long").as("n_stop"))
      .filter(col("n_tok").between(20L, 100000L) &&
        col("sum_len").between(col("n_tok") * 3, col("n_tok") * 10) &&
        col("n_stop") >= 2 && col("n_digit") * 10 <= col("n_tok") &&
        col("n_uniq") * 10 >= col("n_tok") * 3)
      .select(col("doc_id"), col("text"), col("n_chars"), tk, col("n_tok"))
  }

  /** Shape survivors passing the REPETITION gate (q_repetition_filter's
    * verdict, negated: the most frequent word bigram must cover < 20% of
    * bigrams). Input docs must have ≥ 2 tokens — the shape gate's
    * n_tok ≥ 20 guarantees it. Preserves the input columns.
    *
    * Zero-shuffle: the most-frequent-bigram count is a per-row sorted
    * run-length maximum (sort the doc's own bigram array, fold runs) —
    * the explode + two-groupBy form this replaced shuffled the whole
    * corpus's bigrams twice per batch for a verdict each row can compute
    * alone. Verdict-identical (same max count), and the `__bg` array is
    * hoisted to its own multi-referenced projection so the shingle
    * build runs once per row (HOF-CSE lesson).
    */
  def repetitionGate(gated: DataFrame): DataFrame =
    repetitionVerdict(gated).filter(col("rep_ok")).drop("rep_ok")

  /** [[repetitionGate]] as a row-level VERDICT column (`rep_ok`) instead
    * of a filter — [[decide]] checkpoints the shape survivors WITH this
    * flag in one job, where the filter form cost a second checkpoint
    * (r15 diet: the r14 verdict's "fold the shaped/gated checkpoints
    * into one flags frame").
    */
  def repetitionVerdict(gated: DataFrame): DataFrame = {
    val s = gated.sparkSession
    val withBg = gated.withColumn("__bg",
      array_sort(graft.functions.WordShinglesF.shingles(s, col("tk"), 2)))
    val folded = aggregate(col("__bg"),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    withBg
      .withColumn("rep_ok", folded.getField("best") * 5 < size(col("__bg")))
      .drop("__bg")
  }

  /** The distinct 3-token shingles of the pseudo-benchmark documents
    * (doc_id % 100 == 0 — the eval set is external, so it comes from the
    * FULL corpus regardless of what upstream gates did to its members).
    * One column: shingle. Eval-set-sized — broadcast it at the join.
    */
  def benchShingles(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.filter(col("doc_id") % 100 === 0)
      .select(explode(array_distinct(graft.functions.WordShinglesF
        .shingles(s, split(trim(col("text")), "\\s+"), 3))).as("shingle"))
      .distinct()
  }

  /** doc_ids of `docs` sharing any 3-shingle with `bench` (broadcast). */
  def contaminationHits(docs: DataFrame, bench: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.WordShinglesF
          .shingles(s, split(trim(col("text")), "\\s+"), 3))).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .select("doc_id").distinct()
  }

  /** One ingested batch: every input doc decided exactly once
    * ((doc_id, status, matched_id, n_tok, seq_id, seq_offset) — status
    * `kept` or the drop reason; matched_id the keeper that beat it on a
    * dedup stage (null on gate verdicts and kept rows — r16, the
    * duplicate map q_dup_map's closure serves); n_tok/seq_* non-null
    * only on kept rows), plus the token cursor AFTER the batch (feed it
    * to the next [[ingest]]).
    */
  final case class Result(decisions: DataFrame, cursor: Long)

  /** [[decide]]'s return: the decisions and end cursor of [[Result]],
    * plus the kept frame a separate [[commit]] appends to the indexes —
    * the split exists so a streaming caller can persist the decisions
    * and its cursor ledger BEFORE the index mutation (no crash window
    * loses kept rows; see [[graft.streaming.StreamOps
    * .curationIngestStream]]) — and, under a finite `maxBucket`, the
    * hot-band overflow report (empty on the exact route).
    */
  final case class Staged(decisions: DataFrame, kept: DataFrame,
                          cursor: Long, overflow: DataFrame,
                          keptBands: DataFrame)

  /** Ingest one batch of documents into the continuous corpus build.
    *
    * First-wins crawl semantics, stage by stage (the stage ORDER is the
    * contract, mirroring the batch pipeline's cascade):
    *   1. `shape` — fails the q_gopher_rules conjunction;
    *   2. `repetition` — top bigram ≥ 20% of bigrams;
    *   3. `exact_history` — content digest already in the persisted
    *      digest index (an earlier batch kept this exact text);
    *   4. `exact_batch` — a smaller doc_id in THIS batch has the same
    *      digest;
    *   5. `neardup_history` — shares an LSH band with a STORED keeper
    *      (band candidacy is the dedup-family dup contract, exactly
    *      q_dup_clusters');
    *   6. `neardup_batch` — loses the keep-longest keeper election in
    *      its batch-internal band-candidate component (components are
    *      built over docs that SURVIVED stages 3-5: every drop has a
    *      direct justification — a doc whose only band-neighbor dropped
    *      via history stays);
    *   7. `benchmark` / `contaminated` — the decontamination gate;
    *   8. survivors are `kept`: packed into `budget`-token sequences
    *      continuing at `cursor`, their digests and bands appended to
    *      the indexes (the indexes hold the KEPT corpus only — a
    *      contaminated doc's later exact copy re-runs the gates rather
    *      than hiding behind a dup verdict).
    *
    * Scale shape: gates are stateless row maps; both history probes are
    * batch-broadcast joins against bucket-pruned index reads
    * ([[BucketedStore.pruned]] / [[Dedup.bandIndexProbe]]); the
    * batch-internal CC is batch-bounded; packing is the two-phase
    * prefix sum. History never shuffles. Decision inputs that read the
    * indexes are CHECKPOINTED before the kept rows are appended —
    * otherwise the lazy stored reads would see the batch's own rows and
    * flip `exact_batch` verdicts to `exact_history`.
    *
    * Single-writer contract: like [[Dedup.bandIndexIngest]], one ingest
    * at a time per index dir (a streaming foreachBatch loop provides
    * this by construction).
    */
  def ingest(dir: String, batch: DataFrame, bench: DataFrame,
             cursor: Long, budget: Long = 256L,
             buckets: Int = 16, maxBucket: Int = Int.MaxValue): Result = {
    val staged = decide(dir, batch, bench, cursor, budget, buckets,
      maxBucket)
    commit(dir, staged.kept, buckets, Some(staged.keptBands))
    Result(staged.decisions, staged.cursor)
  }

  /** [[ingest]] WITHOUT the index mutation: compute the batch's
    * decisions, kept frame, and end cursor against the indexes as they
    * stand. All decision inputs that read the indexes are checkpointed,
    * so the returned frames stay valid (and identical) after a later
    * [[commit]]. Pair with [[commit]] — [[ingest]] is exactly
    * decide-then-commit.
    *
    * `maxBucket` is the crawl-hardening dial: a finite cap routes the
    * near-dup probe through [[Dedup.bandIndexProbe]]'s hot-band
    * STAR (per hot band, arrivals pair with the representative instead
    * of all members — candidate output linear in the band, the 1.26 GB
    * peak-task class bounded away; saturated bands land in
    * [[Staged.overflow]], never silently). The semantics trade, stated
    * plainly: batch-internal CONNECTIVITY survives (the star bridges the
    * component, so grouping and the keeper election still see one
    * group), but a hot band whose representative is itself an arrival
    * history-drops ONLY that representative — its star satellites lose
    * their one edge to a dropped doc and stay kept, where the exact
    * probe would have dropped them all as `neardup_history`. The cap
    * costs dedup recall inside saturated bands only, and the overflow
    * frame reports exactly which bands those were.
    */
  def decide(dir: String, batch: DataFrame, bench: DataFrame,
             cursor: Long, budget: Long = 256L,
             buckets: Int = 16, maxBucket: Int = Int.MaxValue): Staged = {
    require(cursor >= 0, s"cursor must be >= 0, got $cursor")
    val g = gateAndDedup(dir, batch, bench, buckets, maxBucket)
    // stage 8: pack at the carried cursor (cb DIV keeps long math exact —
    // a double floor would lose integers past 2^53 on a long-lived feed).
    // The cursor advance is the pack's own phase-2 total — no separate
    // aggregate job (r17 diet).
    val (packedRaw, tokTotal) = Phase.labeled("decide:pack") {
      Packing.packSequencesWithTotal(g.kept, "doc_id", col("n_tok"), budget)
    }
    val packed = packedRaw
      .withColumn("cb",
        lit(cursor) + col("seq_id") * lit(budget) + col("seq_offset"))
      .select(col("doc_id"), lit("kept").as("status"), col("n_tok"),
        expr(s"cb DIV $budget").as("seq_id"),
        pmod(col("cb"), lit(budget)).as("seq_offset"))
    val newCursor = cursor + tokTotal
    val decisions = g.drops
      .select(col("doc_id"), col("status"), col("matched_id"),
        lit(null).cast("long").as("n_tok"),
        lit(null).cast("long").as("seq_id"),
        lit(null).cast("long").as("seq_offset"))
      .unionByName(packed
        .withColumn("matched_id", lit(null).cast("long")))
    Staged(decisions, g.kept, newCursor, g.overflow, g.keptBands)
  }

  /** [[decide]] WITHOUT the packing tail — stages 1-7 (gates, exact and
    * near dedup vs history and batch, decontamination) as reusable
    * building blocks: the per-doc DROP reasons, the kept frame, the
    * overflow report, and the kept slice of the pinned band table. The
    * unified text+vector build ([[UnifiedFlow]]) interposes its
    * semantic-dedup stage between this and the pack; [[decide]] is
    * exactly gateAndDedup → pack.
    */
  private[ops] final case class Gated(drops: DataFrame, kept: DataFrame,
                                      overflow: DataFrame,
                                      keptBands: DataFrame)

  private[ops] def gateAndDedup(dir: String, batch: DataFrame,
                                bench: DataFrame, buckets: Int = 16,
                                maxBucket: Int = Int.MaxValue): Gated = {
    val digestDir = dir + "/digest"
    val bandsDir = dir + "/bands"
    val all = batch.select(col("doc_id"), col("text"), col("n_chars"))

    // stages 1-4 — the stateless gates AND exact dedup (vs history AND
    // within batch) — in ONE pinned frame (r21 diet, VERDICT r20 "Next
    // round" #1: the r17 shape still paid TWO serial checkpoints here,
    // serializing the batch's text twice). The history probe keys on
    // PRE-GATE digests — md5 only, so the probe's touched-bucket
    // collect and broadcast never re-run the gate tokenization the old
    // pinned-flags inputs provided; extra hist rows for gate-failed
    // docs are inert (the pin's filters keep the gate order: a
    // rep-failed doc drops as `repetition` whatever hist_matched says,
    // a shape-failed doc is not in the pin at all). The batch election
    // window elects among rep-surviving history-survivors only —
    // verdicts byte-identical to the two-checkpoint chain.
    val exact = Phase.labeled("decide:gates-exact-ckpt") {
      val digests = all.select(col("doc_id"), md5(col("text")).as("band"))
      val histM = Dedup.BandIndex.pruned(digestDir, digests, buckets)
        .join(broadcast(digests.withColumnRenamed("doc_id", "bid")),
          Seq("band"))
        .groupBy(col("bid").as("doc_id"))
        .agg(min(col("doc_id")).as("hist_matched"))
      val wdg = org.apache.spark.sql.expressions.Window.partitionBy("dg")
      org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
        repetitionVerdict(shapeGate(all)).drop("tk")
          .withColumn("dg", md5(col("text")))
          .join(broadcast(histM), Seq("doc_id"), "left")
          .withColumn("keep_id",
            min(when(col("rep_ok") && col("hist_matched").isNull,
              col("doc_id"))).over(wdg))
          .drop("dg")
          .localCheckpoint())
    }
    val exHist = exact.filter(col("rep_ok") &&
        col("hist_matched").isNotNull)
      .select(col("doc_id"), col("hist_matched").as("matched_id"))
    val exBatchDrop = exact.filter(col("rep_ok") &&
        col("hist_matched").isNull && col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("matched_id"))
    val afterEx = exact.filter(col("rep_ok") &&
        col("hist_matched").isNull && col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("text"), col("n_chars"), col("n_tok"))

    // the contamination scan forks HERE (guide §2.6, VERDICT r20 #1:
    // overlap independent actions inside decide waves): its only
    // inputs are the pinned exact survivors and the caller's bench
    // shingles, so its shingle pass fills the cores the tiny
    // probe/flag/edge shuffles below leave idle instead of running
    // serially inside the tail checkpoint. Read-only, and drained
    // before any failure of the main chain propagates (below), so a
    // failed decide leaves no scan running Spark jobs behind it.
    val hitsF = Phase.fork("decide:hits-ckpt") {
      org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
        contaminationHits(afterEx, bench)
          .withColumn("contam", lit(true)).localCheckpoint())
    }

    val (overflow, batchBands, histDrop, withKeep) = try {
      // stage 5: near-dup band candidates vs stored ∪ batch (the
      // incremental-dedup probe; bounded star route under a finite cap,
      // whose overflow the probe pins BEFORE the append).
      val (cands, batchBands) = Phase.labeled("decide:probe") {
        Dedup.bandIndexProbe(bandsDir, afterEx, "doc_id", "text",
          buckets = buckets, maxBucket = maxBucket)
      }
      // the pair table pins WITH its in-batch flags (r17: when only the
      // raw pairs were pinned, histDrop and edges each re-built the two
      // batchIds broadcasts per evaluation — four extra jobs a wave)
      val batchIds = afterEx.select(col("doc_id"))
      val flagged = Phase.labeled("decide:flagged-ckpt") {
        org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
          cands.pairs
            .join(broadcast(batchIds.select(col("doc_id").as("a_id"),
              lit(true).as("a_in"))), col("doc_a") === col("a_id"), "left")
            .join(broadcast(batchIds.select(col("doc_id").as("b_id"),
              lit(true).as("b_in"))), col("doc_b") === col("b_id"), "left")
            .select(col("doc_a"), col("doc_b"), col("a_in"), col("b_in"))
            .localCheckpoint())
      }
      // pinned like exBatchDrop: the min-keeper aggregate now feeds the
      // survivor anti-join AND the decisions union
      val histDrop = Phase.labeled("decide:histdrop-ckpt") {
        org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
          flagged.filter(col("a_in").isNull || col("b_in").isNull)
            .select(when(col("a_in").isNotNull, col("doc_a"))
                .otherwise(col("doc_b")).as("doc_id"),
              when(col("a_in").isNotNull, col("doc_b"))
                .otherwise(col("doc_a")).as("stored_id"))
            .groupBy("doc_id").agg(min(col("stored_id")).as("matched_id"))
            .localCheckpoint())
      }
      val afterNdHist = afterEx.join(histDrop.select("doc_id"),
        Seq("doc_id"), "left_anti")

      // stage 6: batch-internal components among the REMAINING docs,
      // keep-longest keeper (ties → min doc_id), mirroring
      // Dedup.dupClustersKeepLongest
      val rem = afterNdHist.select(col("doc_id"))
      // edges are CHECKPOINTED (r15 diet): the r14 shape evaluated this
      // broadcast-join plan TWICE — once for the clean-batch emptiness
      // probe, once inside the CC collect — at ~27 jobs per evaluation
      // (each broadcast build is its own job). One pinned evaluation;
      // the probe and the CC read materialized blocks.
      val edges = Phase.labeled("decide:edges-ckpt") {
        org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
          flagged
            .filter(col("a_in").isNotNull && col("b_in").isNotNull)
            .select(col("doc_a"), col("doc_b"))
            .join(broadcast(rem.select(col("doc_id").as("doc_a"))),
              Seq("doc_a"), "left_semi")
            .join(broadcast(rem.select(col("doc_id").as("doc_b"))),
              Seq("doc_b"), "left_semi")
            .localCheckpoint())
      }
      // a clean batch (no internal band pairs — the common case on a
      // healthy corpus) skips the CC machinery entirely
      val memb = Phase.labeled("decide:edges-empty-probe") {
        if (edges.isEmpty) afterNdHist.withColumn("grp", col("doc_id"))
        else {
          val labels = Graph.batchComponents(
            edges.select(col("doc_a").as("src"), col("doc_b").as("dst")))
          afterNdHist
            .join(labels.withColumnRenamed("node_id", "doc_id"),
              Seq("doc_id"), "left")
            .withColumn("grp", coalesce(col("component"), col("doc_id")))
        }
      }
      // stages 6-7 land in ONE checkpointed TAIL frame (r15 diet): the
      // keeper election via a grp-window (single lineage — the old
      // groupBy + self-join duplicated the whole anti-join chain inside
      // one plan, and the decisions and commit evaluations then re-ran it
      // once more EACH) plus the contamination verdict as a column. Every
      // downstream frame — ndBatchDrop, benchDrop, contamDrop, kept, the
      // pack, the cursor — is a FILTER of this one pinned evaluation. The
      // window partitions by grp (batch-bounded; no corpus sort), and the
      // max_by ties break identically to the old aggregate form.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      val withKeep = memb.withColumn("keep_id",
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).over(w))
      (cands.overflow, batchBands, histDrop, withKeep)
    } catch { case t: Throwable =>
      // the fork's drain: its jobs finish before decide's failure does
      scala.concurrent.Await.ready(hitsF,
        scala.concurrent.duration.Duration.Inf)
      throw t
    }
    // contamination hits probe the PINNED exact-survivors, not the
    // elected keepers (r17 diet): the keeper restriction made the hits
    // broadcast re-evaluate the CC join + keeper window as its own job
    // chain inside the tail checkpoint; on afterEx the probe reads one
    // pinned filter. The extra (non-keeper) hit rows are inert — the
    // tail only consults `contam` on keeper rows — so decisions are
    // identical; the trade is shingling the near-dup losers too, a few
    // percent of a healthy batch. Since r21 the scan ran CONCURRENTLY
    // with the probe chain (the hitsF fork above) — join its pin here.
    val hits = scala.concurrent.Await.result(hitsF,
      scala.concurrent.duration.Duration.Inf)
    val tail = Phase.labeled("decide:tail-ckpt") {
      org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
        withKeep
          .join(broadcast(hits), Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"), col("n_chars"), col("n_tok"),
            col("keep_id"), coalesce(col("contam"), lit(false)).as("contam"))
          .localCheckpoint())
    }
    val ndBatchDrop = tail.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("matched_id"))
    val keepersT = tail.filter(col("doc_id") === col("keep_id"))
    val benchDrop = keepersT.filter(col("doc_id") % 100 === 0)
      .select("doc_id")
    val nonBench = keepersT.filter(col("doc_id") % 100 =!= 0)
    val contamDrop = nonBench.filter(col("contam")).select("doc_id")
    val kept = nonBench.filter(!col("contam"))
      .select(col("doc_id"), col("text"), col("n_chars"), col("n_tok"))

    // drop rows carry the duplicate map (r16): matched_id = the keeper
    // that beat the doc on the dedup stages, null on gate verdicts
    val nullM = lit(null).cast("long").as("matched_id")
    def reason(ids: DataFrame, r: String): DataFrame =
      ids.select(col("doc_id"), lit(r).as("status"), nullM)
    def reasonM(ids: DataFrame, r: String): DataFrame =
      ids.select(col("doc_id"), lit(r).as("status"),
        col("matched_id").cast("long").as("matched_id"))
    val drops = reason(all.join(exact, Seq("doc_id"), "left_anti"),
        "shape")
      .unionByName(reason(exact.filter(!col("rep_ok")), "repetition"))
      .unionByName(reasonM(exHist, "exact_history"))
      .unionByName(reasonM(exBatchDrop, "exact_batch"))
      .unionByName(reasonM(histDrop, "neardup_history"))
      .unionByName(reasonM(ndBatchDrop, "neardup_batch"))
      .unionByName(reason(benchDrop, "benchmark"))
      .unionByName(reason(contamDrop, "contaminated"))
    // the kept slice of the probe's PINNED band table — commit appends
    // it precomputed instead of re-running the minhash derivation on the
    // kept docs (the heaviest per-doc CPU, previously paid twice; r15)
    val keptBands = batchBands
      .join(broadcast(kept.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
    Gated(drops, kept, overflow, keptBands)
  }

  /** Append a [[decide]]d batch's kept corpus to both indexes. The
    * decision frames are checkpoint-pinned, so committing after reading
    * them cannot flip the already-computed verdicts (the in-batch
    * ordering [[ingest]] relies on).
    */
  def commit(dir: String, kept: DataFrame, buckets: Int = 16,
             keptBands: Option[DataFrame] = None): Unit = {
    // the two appends touch DISJOINT dirs (digest/ vs bands/), each with
    // its own staged-swap crash contract, and replay never depends on
    // their relative order — run them CONCURRENTLY (r17 diet: the
    // sequential pair was a fixed ~1 s of every batch wall). Failures
    // surface only after BOTH sides finished, so a caller's retry never
    // races an orphaned writer (the r16 ADVICE rule).
    Phase.all(
      ("commit:digest", () => Dedup.BandIndex.append(dir + "/digest",
        kept.select(col("doc_id"), md5(col("text")).as("band")), buckets)),
      // a decide-supplied pinned band table skips the second minhash
      // derivation; the no-bands form (the streaming REPLAY path, which
      // reconstructs kept from the recorded decisions) re-derives
      ("commit:bands", () => Dedup.BandIndex.append(dir + "/bands",
        keptBands.getOrElse(Dedup.ingestBands(kept, "doc_id", "text")),
        buckets)))
  }

  /** The TEXT KEEPER-META store (r17, the late-text correction's stored
    * side): one row per text-kept document under a unified corpus —
    * (doc_id, n_chars, prio, dg, bands) — bucketed by id hash under
    * `mbkt=` directories ([[BucketedStore]], like the vector store), so
    * the late pass fetches a candidate set's election metadata (keep
    * order + length) and eviction handles (the digest and band strings a
    * removal needs) through a planning-time pruned read, never an index
    * scan. Maintained by [[graft.ops.UnifiedFlow.commit]]; rows leave
    * when a retroactive correction evicts their doc. A corpus written
    * before r17 has no meta store and fetches nothing; the late-text
    * pass requires it and refuses upstream.
    */
  val KeeperMeta: BucketedStore = {
    import org.apache.spark.sql.types._
    BucketedStore(new StructType().add("doc_id", LongType)
        .add("n_chars", LongType).add("prio", LongType).add("dg", StringType)
        .add("bands", ArrayType(StringType)).add("mbkt", IntegerType),
      key = "doc_id", bkt = "mbkt",
      legacyHint = "text-meta store without a layout sidecar — rewrite " +
        "the corpus dir with UnifiedFlow.commit")
  }

  /** The streaming cursor LEDGER: one record (batchId, startCursor,
    * endCursor) under `dir/_cursor`, replaced through
    * [[StagedSwap.writeRecord]] and healed by [[StagedSwap.readRecord]]. A
    * replayed foreachBatch id reuses its recorded START cursor (never
    * double-advancing); a fresh batch starts at the recorded END.
    */
  def readLedger(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Option[(Long, Long, Long)] = {
    val fin = new org.apache.hadoop.fs.Path(dir, "_cursor")
    StagedSwap.readRecord(
      fin.getFileSystem(spark.sparkContext.hadoopConfiguration), fin) {
      _.trim.split(",") match {
        case Array(b, s, e) =>
          scala.util.Try((b.toLong, s.toLong, e.toLong)).toOption
        case _ => None
      }
    }
  }

  /** Write the ledger record. */
  def writeLedger(spark: org.apache.spark.sql.SparkSession, dir: String,
                  batchId: Long, start: Long, end: Long): Unit = {
    val fin = new org.apache.hadoop.fs.Path(dir, "_cursor")
    StagedSwap.writeRecord(
      fin.getFileSystem(spark.sparkContext.hadoopConfiguration), fin,
      s"$batchId,$start,$end")
  }
}
