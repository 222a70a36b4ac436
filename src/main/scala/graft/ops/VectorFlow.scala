package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The VECTOR corpus's continuous first-wins build — the embedding
  * analog of [[CurationFlow]], completing the text↔vector symmetry at
  * the corpus level (r14 verdict #1): the embedding index
  * ([[Similarity.embIndexIngest]]) stops at candidate PAIRS; this flow
  * turns arrivals into per-vector DECISIONS against persisted state,
  * indexes only the kept vectors, and carries a restart-safe cursor.
  *
  * Persisted state under `dir` (all three on the bucketed, planning-time
  * pruned, crash-safe machinery):
  *   - `digest/` — a band index of embedding content digests
  *     (exact-duplicate lookups; [[Dedup.BandIndex]]);
  *   - `bands/`  — the hyperplane home-signature band index
  *     (near-duplicate candidates, Hamming≤1 multi-probe contract);
  *   - `vectors/` — the kept vectors themselves, hive-partitioned by
  *     `vbkt = xxhash64(vec_id) mod buckets`, so candidate VERIFICATION
  *     can fetch exactly the stored neighbors a batch collided with —
  *     a static `vbkt IN (...)` partition filter, never a history scan;
  *   - `_cursor` — [[CurationFlow.readLedger]]'s (batchId, start, end)
  *     ledger, carrying the cumulative KEPT COUNT across batches.
  *
  * The semantic upgrade over the text flow: text band-candidacy IS the
  * dup verdict (the q_dup_clusters contract), but a Hamming≤1 signature
  * collision is only a candidate — so every candidate pair here is
  * verified at TRUE cosine ≥ `minCos` before any drop ([[Similarity]]'s
  * SemDeDup discipline). A false-positive collision costs one bounded
  * fetch-and-dot, never a wrongly dropped vector.
  *
  * Stage chain per batch, first-wins crawl semantics (the ORDER is the
  * contract, mirroring [[CurationFlow.decide]]):
  *   1. `invalid` — null embedding, wrong dimension, or zero norm (a
  *      zero vector has no direction: cosine is undefined and every
  *      signature bit degenerates to 0);
  *   2. `exact_history` — embedding digest already in the persisted
  *      digest index (an earlier batch KEPT this exact vector);
  *   3. `exact_batch` — a smaller vec_id in THIS batch has the same
  *      digest;
  *   4. `neardup_history` — cosine ≥ minCos against a STORED keeper
  *      (candidates from the Hamming≤1 probe, embeddings fetched from
  *      the pruned vector store);
  *   5. `neardup_batch` — loses the keeper election in its
  *      batch-internal verified-pair component (components over docs
  *      that SURVIVED 2-4, exactly the text flow's justification rule);
  *   6. survivors are `kept`: digests, home bands, and the vectors
  *      themselves appended (the indexes hold the KEPT corpus only — a
  *      vector whose near-dup was itself dropped re-runs the gates
  *      rather than hiding behind a dup verdict).
  *
  * Every decision row carries `matched_id` — the keeper that beat it
  * (null on `kept`/`invalid`) — so the artifact doubles as the corpus's
  * duplicate map.
  *
  * Scale shape: gates are stateless row maps; the digest probe, band
  * probe, and verification fetch are batch-broadcast joins against
  * bucket-PRUNED index reads; verification work is bounded by the
  * candidate count (and by `maxBucket`'s star route under saturation);
  * the CC + keeper election are batch-bounded. History never shuffles.
  * Single-writer contract per index dir, provided by construction in
  * the streaming loop ([[graft.streaming.StreamOps
  * .vectorCurationIngestStream]]).
  */
object VectorFlow {

  /** One ingested batch: every input vector decided exactly once
    * ((vec_id, status, matched_id)), plus the cumulative kept count
    * AFTER the batch (feed it to the next [[ingest]]).
    */
  final case class Result(decisions: DataFrame, cursor: Long)

  /** [[decide]]'s return — decisions/kept/cursor split so a streaming
    * caller persists decisions + ledger BEFORE the index mutation
    * ([[CurationFlow.Staged]]'s rationale), plus the hot-bucket
    * overflow report (empty on the exact route).
    */
  final case class Staged(decisions: DataFrame, kept: DataFrame,
                          cursor: Long, overflow: DataFrame,
                          keptBands: DataFrame)

  /** Flow parameters. bits/seed/dim/families/buckets are FROZEN index
    * parameters (persisted in the `_graft_vecflow.json` sidecar at
    * first decide, loudly validated on every entry — a mismatched
    * caller would derive different band strings and silently lose
    * every near-dup candidate); dim = −1 delegates to the sidecar, or
    * to first-batch inference before one exists, and the resolved
    * width is then ENFORCED per row (a dim-mismatched vector is
    * `invalid`, not a crash — the fuzz packs' dim-truncation lesson).
    * minCos, maxBucket (Int.MaxValue = exact route), and `keeper` are
    * query-time dials: `keeper` picks the batch-internal election —
    * [[Similarity.KeepMinId]] (first-wins inside the batch too, the
    * default) or [[Similarity.KeepFarFromCentroid]] (SemDeDup's
    * diversity rule against the COMPONENT mean; ties by min id).
    * History keepers always win regardless — the policy never
    * overrides first-wins across batches.
    *
    * `maxBatchBroadcastRows` bounds the BATCH-EMBEDDING broadcasts in
    * the verification stage (r15 verdict #2): the candidate-verify
    * joins ship the batch's (vec_id, embedding) rows to every executor,
    * which is the right plan while a micro-batch is broadcast-sized
    * (the soaked 10-20k × dim-32 shape is ~3 MB) but a 100k × 1024-dim
    * float batch is ~400 MB on the driver — past the comfort zone. A
    * batch whose VALID row count exceeds the dial takes a shuffle-join
    * route with identical decisions (VectorFlowSpec pins it); size the
    * dial so rows × dim × 4 B stays well under
    * `spark.sql.autoBroadcastJoinThreshold`-scale memory per executor.
    */
  final case class Params(minCos: Double = 0.99, bits: Int = 8,
                          seed: Long = 42L, dim: Int = -1,
                          families: Int = 1, buckets: Int = 16,
                          maxBucket: Int = Int.MaxValue,
                          keeper: Similarity.KeepRule = Similarity.KeepMinId,
                          maxBatchBroadcastRows: Long = 500000L)

  /** [[Params]] sized by the measured rule instead of hand-solved
    * (r15): [[Similarity.sizeBands]] picks the frozen (bits, families)
    * pair from a corpus sample and the EXPECTED corpus size, at the
    * duplicate angle the flow's own threshold defines
    * (θ = arccos(minCos) — a pair at exactly the drop threshold is the
    * hardest one the candidate stage must still surface), and the
    * dimension comes from the sample. The first [[decide]] then
    * freezes the result in the sidecar like any hand-picked Params.
    */
  def autoParams(sample: DataFrame, corpusSize: Long,
                 targetRecall: Double = 0.95, minCos: Double = 0.99,
                 buckets: Int = 16, maxBucket: Int = Int.MaxValue,
                 maxAvgOccupancy: Double = 64.0, maxFamilies: Int = 8,
                 seed: Long = 42L): Params = {
    val d = Similarity.inferDimOpt(sample, "embedding").getOrElse(
      throw new IllegalArgumentException(
        "autoParams needs a sample with at least one non-null embedding"))
    val (bits, fams) = Similarity.sizeBands(sample, targetRecall,
      math.acos(minCos), corpusSize, maxAvgOccupancy, maxFamilies,
      "embedding", d, seed)
    Params(minCos = minCos, bits = bits, seed = seed, dim = d,
      families = fams, buckets = buckets, maxBucket = maxBucket)
  }

  /** [[decide]] then [[commit]] — the batch-job form. `prio` stamps the
    * kept vectors' keep order in the store (see [[KeptVectors]]).
    */
  def ingest(dir: String, batch: DataFrame, cursor: Long,
             params: Params = Params(), prio: Long = 0L): Result = {
    val staged = decide(dir, batch, cursor, params)
    commit(dir, staged.kept, params, Some(staged.keptBands), prio)
    Result(staged.decisions, staged.cursor)
  }

  /** Compute one batch's decisions against the indexes as they stand,
    * WITHOUT mutating them. Every decision input that reads an index is
    * checkpointed, so the returned frames stay valid (and identical)
    * after a later [[commit]] appends the batch's own rows.
    *
    * Under a finite `maxBucket`, saturated signature buckets route
    * through [[Dedup.boundedProbeCandidates]]'s star (linear output,
    * overflow REPORTED). The star pairs are proxies — they too are
    * cosine-verified, which places the recall trade exactly right: in a
    * genuine spam storm (near-identical vectors saturating one bucket)
    * the representative passes the threshold and the storm dedups; in a
    * bucket saturated by mere collisions the stars FAIL verification
    * and nothing is wrongly dropped.
    */
  def decide(dir: String, batch: DataFrame, cursor: Long,
             params: Params = Params()): Staged =
    decide(dir, batch, cursor, params, countCursor = true)

  /** [[decide]] with the kept-count job made OPTIONAL (r15 ADVICE): the
    * cursor is one aggregation over the pinned kept frame, pure waste
    * for a composing caller that carries its own ledger and discards
    * this flow's count ([[UnifiedFlow.decide]] — its unified ledger
    * carries the TOKEN cursor). `countCursor = false` returns
    * `Staged.cursor = cursor` unchanged and runs no count job.
    */
  def decide(dir: String, batch: DataFrame, cursor: Long,
             params: Params, countCursor: Boolean): Staged = {
    require(cursor >= 0, s"cursor must be >= 0, got $cursor")
    val spark = batch.sparkSession
    val all = batch.select(col("vec_id"), col("embedding"))

    // stage 1: validity gate. The flow params freeze in the sidecar on
    // the first evidenced batch ([[freezeParams]]); the stamped dim is
    // authoritative for dim-delegating callers. The gate output feeds
    // every downstream frame — checkpoint once. The inference head
    // probe is LAZY (r16 diet): once the sidecar exists — every batch
    // after the first — no job runs to infer what the stamp already
    // knows.
    lazy val inferred = Phase.labeled("vdecide:infer-dim") {
      if (params.dim > 0) Some(params.dim)
      else Similarity.inferDimOpt(all, "embedding")
    }
    val d = freezeParams(spark, dir, params, inferred, stamp = true)
      .orElse(inferred).getOrElse(1)
    val valid = Phase.labeled("vdecide:valid-ckpt") {
      ckpt(all.filter(col("embedding").isNotNull &&
        size(col("embedding")) === d &&
        Similarity.l2Norm(col("embedding")) > 0d))
    }

    // stages 2-3 — exact vs history AND exact within batch — in ONE
    // pinned frame (r17 diet, the text flow's shape): `hist_matched` =
    // the min stored keeper from the bucket-pruned digest-index read,
    // `keep_id` = the batch election's winner among history-SURVIVORS
    // sharing the digest. The election window can run over all valid
    // rows because a digest group is hist-matched all-or-nothing (same
    // digest ⇒ same stored match) — verdicts byte-identical to the old
    // three-checkpoint chain, at a third of the sync points.
    val exact = Phase.labeled("vdecide:exact-ckpt") {
      val digests = valid.select(col("vec_id"), digestOf(spark).as("band"))
      val histM = Dedup.BandIndex.pruned(dir + "/digest",
          digests.select(col("vec_id").as("doc_id"), col("band")),
          params.buckets)
        .join(broadcast(digests.select(col("band"), col("vec_id").as("bid"))),
          Seq("band"))
        .groupBy(col("bid").as("vec_id"))
        .agg(min(col("doc_id")).as("hist_matched"))
      val wdg = org.apache.spark.sql.expressions.Window.partitionBy("dg")
      ckpt(valid
        .withColumn("dg", digestOf(spark))
        .join(broadcast(histM), Seq("vec_id"), "left")
        .withColumn("keep_id",
          min(when(col("hist_matched").isNull, col("vec_id"))).over(wdg))
        .drop("dg"))
    }
    val exHist = exact.filter(col("hist_matched").isNotNull)
      .select(col("vec_id"), col("hist_matched").as("matched_id"))
    val exBatch = exact.filter(col("hist_matched").isNull &&
        col("vec_id") =!= col("keep_id"))
      .select(col("vec_id"), col("keep_id").as("matched_id"))
    val afterEx = exact.filter(col("hist_matched").isNull &&
        col("vec_id") === col("keep_id"))
      .select(col("vec_id"), col("embedding"))

    // stage 4 candidates: Hamming≤1 multi-probe against the band index
    // (read-only — only KEPT vectors ever index, at commit). Bounded
    // star route under a finite cap; both routes checkpoint before the
    // later commit can append the batch's own rows.
    val (home, cands) = Phase.labeled("vdecide:signed-ckpt") {
      val (home, probes) = Similarity.signedBatch(afterEx, "vec_id",
        "embedding", params.bits, params.seed, d, params.families)
      (home, Similarity.embIndexProbe(dir + "/bands", home, probes,
        params.buckets, params.maxBucket))
    }
    val batchIds = afterEx.select(col("vec_id"))

    // stages 4-5 verification in ONE checkpointed pass (r15 diet): every
    // candidate pair — history pairs against the vbkt-pruned store
    // fetch, batch pairs against the (broadcast) batch itself — lands in
    // a single `verified` frame at true cosine ≥ minCos, from which the
    // history drop-set and the batch edge-set are cheap filters of
    // pinned blocks (the first cut checkpointed those two SEPARATELY,
    // evaluating the flag/broadcast plans twice). A batch with NO
    // candidates at all (clean corpus — the common case) skips the
    // verification, fetch, and CC machinery entirely: `flagged` is
    // checkpointed, so the probe is one cheap take(1).
    val (ndHist, edges) = Phase.labeled("vdecide:flagged-ckpt") {
      // the pair table pins WITH its in-batch flags (r17: the raw-pairs
      // pin left the two batchIds broadcasts to be re-built by every
      // downstream evaluation)
      val flagged = ckpt(cands.pairs
        .join(broadcast(batchIds.select(col("vec_id").as("a_id"),
          lit(true).as("a_in"))), col("doc_a") === col("a_id"), "left")
        .join(broadcast(batchIds.select(col("vec_id").as("b_id"),
          lit(true).as("b_in"))), col("doc_b") === col("b_id"), "left")
        .select(col("doc_a"), col("doc_b"), col("a_in"), col("b_in")))
      if (flagged.isEmpty) (emptyLongPairs(spark, "vec_id", "matched_id"),
        emptyLongPairs(spark, "doc_a", "doc_b"))
      else {
        val histCand = flagged.filter(col("a_in").isNull || col("b_in").isNull)
          .select(
            when(col("a_in").isNotNull, col("doc_a")).otherwise(col("doc_b"))
              .as("doc_a"),
            when(col("a_in").isNotNull, col("doc_b")).otherwise(col("doc_a"))
              .as("doc_b"))
        val storedEmb = Phase.labeled("vdecide:store-fetch") {
          KeptVectors.fetch(dir + "/vectors",
            histCand.select(col("doc_b").as("vec_id")).distinct(),
            params.buckets)
        }
        // batch-embedding broadcast GUARD (r15 verdict #2): the three
        // verification joins ship the batch's (vec_id, embedding) rows —
        // fine at micro-batch scale, ~400 MB of driver memory at
        // 100k × 1024-dim. `valid` is checkpoint-pinned, so the count
        // reads materialized blocks (no recompute); an over-bound batch
        // takes the shuffle-join route, decisions identical.
        val embBc: DataFrame => DataFrame =
          if (Phase.labeled("vdecide:bcast-guard-count")(valid.count()) <=
              params.maxBatchBroadcastRows) broadcast
          else (df: DataFrame) => df
        val verified = Phase.labeled("vdecide:verified-ckpt") {
          ckpt(histCand
            .join(embBc(valid.select(col("vec_id").as("doc_a"),
              col("embedding").as("emb_a"))), Seq("doc_a"))
            .join(storedEmb.select(col("vec_id").as("doc_b"),
              col("embedding").as("emb_b")), Seq("doc_b"))
            .withColumn("hist", lit(true))
            .unionByName(flagged
              .filter(col("a_in").isNotNull && col("b_in").isNotNull)
              .select(col("doc_a"), col("doc_b"))
              .join(embBc(valid.select(col("vec_id").as("doc_a"),
                col("embedding").as("emb_a"))), Seq("doc_a"))
              .join(embBc(valid.select(col("vec_id").as("doc_b"),
                col("embedding").as("emb_b"))), Seq("doc_b"))
              .withColumn("hist", lit(false)))
            .filter(Similarity.cosine(col("emb_a"), col("emb_b")) >=
              params.minCos)
            .select(col("doc_a"), col("doc_b"), col("hist")))
        }
        (verified.filter(col("hist"))
          .groupBy(col("doc_a").as("vec_id"))
          .agg(min(col("doc_b")).as("matched_id")),
          verified.filter(!col("hist")).select(col("doc_a"), col("doc_b")))
      }
    }
    val afterNdHist = afterEx.join(broadcast(ndHist), Seq("vec_id"), "left_anti")

    // stage 5: batch-internal components among the remaining docs —
    // edges whose endpoint was history-dropped carry no batch-internal
    // justification and are filtered out (the text flow's rule; the
    // cosine was already verified above, so these semi-joins run on the
    // pinned `verified` blocks)
    val rem = afterNdHist.select(col("vec_id"))
    val edgesRem = edges
      .join(broadcast(rem.select(col("vec_id").as("doc_a"))), Seq("doc_a"),
        "left_semi")
      .join(broadcast(rem.select(col("vec_id").as("doc_b"))), Seq("doc_b"),
        "left_semi")
    val memb = Phase.labeled("vdecide:edges-empty-probe") {
      if (edgesRem.isEmpty) afterNdHist.withColumn("grp", col("vec_id"))
      else {
        val labels = Graph.batchComponents(ckpt(
          edgesRem.select(col("doc_a").as("src"), col("doc_b").as("dst"))))
        afterNdHist
          .join(labels.withColumnRenamed("node_id", "vec_id"),
            Seq("vec_id"), "left")
          .withColumn("grp", coalesce(col("component"), col("vec_id")))
      }
    }
    // keeper election per params.keeper: min id (the CC label itself —
    // first wins inside the batch too, the default) or SemDeDup's
    // diversity rule (lowest cosine to the component MEAN, ties by min
    // id — the component is batch-bounded, so the mean aggregate and
    // the broadcast join back are batch work). The TAIL pins once (text
    // flow's r15 shape): ndBatch, kept, the cursor count, commit's
    // three appends, and the decisions evaluation are all filters of
    // this one pinned frame.
    val withKeep = params.keeper match {
      case Similarity.KeepMinId =>
        memb.withColumn("keep_id", col("grp"))
      case Similarity.KeepFarFromCentroid =>
        val vecMean = udaf(graft.functions.VecMeanAgg)
        val means = memb.groupBy("grp")
          .agg(vecMean(col("embedding")).as("cmean"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
        memb.join(broadcast(means), Seq("grp"))
          .withColumn("cos_c",
            Similarity.cosine(col("embedding"), col("cmean")))
          .withColumn("keep_id",
            min_by(col("vec_id"), struct(col("cos_c"), col("vec_id")))
              .over(w))
          .drop("cmean", "cos_c")
    }
    val tail = Phase.labeled("vdecide:tail-ckpt") {
      ckpt(withKeep.select(col("vec_id"), col("embedding"), col("keep_id")))
    }
    val ndBatch = tail.filter(col("vec_id") =!= col("keep_id"))
      .select(col("vec_id"), col("keep_id").as("matched_id"))
    val kept = tail.filter(col("vec_id") === col("keep_id"))
      .select(col("vec_id"), col("embedding"))

    val newCursor =
      if (!countCursor) cursor
      else cursor + Phase.labeled("vdecide:cursor-count")(kept.count())
    def reason(ids: DataFrame, r: String): DataFrame =
      ids.select(col("vec_id"), lit(r).as("status"),
        col("matched_id").cast("long").as("matched_id"))
    val nullMatch = lit(null).cast("long").as("matched_id")
    val decisions = reason(
        all.join(broadcast(valid.select("vec_id")), Seq("vec_id"),
            "left_anti")
          .select(col("vec_id"), nullMatch), "invalid")
      .unionByName(reason(exHist, "exact_history"))
      .unionByName(reason(exBatch, "exact_batch"))
      .unionByName(reason(ndHist, "neardup_history"))
      .unionByName(reason(ndBatch, "neardup_batch"))
      .unionByName(kept.select(col("vec_id"), lit("kept").as("status"),
        nullMatch))
    // the kept slice of the pinned home-signature table — commit
    // appends it precomputed instead of re-running the hyperplane dots
    // on the kept vectors (r15 diet, the text flow's keptBands shape)
    val keptBands = home.join(broadcast(kept.select(
      col("vec_id").as("doc_id"))), Seq("doc_id"), "left_semi")
    Staged(decisions, kept, newCursor, cands.overflow, keptBands)
  }

  /** Append a [[decide]]d batch's kept vectors to all three stores. The
    * decision frames are checkpoint-pinned, so committing after reading
    * them cannot flip the already-computed verdicts. Idempotent under
    * replay: duplicate digest/band rows change no candidate set
    * (DISTINCT-member occupancy), duplicate vector rows no verification
    * verdict (the fetch join's matches dedupe through the drop-set
    * aggregation).
    */
  def commit(dir: String, kept: DataFrame, params: Params = Params(),
             keptBands: Option[DataFrame] = None, prio: Long = 0L): Unit = {
    // validate against the frozen contract (never stamps — only a
    // decide with dimension evidence creates the sidecar); the stamped
    // dim drives the replay path's band re-derivation
    val spark = kept.sparkSession
    val dAuth = freezeParams(spark, dir, params,
      inferred = None, stamp = false)
    // defensive validity filter (r15): replay/compose callers hand raw
    // batch-joined rows, and a null or degenerate embedding here would
    // index a null digest band and a garbage signature — the same gate
    // decide applies, applied again at the mutation boundary
    val clean = kept.filter(col("embedding").isNotNull &&
      Similarity.l2Norm(col("embedding")) > 0d &&
      dAuth.map(dd => size(col("embedding")) === dd).getOrElse(lit(true)))
    // the three appends touch DISJOINT dirs, each with its own staged
    // swap, and replay never depends on their relative order — run them
    // CONCURRENTLY, surfacing failures only after all three finished
    // (r17 diet; Phase.all's single-writer rule)
    Phase.all(
      ("vcommit:digest", () => Dedup.BandIndex.append(dir + "/digest",
        clean.select(col("vec_id").as("doc_id"), digestOf(spark).as("band")),
        params.buckets)),
      // a decide-supplied pinned home-band table skips the second
      // hyperplane-signature derivation; the no-bands form (the streaming
      // REPLAY path) re-derives
      ("vcommit:bands", () => Dedup.BandIndex.append(dir + "/bands",
        keptBands.map(_.select(col("doc_id"), col("band")))
          .getOrElse(Similarity.embBandTable(clean, "vec_id", "embedding",
            params.bits, params.seed,
            dAuth.getOrElse(params.dim), params.families)),
        params.buckets)),
      ("vcommit:vectors",
        () => KeptVectors.append(dir + "/vectors", keepOrder(clean, prio),
          params.buckets)))
  }

  /** [[lateDecide]]'s return: the correction rows plus the three
    * precomputed commit inputs — the vectors to ATTACH (vec_id,
    * embedding, prio — stage-survivors joining the corpus), their home
    * bands, and the stored rows to EVICT (vec_id, embedding, prio —
    * the embedding is carried so the commit can recompute the loser's
    * digest + home bands for the touched-bucket removals), and the
    * hot-bucket overflow report (empty on the exact route).
    */
  final case class LateStaged(corrections: DataFrame, attach: DataFrame,
                              attachBands: DataFrame, evict: DataFrame,
                              overflow: DataFrame)

  /** The LATE-EMBEDDING retroactive pass (r15 verdict #1): in a real
    * multimodal pipeline embeddings are computed asynchronously, hours
    * after the crawl — a doc kept WITHOUT its embedding was never
    * semantically deduped, and a doc kept WITH one may retroactively
    * turn out to be the semantic dup of an older doc whose embedding
    * only just arrived. This pass reconciles the vector corpus:
    *
    * Input: (vec_id, embedding, prio) — `prio` is the doc's ORIGINAL
    * keep order (the ingest batch id its doc was text-kept at; absent
    * or null = 0). The election key is (prio, vec_id) ascending —
    * everywhere [[decide]] says "history wins", this pass says "the
    * EARLIER-KEPT doc wins", which is what the everything-on-time
    * recompute would have decided.
    *
    * Correction statuses, one row per affected doc (`matched_id` = the
    * winner; the loser side is the row's vec_id, whichever side
    * arrived late):
    *   - `invalid` — null/mis-dimensioned/zero-norm late embedding;
    *     the doc stays kept, contributes no vector (decide's gate);
    *   - `embdup_late` / `semdup_late` on a LATE row — its vector is an
    *     exact / cosine≥minCos dup of an earlier-keyed keeper (stored
    *     or in this late batch); the doc is retroactively a duplicate;
    *   - `embdup_late` / `semdup_late` on a STORED row — an arriving
    *     earlier-keyed vector beat it: the row is EVICTED from all
    *     three vector stores (touched-bucket staged-swap removals,
    *     [[BucketedStore.remove]]);
    *   - `attached` — the late vector joins the corpus (all three
    *     stores, at its prio);
    *   - `redundant_late` — the id is ALREADY in the corpus with this
    *     exact content (a cross-batch redelivery): nothing appends,
    *     nothing evicts. A same-id redelivery with DIFFERENT content
    *     is outside the feed contract (each doc's embedding arrives
    *     once; the ledger dedupes whole-batch replays).
    *
    * Election discipline, exactly [[decide]]'s two-stage shape with
    * (prio, id) keys: stage A drops late rows beaten by a stored
    * keeper; stage B elects min-key keepers inside batch-internal
    * verified components of the survivors (edges to stage-A losers
    * carry no justification); stage C evicts stored rows beaten by an
    * ATTACHING winner — a late row that itself lost can evict nobody.
    * Every near drop/evict is TRUE-cosine-verified through the pruned
    * store fetch (the flow's collision-can-never-wrongly-drop
    * contract). Stated limit, like the star route's: a chain x~y~z
    * (x̸~z) with interleaved prios can diverge from a full
    * arrival-order replay — components that are cliques (the real
    * duplicate shape at these thresholds) reproduce the on-time
    * verdicts exactly (UnifiedFlowSpec pins the equivalence).
    *
    * What this pass does NOT do (documented divergences from the full
    * on-time recompute): an evicted doc's TEXT-side state is flagged,
    * not unwound — its packed sequences stand (training artifacts are
    * immutable history) and its text digest/bands stay indexed, so a
    * future copy of its text dups against it and resolves through the
    * duplicate map's chain (loser → winner). Past drops whose
    * matched_id is now evicted are not re-adjudicated — the map chains
    * (x → evicted → winner).
    */
  def lateDecide(dir: String, late: DataFrame,
                 params: Params = Params()): LateStaged = {
    val spark = late.sparkSession
    val withPrio = keepOrder(late, 0L)

    // gate (decide's stage 1, sidecar-frozen dim authoritative; lazy
    // head probe — the sidecar almost always exists for a late feed)
    lazy val inferred = Phase.labeled("vlate:infer-dim") {
      if (params.dim > 0) Some(params.dim)
      else Similarity.inferDimOpt(withPrio, "embedding")
    }
    val d = freezeParams(spark, dir, params, inferred, stamp = true)
      .orElse(inferred).getOrElse(1)
    val valid = Phase.labeled("vlate:valid-ckpt") {
      ckpt(withPrio.filter(col("embedding").isNotNull &&
        size(col("embedding")) === d &&
        Similarity.l2Norm(col("embedding")) > 0d))
    }

    // in-batch exact dedup first (decide's stage 3, min-KEY keeper)
    val dg = valid.select(col("vec_id"), col("prio"),
      digestOf(spark).as("dg"))
    val dgKeep = dg.groupBy("dg")
      .agg(min_by(col("vec_id"), struct(col("prio"), col("vec_id")))
        .as("keep_id"))
    val exBatch = dg.join(dgKeep, Seq("dg"))
      .filter(col("vec_id") =!= col("keep_id"))
      .select(col("vec_id"), col("keep_id").as("matched_id"))
    val afterExB = Phase.labeled("vlate:afterexb-ckpt") {
      ckpt(valid.join(broadcast(exBatch.select("vec_id")),
        Seq("vec_id"), "left_anti"))
    }

    // candidates vs history: exact digest matches + Hamming≤1 probes
    val digests = afterExB.select(col("vec_id"), digestOf(spark).as("band"))
    val exHistPairs = Phase.labeled("vlate:exhist-ckpt") {
      ckpt(
        Dedup.BandIndex.pruned(dir + "/digest",
            digests.select(col("vec_id").as("doc_id"), col("band")),
            params.buckets)
          .join(broadcast(digests.select(col("band"),
            col("vec_id").as("l_id"))), Seq("band"))
          .select(col("l_id"), col("doc_id").as("s_id")).distinct())
    }
    val (home, cands) = Phase.labeled("vlate:signed-ckpt") {
      val (home, probes) = Similarity.signedBatch(afterExB, "vec_id",
        "embedding", params.bits, params.seed, d, params.families)
      (home, Similarity.embIndexProbe(dir + "/bands", home, probes,
        params.buckets, params.maxBucket))
    }
    val nearPairs = Phase.labeled("vlate:near-ckpt")(ckpt(cands.pairs))

    val (lostA, lostB, attach, evictWin, evictRows, redundant) =
      Phase.labeled("vlate:empty-probe") {
        if (exHistPairs.isEmpty && nearPairs.isEmpty) {
          // no candidates anywhere (the common clean-feed case): nothing
          // drops, nothing evicts, every gated survivor attaches
          val noLoss = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("vec_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("matched_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("is_exact",
                org.apache.spark.sql.types.BooleanType))))
          (noLoss, noLoss.drop("is_exact"), afterExB, noLoss,
            KeptVectors.fetch(dir + "/vectors",
              afterExB.select("vec_id").limit(0), params.buckets),
            noLoss.select("vec_id"))
        } else {
          // a REDELIVERED embedding (id already in the corpus, identical
          // content) self-matches through the digest index: it needs no
          // decision and must neither re-append nor evict — corrections
          // say `redundant_late` (the cross-batch analog of the ledger's
          // replay dedupe; a same-id redelivery with DIFFERENT content is
          // outside the feed contract and would attach a second vector)
          val selfIds = ckpt(exHistPairs.filter(col("l_id") === col("s_id"))
            .select(col("l_id").as("vec_id")).distinct())
          // orient the near pairs: (late, stored) and (late, late)
          val batchIds = afterExB.select(col("vec_id"))
          val flagged = nearPairs
            .join(broadcast(batchIds.select(col("vec_id").as("a_id"),
              lit(true).as("a_in"))), col("doc_a") === col("a_id"), "left")
            .join(broadcast(batchIds.select(col("vec_id").as("b_id"),
              lit(true).as("b_in"))), col("doc_b") === col("b_id"), "left")
          val nearHist = flagged
            .filter(col("a_in").isNull || col("b_in").isNull)
            .select(
              when(col("a_in").isNotNull, col("doc_a")).otherwise(col("doc_b"))
                .as("l_id"),
              when(col("a_in").isNotNull, col("doc_b")).otherwise(col("doc_a"))
                .as("s_id"))
          // one pruned fetch serves verification AND the eviction rows;
          // a pre-r16 row's null keep order elects as the earliest
          val storedEmb = Phase.labeled("vlate:store-fetch") {
            ckpt(KeptVectors.fetch(dir + "/vectors",
              exHistPairs.select(col("s_id").as("vec_id"))
                .unionByName(nearHist.select(col("s_id").as("vec_id")))
                .distinct(),
              params.buckets)
              .withColumn("prio", coalesce(col("prio"), lit(0L))))
          }
          val embBc: DataFrame => DataFrame =
            if (Phase.labeled("vlate:bcast-guard-count")(valid.count()) <=
                params.maxBatchBroadcastRows) broadcast
            else (df: DataFrame) => df
          // verified (late, stored) pairs with both keys and the pair kind
          val histPairs = Phase.labeled("vlate:histpairs-ckpt") {
            ckpt(exHistPairs.withColumn("is_exact", lit(true))
              .unionByName(nearHist.withColumn("is_exact", lit(false)))
              .join(embBc(afterExB.select(col("vec_id").as("l_id"),
                col("embedding").as("emb_l"), col("prio").as("l_prio"))),
                Seq("l_id"))
              .join(storedEmb.select(col("vec_id").as("s_id"),
                col("embedding").as("emb_s"), col("prio").as("s_prio")),
                Seq("s_id"))
              .filter(col("is_exact") ||
                Similarity.cosine(col("emb_l"), col("emb_s")) >= params.minCos)
              .groupBy("l_id", "s_id", "l_prio", "s_prio")
              .agg(max(col("is_exact")).as("is_exact")))
          }
          // redundant rows decide nothing: drop their pairs' LATE side
          // (they may still stand as the STORED side other rows lose to)
          val histEff = histPairs.filter(col("l_id") =!= col("s_id"))
            .join(broadcast(selfIds.select(col("vec_id").as("l_id"))),
              Seq("l_id"), "left_anti")
          // stage A: a late row beaten by an earlier-keyed stored keeper
          val lKey = struct(col("l_prio"), col("l_id"))
          val sKey = struct(col("s_prio"), col("s_id"))
          val lostA = Phase.labeled("vlate:losta-ckpt") {
            ckpt(histEff.filter(sKey < lKey)
              .groupBy(col("l_id").as("vec_id"))
              .agg(min_by(struct(col("s_id").as("m"),
                  col("is_exact").as("x")),
                struct(col("s_prio"), col("s_id"))).as("w"))
              .select(col("vec_id"), col("w.m").as("matched_id"),
                col("w.x").as("is_exact")))
          }
          // stage B: batch-internal verified components of the survivors
          val lateCand = flagged
            .filter(col("a_in").isNotNull && col("b_in").isNotNull)
            .select(col("doc_a"), col("doc_b"))
          val lateVerified = Phase.labeled("vlate:lateverified-ckpt") {
            ckpt(lateCand
              .join(embBc(afterExB.select(col("vec_id").as("doc_a"),
                col("embedding").as("emb_a"))), Seq("doc_a"))
              .join(embBc(afterExB.select(col("vec_id").as("doc_b"),
                col("embedding").as("emb_b"))), Seq("doc_b"))
              .filter(Similarity.cosine(col("emb_a"), col("emb_b")) >=
                params.minCos)
              .select(col("doc_a"), col("doc_b")))
          }
          val surv = afterExB.join(broadcast(lostA.select("vec_id")),
              Seq("vec_id"), "left_anti")
            .join(broadcast(selfIds), Seq("vec_id"), "left_anti")
          val edgesRem = lateVerified
            .join(broadcast(surv.select(col("vec_id").as("doc_a"))),
              Seq("doc_a"), "left_semi")
            .join(broadcast(surv.select(col("vec_id").as("doc_b"))),
              Seq("doc_b"), "left_semi")
          val memb = Phase.labeled("vlate:edges-empty-probe") {
            if (edgesRem.isEmpty) surv.withColumn("grp", col("vec_id"))
            else {
              val labels = Graph.batchComponents(ckpt(edgesRem
                .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
              surv.join(labels.withColumnRenamed("node_id", "vec_id"),
                  Seq("vec_id"), "left")
                .withColumn("grp", coalesce(col("component"), col("vec_id")))
            }
          }
          val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
          val tail = Phase.labeled("vlate:tail-ckpt") {
            ckpt(memb
              .withColumn("keep_id",
                min_by(col("vec_id"), struct(col("prio"), col("vec_id")))
                  .over(w))
              .select(col("vec_id"), col("embedding"), col("prio"),
                col("keep_id")))
          }
          val lostB = tail.filter(col("vec_id") =!= col("keep_id"))
            .select(col("vec_id"), col("keep_id").as("matched_id"))
          val attach = tail.filter(col("vec_id") === col("keep_id"))
            .select(col("vec_id"), col("embedding"), col("prio"))
          // stage C: stored rows beaten by an ATTACHING winner are evicted
          val evictWin = Phase.labeled("vlate:evict-ckpt") {
            ckpt(histEff
              .join(broadcast(attach.select(col("vec_id").as("l_id"))),
                Seq("l_id"), "left_semi")
              .filter(lKey < sKey)
              .groupBy(col("s_id"))
              .agg(min_by(struct(col("l_id").as("m"), col("is_exact").as("x")),
                struct(col("l_prio"), col("l_id"))).as("w"))
              .select(col("s_id").as("vec_id"), col("w.m").as("matched_id"),
                col("w.x").as("is_exact")))
          }
          val evictRows = storedEmb.join(broadcast(evictWin.select("vec_id")),
            Seq("vec_id"), "left_semi")
          (lostA, lostB, attach, evictWin, evictRows, selfIds)
        }
      }

    val nullM = lit(null).cast("long").as("matched_id")
    def kindStatus(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        when(col("is_exact"), "embdup_late").otherwise("semdup_late")
          .as("status"),
        col("matched_id").cast("long").as("matched_id"))
    val corrections = withPrio
      .join(broadcast(valid.select("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit("invalid").as("status"), nullM)
      .unionByName(exBatch.select(col("vec_id"),
        lit("embdup_late").as("status"),
        col("matched_id").cast("long").as("matched_id")))
      .unionByName(kindStatus(lostA))
      .unionByName(lostB.select(col("vec_id"),
        lit("semdup_late").as("status"),
        col("matched_id").cast("long").as("matched_id")))
      .unionByName(kindStatus(evictWin))
      .unionByName(redundant.select(col("vec_id"),
        lit("redundant_late").as("status"), nullM))
      .unionByName(attach.select(col("vec_id"),
        lit("attached").as("status"), nullM))
    val attachBands = home.join(broadcast(attach.select(
      col("vec_id").as("doc_id"))), Seq("doc_id"), "left_semi")
    LateStaged(corrections, attach, attachBands, evictRows, cands.overflow)
  }

  /** Apply a [[lateDecide]]d batch to the three stores: evictions
    * first — digest, bands, then the vector store LAST, so a replay
    * that still finds the vector row can recompute the loser's band
    * strings and re-run the full removal, while a vector-less id
    * proves all three removals completed (the fetch-first replay
    * contract in [[graft.streaming.StreamOps]]) — then the attach
    * appends (idempotent like [[commit]]'s). Single-writer per dir.
    */
  def lateCommit(dir: String, staged: LateStaged,
                 params: Params = Params()): Unit =
    lateCommitParts(dir, staged.attach, Some(staged.attachBands),
      staged.evict, params)

  /** [[lateCommit]] from raw parts — the streaming REPLAY path, which
    * reconstructs attach/evict from the recorded corrections and has no
    * pinned band table (None re-derives the home signatures).
    */
  /** Remove stored rows ((vec_id, embedding) — the embedding recomputes
    * the digest and home bands a removal needs) from all three stores:
    * digest and band indexes, then the vector store LAST (the
    * fetch-first replay contract: a still-present vector row proves the
    * removals must re-run). Shared by [[lateCommitParts]] and the
    * unified late-TEXT pass's retroactive vector evictions.
    */
  private[ops] def evictStored(dir: String, evict: DataFrame,
                               params: Params): Unit = {
    val spark = evict.sparkSession
    val dAuth = freezeParams(spark, dir, params, inferred = None,
      stamp = false)
    // pin the eviction rows ONCE (r21): unpinned, the emptiness probe,
    // both band removals (touched-bucket collect + rewrite each), and
    // the vector removal re-evaluated the caller's pruned store fetch
    // ~7 times per pass
    val ev = ckpt(evict)
    if (!ev.isEmpty) {
      // digest and band removals touch DISJOINT dirs, each its own
      // staged swap — run them concurrently (guide §2.6, r21); the
      // vector store stays strictly LAST (the fetch-first replay
      // contract above)
      Phase.all(
        ("vevict:digest", () => Dedup.BandIndex.remove(dir + "/digest",
          ev.select(col("vec_id").as("doc_id"),
            digestOf(spark).as("band")), params.buckets)),
        ("vevict:bands", () => Dedup.BandIndex.remove(dir + "/bands",
          Similarity.embBandTable(ev, "vec_id", "embedding",
            params.bits, params.seed, dAuth.getOrElse(params.dim),
            params.families), params.buckets)))
      KeptVectors.remove(dir + "/vectors", ev.select("vec_id"),
        params.buckets)
    }
  }

  private[graft] def lateCommitParts(dir: String, attach: DataFrame,
                                     attachBands: Option[DataFrame],
                                     evict: DataFrame,
                                     params: Params): Unit = {
    val spark = attach.sparkSession
    val dAuth = freezeParams(spark, dir, params, inferred = None,
      stamp = false)
    Phase.labeled("vlcommit:evict")(evictStored(dir, evict, params))
    Phase.labeled("vlcommit:digest") {
      Dedup.BandIndex.append(dir + "/digest",
        attach.select(col("vec_id").as("doc_id"),
          digestOf(spark).as("band")), params.buckets)
    }
    Phase.labeled("vlcommit:bands") {
      Dedup.BandIndex.append(dir + "/bands",
        attachBands.map(_.select(col("doc_id"), col("band")))
          .getOrElse(Similarity.embBandTable(attach, "vec_id", "embedding",
            params.bits, params.seed, dAuth.getOrElse(params.dim),
            params.families)),
        params.buckets)
    }
    Phase.labeled("vlcommit:vectors") {
      KeptVectors.append(dir + "/vectors", keepOrder(attach, 0L),
        params.buckets)
    }
  }

  /** [[lateDecide]] then [[lateCommit]] — the batch-job form; returns
    * the corrections frame.
    */
  def lateIngest(dir: String, late: DataFrame,
                 params: Params = Params()): DataFrame = {
    val staged = lateDecide(dir, late, params)
    lateCommit(dir, staged, params)
    staged.corrections
  }

  /** The FROZEN-params sidecar (`_graft_vecflow.json` at the flow dir's
    * root): bits/seed/dim/families/buckets are part of the index
    * CONTRACT — a caller with a different bits or seed derives different
    * band strings and probes them against the stored index with zero
    * matches, i.e. SILENT near-dup candidate loss (the modulus-mismatch
    * failure mode of the bucket layouts, one level up). Stamped by the
    * first [[decide]] (before any store mutation, the stamp-ahead
    * discipline); every later decide/commit validates and fails LOUDLY
    * on a mismatch. minCos and maxBucket are query-time dials and stay
    * unfrozen. `dim` freezes as the RESOLVED dimension, so a later
    * batch inferring a different width is refused rather than silently
    * banded in a different space.
    */
  private def freezeParams(spark: org.apache.spark.sql.SparkSession,
                           dir: String, p: Params,
                           inferred: => Option[Int],
                           stamp: Boolean): Option[Int] =
    readFrozen(spark, dir) match {
      case None =>
        // stamp only with dimension EVIDENCE (explicit param or a non-null
        // row): an empty or all-null first batch must not freeze dim=1
        val dOpt = if (p.dim > 0) Some(p.dim) else inferred
        if (stamp) dOpt.foreach { d =>
          val f = new org.apache.hadoop.fs.Path(dir, FrozenSidecar)
          StagedSwap.writeRecord(
            f.getFileSystem(spark.sparkContext.hadoopConfiguration), f,
            s"""{"bits":${p.bits},"seed":${p.seed},"dim":$d,""" +
              s""""families":${p.families},"buckets":${p.buckets},""" +
              s""""digestv":$DigestVersion}""")
        }
        dOpt
      case Some(frozen) =>
        // digest-format version gate: a store stamped before r16 keyed
        // its digest index on Spark's float-to-string rendering; probing
        // it with binary-bit digests would silently miss every
        // historical exact duplicate — refuse loudly instead
        require(frozen("digestv") == DigestVersion,
          s"$dir was built with digest format v${frozen("digestv")} " +
            s"(pre-binary-digest); this build writes v$DigestVersion — " +
            "rebuild the corpus into a fresh dir (the digest index keys " +
            "are incompatible)")
        require(frozen("bits") == p.bits && frozen("seed") == p.seed &&
          frozen("families") == p.families &&
          frozen("buckets") == p.buckets &&
          (p.dim <= 0 || p.dim.toLong == frozen("dim")),
          s"$dir is a VectorFlow corpus frozen at $frozen but the caller " +
            s"passed bits=${p.bits} seed=${p.seed} dim=${p.dim} " +
            s"families=${p.families} buckets=${p.buckets} — these are " +
            "index parameters, frozen at creation")
        // the stamped dim is AUTHORITATIVE for a dim-delegating caller: a
        // batch inferring a different width gets its rows invalidated by
        // the gate instead of silently banding in a different space
        Some(frozen("dim").toInt)
    }

  private val FrozenSidecar = "_graft_vecflow.json"

  /** The frozen-params sidecar's fields through
    * [[StagedSwap.readRecord]]: every frozen field, plus `digestv` (1 on a
    * sidecar stamped before the field existed). A sidecar missing a
    * frozen field is corrupt and refused.
    */
  private def readFrozen(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Option[Map[String, Long]] = {
    val f = new org.apache.hadoop.fs.Path(dir, FrozenSidecar)
    StagedSwap.readRecord(
      f.getFileSystem(spark.sparkContext.hadoopConfiguration), f) { body =>
      val keys = Seq("bits", "seed", "dim", "families", "buckets")
      val got = (keys :+ "digestv").flatMap(k =>
        (s""""$k"\\s*:\\s*(-?\\d+)""").r.findFirstMatchIn(body)
          .map(m => k -> m.group(1).toLong)).toMap
      if (keys.forall(got.contains)) Some(got.withDefaultValue(1L)) else None
    }
  }

  /** The sidecar's FROZEN dimension, if the dir has stamped one — a
    * read-only accessor for the in-query self-verdicts (r19), which
    * must mirror decide's validity gate (null / zero-norm /
    * dim-mismatched vectors are never stored) without re-running it.
    */
  private[graft] def frozenDim(spark: org.apache.spark.sql.SparkSession,
                               dir: String): Option[Int] =
    readFrozen(spark, dir).map(_("dim").toInt)

  /** Content digest of the embedding column: md5 over the array's raw
    * IEEE-754 bit image ([[graft.functions.FloatBitsF]] — 4 big-endian
    * bytes per element from `Float.floatToRawIntBits`). The digest is a
    * PERSISTED index key, so it must be independent of any rendering
    * behavior: the previous form hashed `cast(array<float> as string)`,
    * and Spark's float-to-string rendering changed across majors — an
    * engine upgrade mid-corpus would have silently orphaned every
    * historical digest, re-admitting exact duplicates (r15 ADVICE).
    * The sidecar's `digestv` field versions the format: a store stamped
    * under the old string digest is refused loudly, never silently
    * probed with keys from a different space.
    */
  private[graft] val DigestVersion = 2L
  private def digestOf(spark: org.apache.spark.sql.SparkSession): Column =
    md5(graft.functions.FloatBitsF.floatBits(spark, "embedding"))

  /** The kept-vector store: (vec_id, embedding, prio) rows bucketed by
    * id hash under `vbkt=` directories ([[BucketedStore]]). `prio` is the
    * doc's original KEEP ORDER (the ingest batch id) — the tiebreak the
    * late-embedding correction elects winners by ([[lateDecide]]); stores
    * written before r16 lack the column and read it as null, which the
    * election takes as 0 (earliest — a legacy keeper always wins,
    * preserving pre-correction first-wins). The streaming loop schedules
    * its compaction between batches ([[graft.streaming.StreamOps
    * .vectorCurationIngestStream]]'s `compactEvery`).
    */
  val KeptVectors: BucketedStore = {
    import org.apache.spark.sql.types._
    BucketedStore(new StructType().add("vec_id", LongType)
        .add("embedding", ArrayType(FloatType)).add("prio", LongType)
        .add("vbkt", IntegerType),
      key = "vec_id", bkt = "vbkt",
      legacyHint = "vector store written without a layout sidecar — " +
        "rewrite it into a fresh path with VectorFlow.commit")
  }

  /** `rows`' (vec_id, embedding) with their keep order: a `prio` column's
    * nulls read as 0, and rows without one take `prio`.
    */
  private def keepOrder(rows: DataFrame, prio: Long): DataFrame =
    rows.select(col("vec_id"), col("embedding"),
      (if (rows.columns.contains("prio")) coalesce(col("prio"), lit(0L))
       else lit(prio)).as("prio"))

  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge
      .dropCheckpointConstraints(df.localCheckpoint())

  private def emptyLongPairs(spark: org.apache.spark.sql.SparkSession,
                             a: String, b: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(a,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(b,
          org.apache.spark.sql.types.LongType))))
}
