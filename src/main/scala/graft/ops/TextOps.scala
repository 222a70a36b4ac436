package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (north star):
  * token statistics, language-ID heuristic, quality scoring, SimHash and
  * chunked document fingerprints. Everything is built from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs) so the whole stage stays
  * inside WholeStageCodegen and scales to arbitrary document counts —
  * per-document work only, no shuffles except the SimHash aggregate.
  */
object TextOps {

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that are stopwords (language-ID / quality signal). */
  def stopwordCount(text: Column, stops: Seq[String] = DefaultStopwords): Column =
    size(filter(tokens(text), t => t.isin(stops: _*)))

  /** Deterministic n-gram-heuristic language ID: integer-arithmetic
    * threshold on the stopword ratio (10·stops >= tokens → 'en').
    * Integer compare keeps Spark and any SQL oracle bit-identical.
    */
  def langIdHeuristic(text: Column): Column =
    when(stopwordCount(text) * 10 >= tokenCount(text), lit("en")).otherwise(lit("other"))

  /** Quality score in pure integer arithmetic (no float knife-edges):
    * rewards token mass, penalizes digit noise, rewards punctuation
    * structure. Shape follows common LLM-corpus quality filters.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val nDigit = size(regexp_extract_all(text, lit("[0-9]"), lit(0)))
    val nPunct = size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
    (least(nTok, lit(200)) * 5 - nDigit * 4 + nPunct * 2).cast("int")
  }

  /** 32-bit SimHash over whitespace tokens. Each token's md5 hex digest
    * supplies 32 deterministic "bits" (parity of each hex char's codepoint);
    * the fingerprint bit b is the sign of the ±1 sum over all tokens.
    * One explode + one 32-column aggregate — a single shuffle on doc_id
    * with map-side partial sums, so it holds at corpus scale.
    */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("p",
        graft.functions.AsciiParityVecF.parityVec(docs.sparkSession, md5(col("tok"))))
    // one codegen'd parity pass per token (AsciiParityVecF) + 32 array
    // reads, replacing 32 substring+ascii string ops; the oracle keeps
    // the ascii(substring(...)) form — identical arithmetic
    val sums = (0 until 32).map(b =>
      sum(element_at(col("p"), b + 1)).as(s"s$b"))
    val agg = toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    val bits = (0 until 32).map(b => when(col(s"s$b") > 0, lit("1")).otherwise(lit("0")))
    agg.select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** BPE-style merge training over the corpus (word-level: the classic
    * byte-pair loop applied to whitespace tokens, so frequent adjacent
    * pairs fuse into phrase units — the exact algorithm/dataflow of
    * subword BPE, demonstrated at the granularity this corpus has).
    * Each round is:
    *
    *   1. count adjacent pairs: one narrow pair-expansion map + ONE hash
    *      aggregate (map-side partials absorb the heavy head),
    *   2. pick the most frequent pair (ties break lexicographically — a
    *      deterministic, partitioning-independent choice); this is a
    *      driver-side TOP-1, bounded by construction,
    *   3. apply the merge corpus-wide as a greedy left-to-right fold
    *      INSIDE a codegen `aggregate` lambda — a narrow map pass, no
    *      shuffle, no UDF.
    *
    * So training n merges costs n (shuffle + map) rounds — the honest
    * cost of BPE, which is sequential by definition (merge r+1's counts
    * depend on merge r's corpus). Lineage is cut per round with an eager
    * localCheckpoint (the CC lesson: iterative plans re-resolve their
    * whole history otherwise). Merged units join their parts with
    * `\\u0001` so they can never collide with a real token.
    *
    * Returns (merge list in training order, final tokenized corpus as
    * (id, toks)).
    */
  /** The unit separator gluing merged parts: can never collide with a
    * whitespace-split token.
    */
  val MergeSep = "\u0001"

  /** One greedy left-to-right BPE merge pass: [..., a, b, ...] ->
    * [..., a(+)b, ...] as a codegen `aggregate` fold. This is the
    * REFERENCE semantics; the production path is the linear
    * [[graft.functions.BpeMergesF]] expression, whose equivalence to a
    * chain of these folds is spec-pinned (the fold's per-element
    * accumulator concat copies the array -- O(tokens²) per pass -- so it
    * stays the oracle, not the hot path). Only cheap refs (the fold's own
    * acc/x and literals) appear in the lambda -- the lambda-CSE rule (see
    * q_boilerplate_scrub).
    */
  def mergeFold(toks: Column, a: String, b: String): Column = {
    val merged = lit(a + MergeSep + b)
    aggregate(toks, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
        .otherwise(concat(acc, array(x))))
  }

  /** Tokenizer SERVING, reference form: the merge list as a chain of
    * [[mergeFold]] passes. Quadratic per document (see [[mergeFold]]) --
    * use [[applyMerges]] anywhere data-sized; this form exists so the
    * fast expression has an in-engine oracle to be pinned against.
    */
  def applyMergesReference(toks: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toks) { case (c, (a, b)) => mergeFold(c, a, b) }

  /** Tokenizer SERVING: apply an already-trained merge list to a token
    * array, in training order -- the operator a pipeline actually runs
    * corpus-wide after training, standalone from the training loop. One
    * codegen expression, linear per row (no shuffle, no UDF); merge
    * lists are bounded by the training budget (nMerges), never
    * data-sized.
    */
  def applyMerges(spark: org.apache.spark.sql.SparkSession, toks: Column,
                  merges: Seq[(String, String)]): Column =
    graft.functions.BpeMergesF.applyMerges(spark, toks, merges)

  /** Adjacent token pairs as zip(toks[1..n-1], toks[2..n]) — slice-based
    * so a single-token document yields an empty pair list (sequence(1, 0)
    * would count DOWN and index out of bounds). Each element is a
    * (a, b, dn) struct carrying `sign` so old (-1) and new (+1) pair
    * multisets concat into one exploded delta stream.
    */
  private def adjacentPairs(t: Column, sign: Long): Column =
    zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (x, y) => struct(x.as("a"), y.as("b"), lit(sign).as("dn")))
      .cast("array<struct<a:string,b:string,dn:bigint>>")

  /** The argmax adjacent pair of the corpus REWRITTEN by a merge
    * prefix — [[trainPhraseMergesRecount]]'s per-round pick (count
    * desc, then (a, b) lexicographic), recomputed from the raw corpus
    * in one pass: tokenize, apply `prefix` through the serving
    * expression, explode adjacent pairs, count, take the ordered head.
    * This is the in-query self-verdict's oracle for a trained merge
    * list (r19 verdict #1): rank r's emitted merge must equal
    * `argmaxPairAfter(merges.take(r-1))` with count ≥ 2, or the
    * speculative trainer diverged from the sequential semantics it is
    * pinned to. Returns None on a pair-less corpus.
    */
  def argmaxPairAfter(docs: DataFrame, idCol: String, textCol: String,
                      prefix: Seq[(String, String)])
      : Option[(String, String, Long)] = {
    val toks0 = tokens(col(textCol))
    val toks = if (prefix.isEmpty) toks0
               else applyMerges(docs.sparkSession, toks0, prefix)
    docs.select(explode(adjacentPairs(toks, 1L)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }


  /** BPE phrase-merge TRAINING, default route: incrementally maintained
    * pair counts + SPECULATIVE MERGE BATCHING with exact
    * sequential-equivalence verification (r11 verdict #7). The merge
    * sequence is IDENTICAL to [[trainPhraseMergesRecount]] — same argmax
    * ordering (count desc, then (a, b) lexicographic), same count<2 stop
    * rule, same greedy left-to-right rewrite through the serving
    * expression ([[applyMerges]]) — pinned by PropertySpec's
    * trainer-equivalence property, OpsSpec's closed-form fixtures, and
    * the full-scale assert inside BpeScaleBench at 8a861d8. Why it's fast:
    *
    *  - The pair-count table is maintained by EVENT-LOCAL DELTAS emitted
    *    from inside the merge pass itself ([[graft.functions.BpeDeltasF]]
    *    — ≤5 (pair, ±1) structs per merge performed, the classic
    *    neighbor-count bookkeeping), never by re-exploding corpus pairs —
    *    so count maintenance shuffles volume proportional to MERGE WORK,
    *    not corpus size.
    *  - Up to `batch` merges are speculated per round. A batch is the top
    *    candidates in argmax order, greedily filtered to be pairwise
    *    DISJOINT on {left, right, merged-unit}: merging (a, b) → u only
    *    changes counts of pairs having a component in {a, b, u}
    *    (destroyed: (x,a),(b,y),(a,b); created: (x,u),(u,y)), so each
    *    disjoint speculative step's own count is provably unchanged by
    *    its predecessors, and the per-step deltas computed in one fused
    *    pass are exactly what the sequential trainer would have computed.
    *  - Speculation must still be VERIFIED, because a step may create a
    *    new pair (or leave some non-disjoint pair) that overtakes the
    *    next speculative pick. One tiny Spark job reconstructs the
    *    intermediate counts C_{j-1} = C_0 + Σ_{i<j} Δ_i for every step
    *    (counts-table-sized × batch, never corpus-sized) and takes each
    *    argmax; the batch is truncated to the longest prefix whose picks
    *    match the true argmax sequence, and counts advance by that prefix
    *    only. Wrong speculation costs nothing but its share of the one
    *    delta scan — never wrong output.
    *  - The corpus itself is LAZY: verified merges accumulate in a
    *    `pending` list applied as extra in-place passes inside every
    *    scan's fused expression, and the corpus is re-materialized only
    *    every ~2×batch merges (and once at the end), never per merge and
    *    never on rollback.
    *
    * Per batch: one candidates fetch, ONE corpus-scan delta pass, one
    * tiny verification job, one counts merge — the only corpus-sized
    * cost is the single scan, paid per BATCH, plus the amortized
    * materialization. At 100 TB the scan is narrow (no shuffle beyond
    * the event-delta aggregate) and the counts table is the
    * distinct-adjacent-pair vocabulary, far smaller than the corpus.
    * Returns (merge list in training order, final tokenized corpus as
    * (id, toks)).
    */
  def trainPhraseMerges(docs: DataFrame, idCol: String, textCol: String,
                        nMerges: Int, batch: Int = 8): (Seq[(String, String)], DataFrame) = {
    val (m, c, _) = trainPhraseMergesWithStats(docs, idCol, textCol, nMerges, batch)
    (m, c)
  }

  /** [[trainPhraseMerges]] plus per-batch speculation stats:
    * (picked batch size, verified prefix length) per round — the
    * speculation-efficiency evidence (BpeScaleBench at 8a861d8 prints the totals).
    */
  def trainPhraseMergesWithStats(docs: DataFrame, idCol: String, textCol: String,
                                 nMerges: Int, batch: Int = 8)
      : (Seq[(String, String)], DataFrame, Seq[(Int, Int)]) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val ss = docs.sparkSession
    // `base` is the last MATERIALIZED corpus; `pending` holds verified
    // merges not yet folded into it. The live corpus is always
    // base ⊕ pending, derived on the fly (each pending merge is one cheap
    // in-place pass inside the BpeMergesF applier) — so a batch round
    // needs only ONE corpus-sized scan (the delta pass) and the corpus is
    // re-materialized only every `materializeAt` merges, never per merge
    // and never on rollback.
    var base = docs.select(col(idCol).as("id"),
        tokens(col(textCol)).as("toks"))
      .localCheckpoint()
    var pending = Vector.empty[(String, String)]
    val materializeAt = math.max(16, 2 * batch)
    def materialize(): Unit = if (pending.nonEmpty) {
      val next = base.select(col("id"),
          applyMerges(ss, col("toks"), pending).as("toks"))
        .localCheckpoint()
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(base)
      base = next
      pending = Vector.empty
    }
    // round 0: one full pair census seeds the maintained table; every
    // later round touches only deltas
    var counts = base
      .select(explode(adjacentPairs(col("toks"), 1L)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < nMerges && !done) {
      val m = math.min(batch, nMerges - merges.size)
      val cand = counts.orderBy(col("n").desc, col("a"), col("b"))
        .limit(3 * m + 2).collect()
      if (cand.isEmpty || cand.head.getLong(2) < 2L) done = true
      else {
        // greedy disjoint speculative batch, taken in argmax order
        val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val used = scala.collection.mutable.Set.empty[String]
        cand.iterator.takeWhile(_ => picked.size < m).foreach { r =>
          if (r.getLong(2) >= 2L) {
            val a = r.getString(0); val b = r.getString(1)
            val u = a + MergeSep + b
            if (picked.isEmpty || (!used(a) && !used(b) && !used(u))) {
              picked += ((a, b)); used ++= Seq(a, b, u)
            }
          }
        }
        val bsz = picked.size
        // corpus scan (the ONE per batch): event-local per-step deltas
        // from the fused pass over base ⊕ pending ⊕ picked
        // (functions.BpeDeltasF — ≤5 structs per merge EVENT, so the
        // explode/shuffle volume tracks merge work, not corpus size);
        // pending steps' deltas are already in `counts`, so only
        // speculative steps survive, renumbered 1..bsz
        val pLen = pending.size
        val dAgg = base
          .select(explode(filter(
            graft.functions.BpeDeltasF.deltas(ss, col("toks"), pending ++ picked),
            p => p.getField("step") > lit(pLen))).as("p"))
          .groupBy((col("p.step") - lit(pLen)).as("step"),
            col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("p.dn")).as("dn"))
          .filter(col("dn") =!= 0L)
          .localCheckpoint()
        // verification: per step j >= 2, the true argmax of
        // C_{j-1} = counts + deltas(step <= j-1); counts-sized × batch
        var verified = 1
        var stopAfterPrefix = false
        if (bsz > 1) {
          val js = ss.range(2L, bsz + 1L).select(col("id").cast("int").as("j"))
          val cjBase = counts.crossJoin(js)
            .select(col("j"), col("a"), col("b"), col("n"))
          val dPref = dAgg.join(js, col("step") <= col("j") - 1)
            .groupBy("j", "a", "b").agg(sum("dn").as("d"))
          val cj = cjBase.join(dPref, Seq("j", "a", "b"), "full_outer")
            .select(col("j"), col("a"), col("b"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("nj"))
            .filter(col("nj") > 0L)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("j").orderBy(col("nj").desc, col("a"), col("b"))
          val tops = cj.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select("j", "a", "b", "nj").collect()
            .map(r => r.getInt(0) ->
              ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
          var j = 2
          var break = false
          while (j <= bsz && !break) {
            tops.get(j) match {
              case None => stopAfterPrefix = true; break = true // no pairs left
              case Some((_, _, vn)) if vn < 2L =>
                stopAfterPrefix = true; break = true // sequential stop rule
              case Some((va, vb, _)) if (va, vb) == picked(j - 1) =>
                verified = j; j += 1
              case Some(_) => break = true // speculation overtaken: truncate
            }
          }
        }
        merges ++= picked.take(verified)
        stats += ((bsz, verified))
        val dVer = dAgg.filter(col("step") <= verified)
          .groupBy("a", "b").agg(sum("dn").as("dn"))
        val nextCounts = counts.join(dVer, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
          .filter(col("n") > 0L)
          .localCheckpoint()
        org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(counts)
        org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(dAgg)
        counts = nextCounts
        // advance by the VERIFIED prefix only — no corpus job; a wrong
        // speculation tail costs nothing but its share of the delta scan
        pending = pending ++ picked.take(verified)
        if (pending.size >= materializeAt) materialize()
        if (stopAfterPrefix) done = true
      }
    }
    materialize()
    (merges.toSeq, base, stats.toSeq)
  }

  /** BPE phrase-merge TRAINING, full-recount reference twin: recounts
    * EVERY adjacent pair from the rewritten corpus each round. Kept as
    * the in-engine oracle for [[trainPhraseMerges]] (the incremental
    * trainer must produce the identical merge sequence and corpus —
    * PropertySpec pins it) and as the readable statement of the training
    * semantics. Quadratic-ish in (merges × corpus pairs) — use the
    * incremental default anywhere data-sized.
    */
  def trainPhraseMergesRecount(docs: DataFrame, idCol: String, textCol: String,
                               nMerges: Int): (Seq[(String, String)], DataFrame) = {
    var corpus = docs.select(col(idCol).as("id"),
        tokens(col(textCol)).as("toks"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val pairRows = corpus
        .select(explode(adjacentPairs(col("toks"), 1L)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairRows.isEmpty || pairRows.head.getLong(2) < 2L) done = true
      else {
        val (a, b) = (pairRows.head.getString(0), pairRows.head.getString(1))
        merges += ((a, b))
        val next = corpus.select(col("id"),
            applyMerges(docs.sparkSession, col("toks"), Seq((a, b))).as("toks"))
          .localCheckpoint()
        org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(corpus)
        corpus = next
        r += 1
      }
    }
    (merges.toSeq, corpus)
  }

  /** Rolling/chunked document fingerprint: md5 over (length | concatenated
    * per-64-char-chunk md5s) — a content-defined signature that localizes
    * edits to one chunk (rolling-hash style) while staying expressible in
    * both Spark and the SQL oracle. `textColName` must be a resolvable
    * column name (the chunk expansion is a SQL expression over it).
    */
  def docFingerprint(textColName: String, chunk: Int = 64): Column = {
    val n = s"greatest((length($textColName) + ${chunk - 1}) DIV $chunk, 1)"
    md5(concat(
      length(col(textColName)).cast("string"), lit("|"),
      expr(s"aggregate(transform(sequence(1, int($n)), " +
        s"i -> md5(substring($textColName, (i-1)*$chunk + 1, $chunk))), " +
        "'', (acc, x) -> concat(acc, x))")))
  }
}
