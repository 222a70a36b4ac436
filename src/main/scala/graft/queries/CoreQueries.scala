package graft.queries

import graft.Tables
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational query catalog — SURVEY.md §2.1-§2.8 operators, each
  * keyed per §2.11 with a DuckDB oracle in [[CoreQueries.sql]].
  *
  * Oracle-parity rules (SURVEY §2.11 / FIXTURES.md):
  *  - money/quantity aggregates go through DECIMAL(18,2) (exact, order-
  *    independent) and are cast to DOUBLE only at the end;
  *  - ratios of integers are emitted as numerator/denominator or exact
  *    double division of identical operands — never ROUND on a possibly
  *    tied decimal;
  *  - ROUND(_,4) only on transcendental outputs (tan/cos/sqrt/ln) where a
  *    4dp tie has measure ~0;
  *  - timestamps are compared/emitted as epoch-millis BIGINT;
  *  - every result is fully ORDER BY'd and every column aliased identically
  *    in Spark and SQL.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** One shutdown-hook per scratch directory this process creates (a
    * TrieMap so Bench's repeated invocations don't stack hooks).
    */
  private val reapHooks = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private[queries] def reapOnExit(dir: java.io.File): Unit =
    reapHooks.getOrElseUpdate(dir.getPath, {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(dir): Unit))
      true
    })

  /** The pid-scoped scratch-dir contract in ONE place (r13 review: the
    * idiom had been copy-pasted at three sites): one directory per
    * (process, dataset dir, purpose) — the pid keeps concurrent processes
    * sharing /tmp from fullyDelete-ing each other's half-built state, a
    * shutdown hook reaps the one dir per process (File.deleteOnExit
    * cannot remove a non-empty directory), and the caller gets it
    * pre-cleared for an in-place rebuild.
    */
  private[queries] def pidScopedDir(prefix: String, d: String): java.io.File = {
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"${prefix}_${d.hashCode.toHexString}_" + ProcessHandle.current().pid())
    reapOnExit(dir)
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
    dir
  }

  /** Exact-decimal → double via integer/fraction split:
    * double(floor(x)) + double(x − floor(x)). A direct decimal→double
    * cast stops being cross-engine deterministic once the decimal's raw
    * (unscaled) value exceeds 2^53 — DuckDB converts int128 raws through
    * double(raw)/double(scale), which double-rounds (measured 1 ulp off
    * the correctly-rounded value on adversarial fuzz), while Spark's
    * BigDecimal path rounds once. In the split, each part's raw stays
    * below 2^53 (integer part exact, fraction raw < 10^scale), so both
    * conversions are EXACT or correctly rounded identically, and the one
    * final add is correctly rounded — identical bits on both engines.
    * Valid while floor(x) < 2^53 ≈ 9.0e15 (second-moment sums reach
    * ~2.4e15 at sf0.1 — holds with margin; a corpus-scale deployment
    * would emit integer-scaled stats instead, per VERIFY_NOTES).
    */
  private def dSplit(name: String): org.apache.spark.sql.Column = {
    val c = col(name)
    floor(c).cast("double") + (c - floor(c)).cast("double")
  }

  val queries: Map[String, Q] = Map(
    // S1/S9/P1 — scan + projection; Catalyst prunes the parquet read to the
    // 4 referenced columns (the reference's PosItem.ini 28→4 mask).
    "q_scan_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          Tables.epochMs(col("l_shipdate")).as("ship_ms"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture — order by
        // every output column so row order is deterministic across engines.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "ship_ms")
    }),

    // S2 — count-prefixed scan analogue: row counts cross-checked per table.
    "q_count_scan" -> ((s, d) => {
      Tables.lineitem(s, d).agg(count(lit(1)).as("n_lineitem"))
        .crossJoin(Tables.orders(s, d).agg(count(lit(1)).as("n_orders")))
        .crossJoin(Tables.customer(s, d).agg(count(lit(1)).as("n_customer")))
    }),

    // P2/P5 — box-range predicate (MLSLD00.dat BC region semantics).
    "q_range_filter" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity").between(10, 20) &&
          col("l_discount").between(0.02, 0.04) &&
          // direct NTZ comparison (not epochMs) so the predicate pushes
          // down to the parquet scan; equals epoch_ms(ts) >= 820454400000
          col("l_shipdate") >= to_timestamp_ntz(lit("1996-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    }),

    // P3 — boundary detection: any order near the price domain edges
    // (GenerateColumnar.py:236-243 any-vertex-within-tol, as groupBy+max).
    "q_boundary_detect" -> ((s, d) => {
      Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(max(when(col("o_totalprice") < 5000 || col("o_totalprice") > 480000, 1)
          .otherwise(0)).cast("int").as("is_boundary"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")
    }),

    // DD1/F4 — exact dedup by derived key, keep lowest id.
    "q_exact_dedup" -> ((s, d) => {
      Dedup.exactDedupByKey(Tables.customer(s, d),
          floor(col("c_acctbal") / 100).cast("long"), col("c_custkey"))
        .withColumnRenamed("dedup_key", "bal_bucket")
        .orderBy("bal_bucket")
    }),

    // DD2 — epsilon-band approximate dedup via cell-binned self-join
    // (replaces BooleanOperation.py:85-95's O(n²) centroid scan).
    "q_approx_dedup" -> ((s, d) => {
      Dedup.bandPairs(Tables.customer(s, d), "c_custkey", "c_acctbal", 0.05)
        .orderBy("id_a", "id_b")
    }),

    // DD3 — exact document dedup by normalized-text hash (north star).
    "q_doc_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash")
    }),

    // J1 — FK equi-join + aggregate (shuffle join; AQE may broadcast orders).
    "q_fk_join" -> ((s, d) => {
      // aggregate-through-join (r5): collapse lineitem to one row per
      // order (exact decimal partials) BEFORE meeting orders — the join
      // carries |orders| rows instead of |lineitem|, and the final
      // re-aggregation over the 4× smaller join is decimal-exact, so the
      // oracle (the plain join) is unchanged. Same discipline as
      // q_interval_join's price pre-agg.
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("li_cnt"),
          sum(dec(col("l_extendedprice"))).as("li_rev"))
      perOrder
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("li_cnt")).as("cnt"),
          sum(col("li_rev")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // §7.1 skew path, end to end: the same fact⋈dim join routed through
    // Skew.saltedJoin — fact rows get a seeded salt, the dim replicates
    // per salt, the join key becomes (key, salt) so a hot key spreads over
    // `salts` reducers. Semantics are IDENTICAL to the plain join (every
    // fact row still meets exactly its key's dim rows), which is what the
    // shared-oracle check proves; the plan differs only in key width.
    "q_salted_join" -> ((s, d) => {
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      val dim = Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.ops.Skew.saltedJoin(fact, dim, "okey", salts = 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // J2 — self adjacency join: distinct part pairs co-occurring in an order
    // (GenerateColumnar.py:279-283 elements-sharing-a-node).
    "q_self_join_pairs" -> ((s, d) => {
      // distinct BEFORE the self-join: shrinks both join inputs and the
      // pair blow-up (same final set — output pairs are distinct anyway).
      // r20 opt (guide §2.4): repartition by the JOIN key first — hash
      // partitioning on l_orderkey satisfies the (orderkey, partkey)
      // dedup's clustering too, so ONE exchange serves both; the pin
      // stops the old plan's per-join-side re-computation of the
      // distinct (it ran twice, once per BHJ input) and the self-join
      // reads co-partitioned materialized blocks with no new exchange.
      val li = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(col("l_orderkey")).dropDuplicates()
          .localCheckpoint())
      val a = li.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("part_b"))
      a.join(b, Seq("l_orderkey"))
        .filter(col("part_a") < col("part_b"))
        .select(col("part_a"), col("part_b")).distinct()
        .orderBy("part_a", "part_b")
    }),

    // J3 — broadcast dimension join (MLSMat00.dat material lookup shape).
    "q_broadcast_join" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy("r_name", "n_name")
    }),

    // J4/P4 — anti join (BooleanOperation.py remove-intersecting semantics).
    "q_anti_join" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy("c_custkey")
    }),

    // J4 — semi join (eligible-pool membership).
    "q_semi_join" -> ((s, d) => {
      Tables.part(s, d)
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
        .orderBy("p_partkey")
    }),

    // A1/A2 — grouped aggregation (TPC-H Q1 shape; centroid/count analogue).
    "q_group_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
          sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3 — global min/max (domain-bounds checks).
    "q_minmax" -> ((s, d) => {
      Tables.lineitem(s, d).agg(
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"),
        Tables.epochMs(min(col("l_shipdate"))).as("min_ship_ms"),
        Tables.epochMs(max(col("l_shipdate"))).as("max_ship_ms"))
    }),

    // A4 — exact distinct counts (HLL approx variant lives in tests).
    "q_distinct_count" -> ((s, d) => {
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // A5 — weighted aggregate (GenerateColumnar.py:182-184 expected taper).
    "q_weighted_avg" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg((sum(dec(col("l_discount")) * dec(col("l_quantity"))).cast("double") /
          sum(dec(col("l_quantity"))).cast("double")).as("w_avg_disc"))
        .orderBy("l_returnflag")
    }),

    // A6 — histogram / bucketed aggregate (Weibull heterogeneity hook).
    "q_histogram" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .orderBy("bucket")
    }),

    // A6/F5 — the Weibull strength-heterogeneity hook, catalog-exposed
    // (r11 verdict #8): the reference ships a per-particle Weibull
    // strength input that is DORMANT in every shipped deck
    // (`Webull.dat:1` = 0; material params `SysFile.ini:21-31`). The
    // assignment itself: seeded inverse-CDF sampling
    // x = scale·(-ln(1-u))^(1/shape) with u a pure function of the
    // particle key (PostProcess.weibullStrengthKeyed — xxhash64-derived,
    // partitioning/retry-independent, unlike rand(seed)). Gate shape is
    // the integer-verdict pattern (q_quantile_sketch): per key-bucket,
    // the EXACT row count plus moment verdicts against closed-form
    // Weibull theory (mean Γ(1+1/shape)·scale; CV √(4/π−1)≈0.523 at
    // shape 2), with 4-standard-error envelopes computed IN-QUERY from
    // the bucket count — so the same contract holds from the 50-part
    // sf0.001 bucket to a 100 TB one (where the envelope tightens toward
    // zero). The sampler is deterministic, so the verdicts are
    // reproducible facts about the keyed assignment, not a flaky draw
    // (tools/WeibullMoments at 8a861d8 prints the calibration: worst observed
    // deviation across sf0.001/0.01/0.1 is ~1.6σ). Pure codegen
    // projection + one hash agg — zero extra shuffle.
    "q_weibull_strength" -> ((s, d) => {
      val shape = 2.0; val scale = 10.0
      val mu = scale * math.sqrt(math.Pi) / 2.0 // Γ(1+1/2)·scale
      val cvT = math.sqrt(4.0 / math.Pi - 1.0)
      val st = graft.pipeline.PostProcess.weibullStrengthKeyed(
        col("p_partkey"), shape, scale, seed = 7L)
      val n = col("n_parts").cast("double")
      // se(mean) = sd/√n ≈ cvT·μ/√n; se(cv) ≈ cvT·√(1/(2n) + cvT²/n)
      val meanTol = lit(4.0 * cvT * mu) / sqrt(n)
      val cvTol = lit(4.0 * cvT) * sqrt(lit(0.5) / n + lit(cvT * cvT) / n)
      Tables.part(s, d)
        .select(pmod(col("p_partkey"), lit(4)).cast("long").as("bucket"),
          st.as("strength"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_parts"),
          avg("strength").as("m"),
          stddev_samp("strength").as("sd"),
          min("strength").as("mn"))
        .select(col("bucket"), col("n_parts"),
          when(abs(col("m") - mu) <= meanTol, 1).otherwise(0).as("mean_ok"),
          when(abs(col("sd") / col("m") - cvT) <= cvTol, 1).otherwise(0)
            .as("cv_ok"),
          when(col("mn") > 0.0, 1).otherwise(0).as("min_pos"))
        .orderBy("bucket")
    }),

    // A7 — rollup hierarchy totals (region → nation).
    "q_rollup" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_cust"), col("sum_bal"))
        .orderBy("region", "nation")
    }),

    // A6+ — exact percentiles (distributional view of values; pairs with
    // q_histogram for the Weibull-hook row).
    "q_percentile" -> ((s, d) => {
      // sort-based exact percentiles (ops.Quantiles): bit-identical to the
      // percentile() aggregate (QuantilesSpec) but with no per-group value
      // buffering — the form that survives 100 TB group sizes
      val li = Tables.lineitem(s, d)
      val price = graft.ops.Quantiles.exactPercentiles(
        li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
      val qty = graft.ops.Quantiles.exactPercentiles(
        li, "l_returnflag", "l_quantity", Seq(0.5))
      price.join(qty.withColumnRenamed("p0", "q0"), "g")
        .select(col("g").as("l_returnflag"),
          round(col("p0"), 4).as("p50"), round(col("p1"), 4).as("p90"),
          round(col("q0"), 4).as("p50_qty"))
        .orderBy("l_returnflag")
    }),

    // A6+ — mergeable KLL quantile sketch (the §2.10 reserved
    // TypedImperativeAggregate), gate-shaped: sketch l_extendedprice once
    // (bounded state per group: O(k·log(n/k)) doubles at any n), read
    // seven quantiles, then verify each against its EXACT rank in one
    // second pass — the output is the integer verdict (within the 2%
    // deterministic-ladder envelope; actual error ~0.3%), so the oracle
    // needs no sketch, only the row count. A regression in sketch error
    // flips within_2pct to 0 and hash-fails the gate.
    "q_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("v"))
      val bytes = li.agg(graft.functions.KllF.sketchAgg(s, col("v"))
        .as("sk")).head().getAs[Array[Byte]]("sk")
      val sk = graft.functions.KllState.deserialize(bytes)
      val ps = Seq(1, 5, 25, 50, 75, 95, 99)
      val est = ps.map(p => p -> sk.quantile(p / 100.0)).toMap
      // one pass for all seven exact ranks (conditional sums), plus the
      // exact total — never a per-quantile scan
      // under ties the rank of the estimate is an INTERVAL
      // [count(< est), count(<= est)] — the KLL guarantee is that SOME
      // rank of the returned value lies within ±2% of the target, so the
      // verdict is interval-intersection, not point distance (a
      // constant-valued column — the degenerate-fuzz pack — makes
      // count(<= est) = n for every quantile, which the old point check
      // wrongly flagged)
      val rankAggs = ps.flatMap(p => Seq(
        sum(when(col("v") <= est(p), 1L).otherwise(0L)).as(s"rhi$p"),
        sum(when(col("v") < est(p), 1L).otherwise(0L)).as(s"rlo$p")))
      val row = li.agg(count(lit(1)).as("n"), rankAggs: _*).head()
      val n = row.getAs[Long]("n").toDouble
      ps.map { p =>
        val rhi = row.getAs[Long](s"rhi$p").toDouble
        val rlo = row.getAs[Long](s"rlo$p").toDouble
        val ok = !(rhi / n < p / 100.0 - 0.02 || rlo / n > p / 100.0 + 0.02)
        (p, row.getAs[Long]("n"), if (ok) 1 else 0)
      }.toDF("q_pct", "n_rows", "within_2pct").orderBy("q_pct")
    }),

    // A6++ — grouped percentiles served from a MAINTAINED summary: three
    // incremental Sketches.maintain folds (through disk, staged-swap
    // protocol) build a per-returnflag summary, then p50/p90/p99 are
    // answered from the stored value_kll bytes (KllQuantilesF →
    // KllState.quantilesFromBytes) WITHOUT rescanning facts — the
    // maintain-then-query path end-to-end. Gate shape mirrors
    // q_quantile_sketch: each served quantile is checked against its
    // exact rank (one conditional-sum pass over facts, done here only to
    // produce the verdict), and the integer verdict is the output, so the
    // oracle needs no sketch — only exact group counts and the contract
    // that every estimate sits within the 2% rank envelope (deterministic
    // KLL ladder, k=256, merge-safe — KllSketchSpec pins the merge-error
    // bound that licenses asserting 1 here).
    "q_summary_percentiles" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"),
        col("l_orderkey"))
      // one store per (PROCESS, dataset dir): Bench re-invokes this
      // function per timing iteration, and a fresh temp dir per call
      // would leak orphaned stores under /tmp — reuse the path and
      // rebuild in place (maintain's staged swap makes the rebuild
      // crash-safe). The pid in the path keeps concurrent processes
      // sharing /tmp from fullyDelete-ing each other's half-built store
      // (r12 review); a shutdown hook reaps the one dir per process
      // (File.deleteOnExit cannot remove a non-empty directory).
      val parent = pidScopedDir("graft_summary_pct", d)
      val path = new java.io.File(parent, "summary").toString
      (0 until 3).foreach { i =>
        graft.ops.Sketches.maintain(s, path,
          li.filter(pmod(col("l_orderkey"), lit(3)) === i),
          Seq("g"), "v", "l_orderkey", kllK = Some(256))
      }
      // read the bytes BACK from the maintained store — the serve path a
      // dashboard takes; one multi-quantile decode per summary row (the
      // lambda-CSE rule), unpacked into (g, q_pct, est) rows
      val served = s.read.parquet(path).select(col("g"),
        graft.functions.KllF.quantiles(s, col("value_kll"),
          Seq(0.5, 0.9, 0.99)).as("__qs"))
      val est = Seq((50, 1), (90, 2), (99, 3)).map { case (p, i) =>
        served.select(col("g"), lit(p).as("q_pct"),
          element_at(col("__qs"), i).as("est"))
      }.reduce(_ unionByName _)
      // tie-aware rank-interval verdict — same rule as q_quantile_sketch
      // (the rank of est under ties is [count(<), count(<=)]; the
      // envelope holds if that interval intersects target ± 2%)
      li.join(broadcast(est), "g")
        .groupBy(col("g"), col("q_pct"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("__rhi"),
          sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("__rlo"))
        .select(col("g").as("l_returnflag"),
          col("q_pct").cast("int").as("q_pct"), col("n_rows"),
          when(col("__rhi").cast("double") / col("n_rows")
              < col("q_pct").cast("double") / 100.0 - 0.02 ||
            col("__rlo").cast("double") / col("n_rows")
              > col("q_pct").cast("double") / 100.0 + 0.02, 0)
            .otherwise(1).cast("int").as("within_2pct"))
        .orderBy("l_returnflag", "q_pct")
    }),

    // A5+ — statistical aggregates (variance / stddev / correlation), the
    // moments family an analytics engine owes its users. Built-in
    // stddev/corr are Welford-style merges whose accumulation ORDER is
    // engine- and partitioning-dependent — rounding their output is the
    // audit's forbidden class. Engine-proof construction instead (class
    // A, VERIFY_NOTES.md): all five moment sums are EXACT DECIMAL
    // aggregates (order-independent, cent-exact inputs so products are
    // 4dp-exact), and the variance/correlation derivations are the
    // IDENTICAL IEEE expression tree on both engines over those exact
    // sums — decimal→double casts are correctly rounded, so every
    // operand and every op is bit-identical. Full doubles out, no ROUND.
    "q_stats_agg" -> ((s, d) => {
      val q = dec(col("l_quantity"))
      val p = dec(col("l_extendedprice"))
      val nD = col("n").cast("double")
      def d2(c: String) = col(c).cast("double")
      // second-moment sums convert via the exact integer/fraction split
      // (dSplit): their raw decimal exceeds 2^53 where DuckDB's
      // int128→double is double-rounded (adversarial fuzz seed 7 measured
      // a 1-ulp divergence on SUM(p*p) raw ≈ 3.7e16) — the split keeps
      // every conversion exact and the add correctly rounded on BOTH
      // engines. First moments stay direct casts (raw < 2^53).
      // n = 1 groups zero the variance denominator and CONSTANT columns
      // zero the correlation denominator (the degenerate-fuzz pack):
      // NULL on both engines instead of an ANSI divide-by-zero crash —
      // guards sit on the exact doubles the divisions use, and CaseWhen
      // short-circuits so the guarded branch never evaluates
      val varDen = nD * (col("n") - 1).cast("double")
      val varQ = when(varDen === 0, lit(null)).otherwise(
        (nD * dSplit("sqq") - d2("sq") * d2("sq")) / varDen)
      val varP = when(varDen === 0, lit(null)).otherwise(
        (nD * dSplit("spp") - d2("sp") * d2("sp")) / varDen)
      val corrDen = sqrt(nD * dSplit("sqq") - d2("sq") * d2("sq")) *
        sqrt(nD * dSplit("spp") - d2("sp") * d2("sp"))
      val corrQP = when(corrDen === 0, lit(null)).otherwise(
        (nD * dSplit("sqp") - d2("sq") * d2("sp")) / corrDen)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("sq"), sum(p).as("sp"),
          sum(q * q).as("sqq"), sum(p * p).as("spp"), sum(q * p).as("sqp"))
        .select(col("l_returnflag"), col("n"),
          varQ.as("var_qty"), sqrt(varQ).as("stddev_qty"),
          varP.as("var_price"), corrQP.as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // A5++ — linear-regression aggregates (slope / intercept / R²),
    // completing the moments family: same class-A construction as
    // q_stats_agg (exact decimal sums, identical IEEE tree on both
    // engines, full doubles, no ROUND). price regressed on quantity per
    // returnflag; R² as the squared covariance ratio so every term
    // derives from the same five exact sums.
    "q_regression" -> ((s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val nD = col("n").cast("double")
      def d2(c: String) = col(c).cast("double")
      // second moments via dSplit — same 2^53 conversion argument as
      // q_stats_agg
      val cov = nD * dSplit("sxy") - d2("sx") * d2("sy")
      val vx = nD * dSplit("sxx") - d2("sx") * d2("sx")
      val vy = nD * dSplit("syy") - d2("sy") * d2("sy")
      // zero-variance x (a CONSTANT regressor — every row equal, the
      // degenerate-fuzz pack) makes every ratio 0/0: emit NULL on both
      // engines instead of an ANSI divide-by-zero crash; the guard is on
      // the EXACT double the division uses, and CaseWhen short-circuits
      // so the guarded branch never evaluates
      val slope = when(vx === 0, lit(null)).otherwise(cov / vx)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          slope.as("slope"),
          ((d2("sy") - slope * d2("sx")) / nD).as("intercept"),
          when(vx === 0 || vy === 0, lit(null))
            .otherwise((cov * cov) / (vx * vy)).as("r2"))
        .orderBy("l_returnflag")
    }),

    // A7+ — full cube over the region/nation hierarchy.
    "q_cube" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_cust"), col("sum_bal"))
        .orderBy("region", "segment")
    }),

    // A8 — measured-series extraction (MeasurePar.dat point filter +
    // MLSOut00E.dat series; sorted projection instead of pivot).
    "q_measure_series" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("user_id").isin(3, 7))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"), col("value"))
        .orderBy("user_id", "ts_ms", "event_id")
    }),

    // W1 — cyclic lead: next vertex with wraparound
    // (GenerateColumnar.py:318-325 facet winding).
    "q_lead_next" -> ((s, d) => {
      // (l_orderkey, l_linenumber) is not unique, so the window sort carries
      // tiebreak columns; remaining ties share l_partkey, which keeps the
      // lead/first outputs multiset-deterministic.
      val w = Window.partitionBy("l_orderkey").orderBy(
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_quantity"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          coalesce(lead(col("l_partkey"), 1).over(w),
            first(col("l_partkey")).over(w)).as("next_part"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "next_part")
    }),

    // W2 — running accumulation (displacement = ∫v dt; exact via DECIMAL).
    "q_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          sum(dec(col("value"))).over(w).cast("double").as("run_val"))
        .orderBy("user_id", "event_id")
    }),

    // W3 — lag delta between consecutive snapshots of the same entity.
    "q_lag_delta" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy("user_id", "event_id")
    }),

    // W4 — top-k per group (bounded greedy selection analogue).
    "q_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // W4 scale path — the SAME top-3-per-customer result as
    // q_topk_per_group, computed by the bounded map-side TopKPerGroupAgg
    // instead of a rank window. The window variant shuffles and SORTS
    // every order row per customer; this plan's exchange carries at most
    // k rows per (customer, partition) and contains no Window at all
    // (PlanAuditSpec pins the shape — the q_salted_join precedent:
    // proving the scale route semantics-preserving IS the check, so the
    // oracle is the window formulation's SQL verbatim).
    "q_topk_agg" -> ((s, d) => {
      val agg = udaf(new graft.functions.TopKPerGroupAgg(3))
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(agg(col("o_totalprice"), col("o_orderkey")).as("topk"))
        .select(col("o_custkey"), explode(col("topk")).as("t"))
        .select(col("o_custkey"), col("t._2").as("o_orderkey"),
          col("t._1").as("o_totalprice"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // J4 scale path — bloom-prefiltered semi-join: urgent-order revenue
    // over lineitem, with the fact scan pre-filtered by a broadcast
    // bloom of the (filtered) dim keys BEFORE the shuffle. False
    // positives pass the bloom and die in the exact semi-join, so the
    // composition is exactly the plain semi-join (the oracle); what
    // changes is the exchange: ~selectivity x facts rows instead of all
    // facts — the standard 100 TB fact-scan pruning shape Spark's
    // runtime-filter rule injects when it can, here explicit.
    "q_bloom_semi_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val pre = graft.ops.Bloom.prefilter(Tables.lineitem(s, d),
        col("l_orderkey"), urgent, expectedNdv = 64L * 1024)
      pre.join(urgent, pre("l_orderkey") === urgent("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("l_returnflag")
    }),

    // W5 — global sort + limit (TakeOrderedAndProject; no full sort at scale).
    "q_sort_limit" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // SO1 — except (layer-2 pool exclusion, GenerateColumnar.py:285-289).
    "q_except" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }),

    // SO2 — union all (mirror augmentation, GenerateColumnar.py:80-86).
    "q_union_all" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"), lit("cust").as("src"))
        .unionAll(Tables.supplier(s, d)
          .select(col("s_suppkey").as("id"), col("s_acctbal").as("bal"), lit("supp").as("src")))
        .orderBy("src", "id")
    }),

    // SO3 — intersect (shared-node adjacency test).
    "q_intersect" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }),

    // J5b — point-in-interval join (the reference's BC range application:
    // which particles fall in each MLSLD00 box range). Intervals derived
    // from part sizes (width 4); the Spark side bins quantities into
    // width-4 cells and probes ±1 cells — an equi-join, not a nested loop
    // — then keeps the BETWEEN residual. Oracle uses the naive BETWEEN.
    "q_interval_join" -> ((s, d) => {
      // price domain: intervals of width 10 over a ~1e5-wide domain, so
      // the cell grid is genuinely selective (a quantity-domain version
      // would match ~10% of the cross product by construction).
      //
      // Scale shape (r5): aggregate lineitem BY PRICE VALUE before the
      // interval join — matches then multiply by the pre-agg counts. The
      // distinct-price domain SATURATES as SF grows (583k values at both
      // sf0.1 and sf1 — prices are a bounded domain, rows are not), so
      // the join input and the match cardinality stop growing with corpus
      // size: the former output-driven quadratic becomes
      // O(distinct_prices × interval_density). Decimal partial sums keep
      // the re-aggregation exact, so the oracle is unchanged.
      val cell = 10
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_extendedprice"))
        .agg(count(lit(1)).as("price_cnt"),
          sum(dec(col("l_extendedprice"))).as("price_sum"))
        .withColumn("qcell", floor(col("l_extendedprice") / cell).cast("long"))
      val parts = Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_retailprice") - 5).as("lo"), (col("p_retailprice") + 5).as("hi"),
          floor(col("p_retailprice") / cell).cast("long").as("homecell"))
        .withColumn("pcell", explode(array(
          col("homecell") - 1, col("homecell"), col("homecell") + 1)))
      li.join(broadcast(parts),
          col("qcell") === col("pcell") &&
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") <= col("hi"))
        .groupBy(col("p_partkey"))
        .agg(sum(col("price_cnt")).as("n_in_range"),
          sum(col("price_sum")).cast("double").as("sum_price"))
        .orderBy("p_partkey")
    }),

    // Composed flagship 1 (TPC-H Q3 shape): segment's unshipped-order
    // revenue — 3-way join, predicate pushdown on both fact filters,
    // grouped decimal agg, top-10.
    "q_flagship_revenue" -> ((s, d) => {
      val cutoff = 825638400000L // 1996-03-01 UTC epoch ms
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(Tables.epochMs(col("o_orderdate")) < cutoff)
      val l = Tables.lineitem(s, d).filter(Tables.epochMs(col("l_shipdate")) >= cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), Tables.epochMs(col("o_orderdate")).as("order_ms"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Composed flagship 2 (TPC-H Q5 shape): local-supplier revenue by
    // nation — 6-way join including the supplier-nation = customer-nation
    // colocation condition.
    "q_flagship_nation_rev" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Composed flagship 3 (TPC-H Q10 shape): top returned-revenue
    // customers.
    "q_flagship_returns" -> ((s, d) => {
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("lost_revenue"), count(lit(1)).as("n_returns"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // F1/F2/P6 — scalar math: clamp + tan(radians) taper
    // (GenerateColumnar.py:187,199) and L2 norm (BooleanOperation.py:90).
    "q_scalar_math" -> ((s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(tan(radians(least(greatest(col("l_quantity"), lit(0.01)), lit(15.0)))), 4)
          .as("taper"),
        round(sqrt(col("l_discount") * col("l_discount") + col("l_tax") * col("l_tax")), 4)
          .as("l2"),
        round(exp(-col("l_discount")) * log(lit(1) + col("l_quantity")), 4).as("decay"))
        .orderBy("l_orderkey", "l_linenumber", "taper", "l2", "decay")
    }),

    // F3 — affine transforms: scale-about-centroid (exact) + rotation
    // (GenerateColumnar.py:212-218; BooleanOperation.py:199-210).
    "q_affine" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val avgDf = c.agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
        .as("avg_bal"))
      c.crossJoin(broadcast(avgDf)).select(
        col("c_custkey"), col("avg_bal"),
        (col("avg_bal") + (col("c_acctbal") - col("avg_bal")) * 0.5).as("scaled"),
        round(col("c_acctbal") * cos(lit(0.3)) - col("c_custkey") * sin(lit(0.3)), 4).as("rx"),
        round(col("c_acctbal") * sin(lit(0.3)) + col("c_custkey") * cos(lit(0.3)), 4).as("ry"))
        .orderBy("c_custkey")
    }),

    // F6 — string split/format (%06d-style padding, BooleanOperation.py:51).
    "q_string_ops" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brandtype"),
        length(col("p_name")).as("name_len"),
        size(split(col("p_name"), " ", -1)).as("n_words"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"))
        .orderBy("p_partkey")
    }),

    // F7 — JSON extraction from the events.props payload column.
    "q_json_extract" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    }),

    // F8 — array ops over the embedding column (ragged vertex-list analogue).
    "q_array_ops" -> ((s, d) => {
      import graft.ops.Similarity.l2Norm
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_elem"),
        round(l2Norm(col("embedding")), 4).as("l2_norm"),
        round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
          (acc, x) => acc + x.cast("double")), 4).as("head_sum"))
        .orderBy("vec_id")
    }),

    // F-extra — timestamp part extraction (the reference's step->time
    // column math, generalized to calendar parts).
    "q_date_parts" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("ship_year", "ship_month")
    }),

    // F-extra — edit distance between consecutive part names (string
    // similarity surface; both engines implement classic Levenshtein).
    "q_levenshtein" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      val q = p.select(col("p_partkey").as("pk_b"), col("p_name").as("name_b"))
      p.join(q, col("pk_b") === col("p_partkey") + 1)
        .select(col("p_partkey"), levenshtein(col("p_name"), col("name_b")).as("edit_dist"))
        .orderBy("p_partkey")
    }),

    // W-extra — RANGE frame: per user, events within the trailing 30
    // minutes (value-range window, not row counts).
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
        .rangeBetween(-1800000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_trailing_30m"),
          sum(dec(col("value"))).over(w).cast("double").as("sum_trailing_30m"))
        .orderBy("user_id", "event_id")
    }),

    // W-extra — navigation functions over ordered groups.
    "q_first_last" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // A-extra — conditional aggregation (engine bound-check counters).
    "q_conditional_agg" -> ((s, d) => {
      Tables.orders(s, d).groupBy(col("o_orderstatus"))
        .agg(
          sum(when(col("o_totalprice") > 250000, 1).otherwise(0)).as("n_big"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("n_urgent"),
          max(when(col("o_totalprice") > 250000, col("o_totalprice"))).as("max_big"))
        .orderBy("o_orderstatus")
    }),

    // A-extra — deterministic ordered string aggregation per group.
    "q_string_agg" -> ((s, d) => {
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy("n_regionkey")
    }),

    // G3 — graph degree over the order→part bipartite edge table
    // (MLSBond.dat bond-graph analogue).
    "q_edge_degree" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy(col("l_partkey").as("node_id"))
        .agg(countDistinct(col("l_orderkey")).as("degree"), count(lit(1)).as("n_edges"))
        .orderBy("node_id")
    }),

    // G3+ — exact triangle count over the same-order part co-occurrence
    // graph, via Graph.triangleCount's degree-ordered orientation: each
    // edge directs low→high (degree, id) rank, bounding every out-degree
    // by O(√m) so the wedge join never squares a celebrity node, and
    // rank-ordered wedge spokes make the closing-edge probe one
    // EQUI-join. The catalog key runs the deterministic 1-in-5 part
    // subgraph (14,817 triangles at sf0.1, 0.4 s): the FULL co-occurrence
    // graph is per-order-clique dense (avg degree ~110 at sf0.1), so its
    // wedge count — the information-theoretic lower bound of exact
    // triangle work — is intrinsically ~100× the subgraph's (24 s,
    // recorded in SCALE.md as the heavy-path soak; same operator, same
    // plan). The oracle counts the same triangles with the simple a<b<c
    // three-way join — identical count, a shape DuckDB can afford at
    // gate scale.
    "q_triangle_count" -> ((s, d) => {
      // r20 opt: same one-exchange dedup + co-partitioned self-join as
      // q_self_join_pairs, and the edge set is PINNED — triangleCount
      // references edges three ways, and the unpinned lineage re-derived
      // the scan+dedup+join per reference (74 static Exchanges before).
      val li = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(Tables.lineitem(s, d)
          .filter(pmod(col("l_partkey"), lit(5)) === 0)
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(col("l_orderkey")).dropDuplicates()
          .localCheckpoint())
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
      val edges = org.apache.spark.sql.graftbridge.Bridge
        .dropCheckpointConstraints(a.join(b, Seq("l_orderkey"))
          .filter(col("src") < col("dst"))
          .select(col("src"), col("dst")).distinct()
          .localCheckpoint())
      graft.ops.Graph.triangleCount(edges)
    }),

    // A7+ — grouping-set bitmask exposure (rollup family: which grouping
    // produced each row, the engine's per-level output tagging).
    "q_grouping_id" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n_cust"))
        .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("gid"), col("n_cust"))
        .orderBy("nation", "segment", "gid")
    }),

    // W-extra — QUALIFY-shaped filter on a window aggregate: orders above
    // their customer's average (decimal-exact sum / count, so the window
    // average is order-independent).
    "q_qualify" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
      Tables.orders(s, d)
        .withColumn("avg_raw",
          sum(dec(col("o_totalprice"))).over(w).cast("double") /
            count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("avg_raw"))
        // no rounding: the decimal-sum-over-double division is bit-identical
        // across engines, but ROUND(x, 4) half-up straddles knife edges
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("avg_raw").as("avg_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // W-extra — windowed running distinct count (cumulative set size per
    // user; collect_set is the Spark rendering of COUNT(DISTINCT) OVER).
    "q_windowed_distinct" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          size(collect_set(col("event_type")).over(w)).cast("long").as("n_types_so_far"))
        .orderBy("user_id", "event_id")
    }),

    // J-extra — correlated LATERAL subquery: per-nation aggregates inline
    // (Catalyst decorrelates to a left outer aggregate join).
    "q_lateral_join" -> ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT n_nationkey, n_name, t.top_bal, t.n_cust
          |FROM nation_v, LATERAL (
          |  SELECT MAX(c_acctbal) AS top_bal, COUNT(*) AS n_cust
          |  FROM customer_v WHERE c_nationkey = n_nationkey) t
          |ORDER BY n_nationkey""".stripMargin)
    })
  )

  /** DuckDB oracle SQL — the driver runs these on views named after the
    * parquet tables. Column aliases and ORDER BY must match the Spark side
    * exactly (the compare sorts columns by name before hashing).
    */
  val sql: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(epoch_ms(l_shipdate) AS BIGINT) AS ship_ms FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, ship_ms""",
    "q_count_scan" ->
      """SELECT (SELECT COUNT(*) FROM lineitem) AS n_lineitem, (SELECT COUNT(*) FROM orders) AS n_orders, (SELECT COUNT(*) FROM customer) AS n_customer""",
    "q_range_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_discount BETWEEN 0.02 AND 0.04 AND epoch_ms(l_shipdate) >= 820454400000 ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""",
    "q_boundary_detect" ->
      """SELECT o_custkey, CAST(MAX(CASE WHEN o_totalprice < 5000 OR o_totalprice > 480000 THEN 1 ELSE 0 END) AS INTEGER) AS is_boundary, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_exact_dedup" ->
      """SELECT CAST(FLOOR(c_acctbal/100) AS BIGINT) AS bal_bucket, MIN(c_custkey) AS keep_id, COUNT(*) AS dup_cnt FROM customer GROUP BY 1 ORDER BY 1""",
    "q_approx_dedup" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND ABS(a.c_acctbal - b.c_acctbal) < 0.05 ORDER BY 1, 2""",
    "q_doc_dedup" ->
      """SELECT md5(lower(trim(text))) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY 1 ORDER BY 1""",
    "q_fk_join" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1""",
    // deliberately the PLAIN join: proving the salted route is semantics-
    // preserving IS the check
    "q_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1""",
    "q_self_join_pairs" ->
      """SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey ORDER BY 1, 2""",
    "q_broadcast_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY 1""",
    "q_semi_join" ->
      """SELECT p_partkey, p_brand FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey) ORDER BY 1""",
    "q_group_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_minmax" ->
      """SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price, CAST(epoch_ms(MIN(l_shipdate)) AS BIGINT) AS min_ship_ms, CAST(epoch_ms(MAX(l_shipdate)) AS BIGINT) AS max_ship_ms FROM lineitem""",
    "q_distinct_count" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem""",
    "q_weighted_avg" ->
      """SELECT l_returnflag, CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w_avg_disc FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice/50000) AS BIGINT) AS bucket, COUNT(*) AS cnt, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders GROUP BY 1 ORDER BY 1""",
    // the seeded sampler cannot run in SQL; the CONTRACT can — exact
    // bucket counts, and every moment verdict must be 1 (Spark computes
    // the verdicts against closed-form Weibull theory; a sampler
    // regression flips them)
    "q_weibull_strength" ->
      ("""SELECT CAST(p_partkey % 4 AS BIGINT) AS bucket, COUNT(*) AS n_parts, """ +
        """CAST(1 AS INT) AS mean_ok, CAST(1 AS INT) AS cv_ok, CAST(1 AS INT) AS min_pos """ +
        """FROM part GROUP BY 1 ORDER BY 1"""),
    "q_rollup" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation, COUNT(*) AS n_cust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""",
    "q_percentile" ->
      """SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50, ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90, ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty FROM lineitem GROUP BY 1 ORDER BY 1""",
    // the sketch cannot run in SQL; the CONTRACT can: n_rows is exact and
    // within_2pct must be 1 at every probed quantile (Spark computes the
    // verdict against exact ranks; a sketch-error regression flips it)
    "q_quantile_sketch" ->
      ("""SELECT CAST(t.q_pct AS INT) AS q_pct, (SELECT COUNT(*) FROM lineitem) AS n_rows, CAST(1 AS INT) AS within_2pct """ +
        """FROM (VALUES (1), (5), (25), (50), (75), (95), (99)) t(q_pct) ORDER BY q_pct"""),
    // like q_quantile_sketch: the maintained sketch cannot run in SQL, the
    // CONTRACT can — exact per-group counts, and within_2pct must be 1 at
    // every (group, quantile); a maintain/merge/serve regression flips it
    "q_summary_percentiles" ->
      ("""SELECT l_returnflag, CAST(t.q_pct AS INT) AS q_pct, COUNT(*) AS n_rows, CAST(1 AS INT) AS within_2pct """ +
        """FROM lineitem CROSS JOIN (VALUES (50), (90), (99)) t(q_pct) """ +
        """GROUP BY l_returnflag, t.q_pct ORDER BY l_returnflag, q_pct"""),
    "q_cube" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(c_mktsegment, 'ALL') AS segment, COUNT(*) AS n_cust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY CUBE(r_name, c_mktsegment) ORDER BY 1, 2""",
    "q_measure_series" ->
      """SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type, value FROM events WHERE user_id IN (3, 7) ORDER BY user_id, ts_ms, event_id""",
    "q_lead_next" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, COALESCE(LEAD(l_partkey) OVER w, FIRST_VALUE(l_partkey) OVER w) AS next_part FROM lineitem WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_quantity) ORDER BY l_orderkey, l_linenumber, l_partkey, next_part""",
    "q_running_sum" ->
      """SELECT user_id, event_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_val FROM events ORDER BY user_id, event_id""",
    "q_lag_delta" ->
      """SELECT user_id, event_id, value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta FROM events ORDER BY user_id, event_id""",
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    // moments from exact decimal sums; the derivation is the IDENTICAL
    // IEEE expression tree as the Spark side — bit-equal, so no ROUND
    "q_stats_agg" ->
      ("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, """ +
        """SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq, """ +
        """SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp """ +
        """FROM lineitem GROUP BY l_returnflag), """ +
        // second moments to double via the exact integer/fraction split
        // (see the Spark twin's dSplit: a direct CAST double-rounds in
        // DuckDB once the raw decimal exceeds 2^53)
        """dd AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, CAST(n - 1 AS DOUBLE) AS n1d, """ +
        """CAST(sq AS DOUBLE) AS sqd, CAST(sp AS DOUBLE) AS spd, """ +
        """CAST(FLOOR(sqq) AS DOUBLE) + CAST(sqq - FLOOR(sqq) AS DOUBLE) AS sqqd, """ +
        """CAST(FLOOR(spp) AS DOUBLE) + CAST(spp - FLOOR(spp) AS DOUBLE) AS sppd, """ +
        """CAST(FLOOR(sqp) AS DOUBLE) + CAST(sqp - FLOOR(sqp) AS DOUBLE) AS sqpd """ +
        """FROM m) """ +
        // NULL guards mirror the Spark twin: n = 1 zeroes the variance
        // denominator, constant columns zero the correlation denominator
        """SELECT l_returnflag, n, """ +
        """CASE WHEN nd * n1d = 0 THEN NULL ELSE (nd * sqqd - sqd * sqd) / (nd * n1d) END AS var_qty, """ +
        """CASE WHEN nd * n1d = 0 THEN NULL ELSE sqrt((nd * sqqd - sqd * sqd) / (nd * n1d)) END AS stddev_qty, """ +
        """CASE WHEN nd * n1d = 0 THEN NULL ELSE (nd * sppd - spd * spd) / (nd * n1d) END AS var_price, """ +
        """CASE WHEN sqrt(nd * sqqd - sqd * sqd) * sqrt(nd * sppd - spd * spd) = 0 THEN NULL ELSE """ +
        """(nd * sqpd - sqd * spd) / (sqrt(nd * sqqd - sqd * sqd) * sqrt(nd * sppd - spd * spd)) END AS corr_qty_price """ +
        """FROM dd ORDER BY l_returnflag"""),
    // same exact-sums class-A tree as q_stats_agg; slope/intercept/R2
    "q_regression" ->
      ("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx, """ +
        """SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx, """ +
        """SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy, """ +
        """SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy """ +
        """FROM lineitem GROUP BY l_returnflag), """ +
        // same split-conversion CTE as q_stats_agg
        """dd AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, """ +
        """CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, """ +
        """CAST(FLOOR(sxx) AS DOUBLE) + CAST(sxx - FLOOR(sxx) AS DOUBLE) AS sxxd, """ +
        """CAST(FLOOR(syy) AS DOUBLE) + CAST(syy - FLOOR(syy) AS DOUBLE) AS syyd, """ +
        """CAST(FLOOR(sxy) AS DOUBLE) + CAST(sxy - FLOOR(sxy) AS DOUBLE) AS sxyd """ +
        """FROM m) """ +
        // NULL guards mirror the Spark twin: constant x zeroes vx,
        // constant y zeroes vy (degenerate-fuzz pack)
        """SELECT l_returnflag, n, """ +
        """CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL ELSE (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope, """ +
        """CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL ELSE (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd END AS intercept, """ +
        """CASE WHEN (nd * sxxd - sxd * sxd) = 0 OR (nd * syyd - syd * syd) = 0 THEN NULL ELSE """ +
        """((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) END AS r2 """ +
        """FROM dd ORDER BY l_returnflag"""),
    // the aggregator route must reproduce the window formulation verbatim
    "q_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    // the bloom prefilter is transparent: the oracle is the plain semi-join
    "q_bloom_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS cnt, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') GROUP BY 1 ORDER BY 1""",
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier ORDER BY 1""",
    "q_union_all" ->
      """SELECT c_custkey AS id, c_acctbal AS bal, 'cust' AS src FROM customer UNION ALL SELECT s_suppkey AS id, s_acctbal AS bal, 'supp' AS src FROM supplier ORDER BY src, id""",
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey AS nationkey FROM supplier ORDER BY 1""",
    "q_interval_join" ->
      """SELECT p_partkey, COUNT(*) AS n_in_range, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM part JOIN lineitem ON l_extendedprice BETWEEN p_retailprice - 5 AND p_retailprice + 5 GROUP BY 1 ORDER BY 1""",
    "q_flagship_revenue" ->
      """SELECT l_orderkey, CAST(epoch_ms(o_orderdate) AS BIGINT) AS order_ms, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND epoch_ms(o_orderdate) < 825638400000 AND epoch_ms(l_shipdate) >= 825638400000 GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_flagship_nation_rev" ->
      """SELECT r_name, n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_flagship_returns" ->
      """SELECT c_custkey, c_name, n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue, COUNT(*) AS n_returns FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' GROUP BY 1, 2, 3 ORDER BY lost_revenue DESC, c_custkey LIMIT 20""",
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber, ROUND(TAN(RADIANS(LEAST(GREATEST(l_quantity, 0.01), 15.0))), 4) AS taper, ROUND(SQRT(l_discount*l_discount + l_tax*l_tax), 4) AS l2, ROUND(EXP(-l_discount) * LN(1 + l_quantity), 4) AS decay FROM lineitem ORDER BY l_orderkey, l_linenumber, taper, l2, decay""",
    "q_affine" ->
      """SELECT c_custkey, a.avg_bal AS avg_bal, a.avg_bal + (c_acctbal - a.avg_bal) * 0.5 AS scaled, ROUND(c_acctbal * COS(0.3) - c_custkey * SIN(0.3), 4) AS rx, ROUND(c_acctbal * SIN(0.3) + c_custkey * COS(0.3), 4) AS ry FROM customer, (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal FROM customer) a ORDER BY c_custkey""",
    "q_string_ops" ->
      """SELECT p_partkey, UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand, LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded, SUBSTR(p_type, 1, 5) AS type5, CONCAT(p_brand, '-', p_type) AS brandtype, CAST(LENGTH(p_name) AS INTEGER) AS name_len, CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words, REPLACE(p_type, ' ', '_') AS type_u FROM part ORDER BY p_partkey""",
    "q_json_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k_val FROM events ORDER BY event_id""",
    "q_array_ops" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_elem, ROUND(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm, ROUND(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 4) AS head_sum FROM embeddings ORDER BY vec_id""",
    "q_edge_degree" ->
      """SELECT l_partkey AS node_id, COUNT(DISTINCT l_orderkey) AS degree, COUNT(*) AS n_edges FROM lineitem GROUP BY 1 ORDER BY 1""",
    // simple a<b<c three-way join — same count as the degree-ordered
    // orientation, in the shape DuckDB can afford at gate scale
    "q_triangle_count" ->
      ("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0), """ +
        """e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), """ +
        """nodes AS (SELECT COUNT(DISTINCT n) AS n_nodes FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)), """ +
        """tri AS (SELECT COUNT(*) AS n_triangles FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac ON ac.u = ab.u AND ac.v = bc.v) """ +
        """SELECT n_nodes, (SELECT COUNT(*) FROM e) AS n_edges, n_triangles FROM nodes, tri"""),
    "q_grouping_id" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation, COALESCE(c_mktsegment, 'ALL') AS segment, CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid, COUNT(*) AS n_cust FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY CUBE(n_name, c_mktsegment) ORDER BY nation, segment, gid""",
    "q_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, avg_raw AS avg_price FROM (SELECT o_custkey, o_orderkey, o_totalprice, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_raw FROM orders WINDOW w AS (PARTITION BY o_custkey)) WHERE o_totalprice > avg_raw ORDER BY o_custkey, o_orderkey""",
    "q_windowed_distinct" ->
      """SELECT user_id, event_id, COUNT(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types_so_far FROM events ORDER BY user_id, event_id""",
    "q_lateral_join" ->
      """SELECT n_nationkey, n_name, t.top_bal, t.n_cust FROM nation, LATERAL (SELECT MAX(c_acctbal) AS top_bal, COUNT(*) AS n_cust FROM customer WHERE c_nationkey = n_nationkey) t ORDER BY n_nationkey""",
    "q_date_parts" ->
      """SELECT CAST(date_part('year', l_shipdate) AS INTEGER) AS ship_year, CAST(date_part('month', l_shipdate) AS INTEGER) AS ship_month, COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_levenshtein" ->
      """SELECT a.p_partkey, CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1 ORDER BY a.p_partkey""",
    "q_window_range" ->
      """SELECT user_id, event_id, COUNT(*) OVER w AS n_trailing_30m, CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_30m FROM (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms, value FROM events) WINDOW w AS (PARTITION BY user_id ORDER BY ms RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW) ORDER BY user_id, event_id""",
    "q_first_last" ->
      """SELECT o_custkey, o_orderkey, FIRST_VALUE(o_totalprice) OVER w AS first_price, LAST_VALUE(o_totalprice) OVER w AS last_price, NTH_VALUE(o_totalprice, 2) OVER w AS second_price FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY o_custkey, o_orderkey""",
    "q_conditional_agg" ->
      """SELECT o_orderstatus, CAST(SUM(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big, CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent, MAX(CASE WHEN o_totalprice > 250000 THEN o_totalprice END) AS max_big FROM orders GROUP BY 1 ORDER BY 1""",
    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations FROM nation GROUP BY 1 ORDER BY 1"""
  )
}
