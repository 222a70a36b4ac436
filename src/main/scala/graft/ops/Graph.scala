package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Distributed graph computation — the dataflow shape of the reference
  * engine's time loop (SURVEY G4: per-step force exchange along bond edges =
  * message passing along `MLSBond.dat`, see
  * `UniaxialCompressionTest/MLSBond.dat:1-2`). The physics kernel is out of
  * scope; the SHAPE — iterate(join along edges → aggregate at vertices →
  * update) — is exactly this operator.
  *
  * Connected components use alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC '14): each round rewires edges toward local minima, so label
  * information travels exponentially — O(log² n) rounds in the worst case,
  * a handful in practice — instead of the O(diameter) rounds of naive
  * min-label propagation. Every step is a DataFrame groupBy + join (partial
  * aggregation absorbs hub skew map-side; AQE handles join skew), lineage is
  * cut per round with an eager localCheckpoint, and superseded rounds are
  * explicitly unpersisted.
  */
object Graph {

  /** Outcome of a components run. `labels` is (node_id, component) where
    * `component` = min node id of the component; `converged` is whether the
    * fixed point was PROVEN (exact star-forest test, not a hash heuristic);
    * `rounds` is the number of contraction rounds executed.
    */
  final case class CCResult(labels: DataFrame, converged: Boolean, rounds: Int)

  /** Undirected edge frame (src, dst) → (node_id, component) at the proven
    * fixed point. Throws if `maxIter` rounds pass without convergence —
    * a non-converged labeling is silently WRONG, never return it.
    *
    * `localFinishEdges`: once the contracted edge set fits under this bound
    * (64-ish MB at the 2M default), finish with a driver-side union-find
    * instead of paying 2-3 more distributed rounds — the standard
    * multi-level ending for contraction CC. At 100 TB the early rounds stay
    * fully distributed; the threshold only accelerates the bounded tail.
    * Set 0 to force pure distributed contraction (non-integral node id
    * types always take the distributed path).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          localFinishEdges: Long = 2000000L): DataFrame = {
    val r = connectedComponentsResult(edges, maxIter, localFinishEdges)
    if (!r.converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixed point after ${r.rounds} rounds " +
          s"(maxIter=$maxIter); labels would be incorrect")
    r.labels
  }

  /** As [[connectedComponents]] but returns the convergence status instead
    * of throwing, for callers that want to inspect or retry.
    */
  def connectedComponentsResult(edges: DataFrame, maxIter: Int = 20,
                                localFinishEdges: Long = 2000000L,
                                verbose: Boolean = false): CCResult = {
    // contraction preserves every node that has a non-loop edge, so the
    // final edge set's endpoints ARE the vertex universe except nodes whose
    // only edges were self-loops — capture those (tiny) separately instead
    // of materializing a full vertex table
    val selfLoopers = edges.filter(col("src") === col("dst"))
      .select(col("src").as("node_id")).distinct()
    // canonical working set: no self-loops, oriented src > dst. NOT deduped:
    // large-star's min-aggregate is duplicate-insensitive and small-star's
    // terminal distinct canonicalizes after round 1, so an up-front distinct
    // would be a full extra shuffle for nothing
    val tS = System.nanoTime()
    var ee = edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .localCheckpoint()
    if (verbose)
      println(f"cc setup: ${(System.nanoTime() - tS) / 1e9}%.2fs edges=${ee.count()}")
    val dstType = ee.schema("dst").dataType
    val integralIds = {
      import org.apache.spark.sql.types._
      dstType == LongType || dstType == IntegerType ||
        dstType == ShortType || dstType == ByteType
    }
    var iter = 0
    var converged = false
    var done = false
    while (!done) {
      val t0 = System.nanoTime()
      if (integralIds && localFinishEdges > 0 && ee.count() <= localFinishEdges) {
        // bounded tail: the contracted remainder fits on the driver
        val labels = localUnionFind(selfLoopers, ee, dstType)
        Bridge.unpersistLocalCheckpoint(ee)
        if (verbose)
          println(f"cc local finish: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        return CCResult(labels, converged = true, rounds = iter)
      }
      // ONE shuffle yields both the exact star-forest test and small-star's
      // min table: per node n, ns = #edges where n is a leaf (src), deg =
      // total incidences, m = min dst over n's src rows. A star forest is
      // exactly "no node has ns > 1 or both roles", so the converged rounds
      // cost only this aggregate — no countDistinct expand, no join, no
      // hash heuristics. (Duplicate edges inflate ns, so a dup-laden input
      // may pay one cleanup round; every later round is distinct.)
      val stats = ee
        .select(col("src").as("n"), lit(1).as("s"), col("dst").as("v"))
        .unionAll(ee.select(col("dst").as("n"), lit(0).as("s"),
          lit(null).cast(dstType).as("v")))
        .groupBy("n")
        .agg(sum(col("s")).as("ns"), count(lit(1)).as("deg"), min(col("v")).as("m"))
        .localCheckpoint() // tiny: one row per live node
      converged = stats
        .filter(col("ns") > 1 || (col("ns") > 0 && col("deg") > col("ns")))
        .isEmpty
      if (converged || iter >= maxIter) {
        Bridge.unpersistLocalCheckpoint(stats)
        done = true
      } else {
        // small-star: rewire each src's smaller neighbors (and src itself)
        // to their min m — map-side against the stats table (AQE picks
        // broadcast vs shuffle join by size); terminal distinct is the
        // round's canonicalizer
        val ssmins = stats.filter(col("ns") > 0)
          .select(col("n").as("src"), col("m"))
        val ss = ee.join(ssmins, "src")
          .filter(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .unionAll(ssmins.select(col("src"), col("m").as("dst")))
          .distinct()
          .localCheckpoint()
        val next = largeStar(ss).localCheckpoint()
        Bridge.unpersistLocalCheckpoint(stats)
        Bridge.unpersistLocalCheckpoint(ss)
        Bridge.unpersistLocalCheckpoint(ee) // previous round: nothing refers to it
        ee = next
        iter += 1
        if (verbose)
          println(f"cc round $iter: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
            f"edges=${ee.count()}")
      }
    }
    // at the fixed point the edge set IS the answer: (leaf → component min)
    // stars; centers and self-loop-only nodes label themselves, and one
    // min-aggregate dedupes all three sources (a leaf's real label is
    // always < its self-label, so min picks the right one even when the
    // run stopped non-converged)
    val labels = ee.select(col("src").as("node_id"), col("dst").as("component"))
      .unionAll(ee.select(col("dst").as("node_id"), col("dst").as("component")))
      .unionAll(selfLoopers.select(col("node_id"), col("node_id").as("component")))
      .groupBy("node_id").agg(min(col("component")).as("component"))
      .localCheckpoint()
    Bridge.unpersistLocalCheckpoint(ee)
    CCResult(labels, converged, iter)
  }

  /** Components of a BATCH-BOUNDED, self-loop-free edge set — the
    * flows' batch-internal dedup graphs (r21 job diet). The generic
    * [[connectedComponents]] pays an orientation checkpoint and a
    * self-looper pass that a batch caller's pinned, loop-free pair
    * table never needs; this path is one count + one collect + the
    * driver union-find, labels identical (min node id per component).
    * Falls back to the generic op past `maxEdges` (the same 2M
    * local-finish bound — the distributed contraction still guards an
    * adversarial batch) or when either id column is not integral.
    * Duplicates and either orientation are fine; self-loops are the
    * CALLER's contract (the flows' pair tables exclude them by
    * construction).
    */
  private[graft] def batchComponents(edges: DataFrame,
                                   maxEdges: Long = 2000000L): DataFrame = {
    val dstType = edges.schema("dst").dataType
    val integral = Seq("src", "dst").forall { c =>
      import org.apache.spark.sql.types._
      Seq(LongType, IntegerType, ShortType, ByteType).contains(edges.schema(c).dataType)
    }
    if (!integral || edges.count() > maxEdges) connectedComponents(edges)
    else localUnionFind(
      edges.select(col("src").as("node_id")).limit(0), edges, dstType)
  }

  /** Bounded driver-side finish: union-find with path halving over the
    * (threshold-gated, so memory-bounded) contracted edge set, labels =
    * min node id per component to match the distributed fixed point.
    */
  private def localUnionFind(selfLoopers: DataFrame,
                             ee: DataFrame,
                             idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = ee.sparkSession
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent.update(x, gp)
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    // ONE collect serves edges AND the self-loop-only vertex tail (r21
    // job diet): a self-loop row (v, v) is a union-find no-op that
    // still registers v in the vertex universe — exactly what the
    // former second collect did, one driver job earlier.
    val edgeRows = ee.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"))
      .unionAll(selfLoopers.select(col("node_id").cast("long").as("a"),
        (col("node_id") * lit(1L)).cast("long").as("b")))
      .collect()
    edgeRows.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) { if (a < b) parent.update(b, a) else parent.update(a, b) }
    }
    // vertex universe = edge endpoints plus self-loop-only nodes
    val seen = new scala.collection.mutable.LongMap[Boolean]()
    val verts = scala.collection.mutable.ArrayBuffer[Long]()
    def addVert(v: Long): Unit =
      if (!seen.getOrElse(v, false)) { seen.update(v, true); verts += v }
    edgeRows.foreach { r => addVert(r.getLong(0)); addVert(r.getLong(1)) }
    // component label = min node id per root (unions attach the larger
    // root, but ids reached via path halving aren't ordered — normalize)
    val minOf = new scala.collection.mutable.LongMap[Long]()
    verts.foreach { v =>
      val r = find(v)
      if (v < minOf.getOrElse(r, Long.MaxValue)) minOf.update(r, v)
    }
    import spark.implicits._
    verts.toSeq.map(v => (v, minOf(find(v)))).toDF("node_id", "component")
      .select(col("node_id").cast(idType).as("node_id"),
        col("component").cast(idType).as("component"))
  }

  /** Large-star: for each node u, connect every strictly-larger neighbor to
    * the minimum of u's closed neighborhood. Output stays oriented
    * src > dst (m ≤ u < v) with no self-loops.
    */
  private def largeStar(ee: DataFrame): DataFrame = {
    val nbr = ee.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(ee.select(col("dst").as("u"), col("src").as("v")))
    val mins = nbr.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // no distinct here: for each undirected edge exactly one direction has
    // v > u, so the output is |E|-sized; small-star's terminal distinct is
    // the canonicalizer for the round
    nbr.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** Degree table of an undirected edge frame. */
  /** [[pageRank]] in FIXED-POINT integer arithmetic — the engine-
    * reproducible variant: every quantity is a BIGINT in units of
    * 1/`scale`, every operation is exact integer add/multiply/`div`, so
    * the result is bit-identical regardless of partitioning, shuffle
    * order, executor count, OR ENGINE — a DuckDB twin running the same
    * arithmetic produces the same longs (the class-A oracle argument,
    * VERIFY_NOTES.md: float PageRank sums contributions in engine-
    * specific order, so its low bits never cross engines; a training-
    * data pipeline wanting a REPRODUCIBLE importance score has the same
    * problem this solves). Same dataflow as [[pageRank]]: two equi-joins
    * + one aggregate per round, one scalar dangling term, lineage cut
    * per round. Semantics differences, deliberate and documented:
    *
    *   - contributions truncate (`rank div out_deg`) — the per-node
    *     truncation dust (< out_deg/scale per node per round) joins the
    *     dangling mass and redistributes uniformly, keeping the total
    *     within n·iters/scale of the float version's n;
    *   - damping is the exact rational 85/100, applied as
    *     `(85 * x) div 100`;
    *   - no epsilon termination (a fixed-iteration contract is the
    *     reproducible one).
    *
    * Overflow headroom: total mass ≈ n·scale; the hottest intermediate
    * is `85 * (in_sum + dm div n)` ≤ 85·n·scale, so n·scale must stay
    * under Long.MaxValue/85 ≈ 1.08e17 — at scale=1e9 that is ~108M
    * nodes (the REQUIRE guards exactly this bound, r18 ADVICE: the old
    * guard used 1e18 and under-promised the doc by ~9×). `scale = -1`
    * picks the largest power of 10 the graph's node count admits,
    * capped at the 1e9 default — callers that must not abort at any
    * scale factor (q_pagerank, the bench) use it, and an ORACLE twin
    * can reproduce the choice with the same integer arithmetic
    * (powers-of-10 table ∩ `Long.MaxValue/85/n`, no floats).
    *
    * Returns (node_id, rank_fp) with rank_fp ≈ rank × scale.
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 3,
                         scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // r20 opt (guide §2.4): hash-partition the edge table by src ONCE
    // before its pin — localCheckpoint preserves outputPartitioning, so
    // every round's contribution join on src reuses it instead of
    // re-exchanging the (largest) edge side per iteration. One setup
    // shuffle buys iters× fewer edge shuffles; pure longs, order-
    // independent integer sums — output bit-identical (GraphSpec pins
    // partitioning-independence).
    val e = edges.selectExpr("cast(src as long) as src",
      "cast(dst as long) as dst").na.drop().distinct()
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    val sc = if (scale == -1L) autoScale(n) else scale
    require(n == 0 || sc <= Long.MaxValue / math.max(n, 1) / 85,
      s"n*scale*85 must fit a long: n=$n scale=$sc")
    if (n == 0) return nodes.withColumn("rank_fp", lit(0L))
    val outDeg = e.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("out_deg")).localCheckpoint()
    val base = (15L * sc) / 100L
    var ranks = nodes.withColumn("rank_fp", lit(sc)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val contribs = ranks.join(outDeg, Seq("node_id"))
        .select(col("node_id").as("src"),
          expr("rank_fp div out_deg").as("c"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node_id"))
        .agg(sum("c").as("in_sum"))
        .localCheckpoint()
      val dangling = contribs
        .agg(greatest(lit(0L),
          lit(n * sc) - coalesce(sum("in_sum"), lit(0L)))
          .as("dm"))
      val next = nodes.join(contribs, Seq("node_id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node_id"),
          (lit(base) + expr(
            s"(85 * (coalesce(in_sum, 0L) + (dm div ${n}L))) div 100")
            ).as("rank_fp"))
        .localCheckpoint()
      Bridge.unpersistLocalCheckpoint(ranks)
      Bridge.unpersistLocalCheckpoint(contribs)
      ranks = next
      i += 1
    }
    ranks
  }

  /** [[pageRankFixedPoint]]'s `scale = -1` resolution: the largest
    * power of 10 whose n·scale·85 fits a long, capped at the 1e9
    * default — pure integer arithmetic (a powers table against
    * `Long.MaxValue/85/n`), so an oracle in any engine reproduces the
    * exact same choice without touching floats.
    */
  private[graft] def autoScale(n: Long): Long = {
    val bound = Long.MaxValue / 85 / math.max(n, 1)
    Iterator.iterate(1L)(_ * 10).take(10)
      .takeWhile(p => p <= bound && p <= 1000000000L)
      .foldLeft(1L)((_, p) => p)
  }

  /** Fixed-iteration PageRank over a directed edge frame (src, dst) —
    * the second instance of the G4 iterate(join-along-edges → aggregate-
    * at-vertices → update) shape, with dense per-round messages where CC
    * contracts toward a sparse fixed point. Each round is: ranks join
    * out-degrees (co-partitioned on node), contributions flow along the
    * edge join, one hash aggregate per destination sums them, and dangling
    * mass (nodes with no out-edges) redistributes uniformly — the
    * textbook power iteration, expressed as two equi-joins + one
    * aggregate per round (never a matrix, never a collect of anything
    * node-sized; the dangling term is ONE scalar per round). Lineage cut
    * per round with eager localCheckpoints, superseded rounds unpersisted
    * — the same hygiene as [[connectedComponentsResult]] (the CC round-4
    * lesson: unbounded iterative lineage re-resolves the whole history
    * every round).
    *
    * Returns (node_id, rank) with sum(rank) == n (the "rank mass = node
    * count" convention, so a node's rank is its relative importance ×1).
    */
  def pageRank(edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85, tol: Double = 0.0): DataFrame =
    pageRankWithRounds(edges, iters, damping, tol)._1

  /** [[pageRank]] plus the number of rounds actually run — the observable
    * for the epsilon-termination contract. `tol > 0` adds an L1-delta
    * check per round (one scalar aggregate over the two CACHED
    * node-bounded rank frames — never a second heavy pass) and stops as
    * soon as `Σ|rank − prev| ≤ tol`; at 100 TB a fast-converging graph
    * then pays for the rounds it needs, not the configured ceiling.
    * `tol = 0` skips the check entirely: bit-for-bit the fixed-iters
    * path (pinned in GraphSpec).
    */
  def pageRankWithRounds(edges: DataFrame, iters: Int = 10,
                         damping: Double = 0.85,
                         tol: Double = 0.0): (DataFrame, Int) = {
    val e = edges.selectExpr("cast(src as long) as src", "cast(dst as long) as dst")
      .na.drop().distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct().localCheckpoint()
    val n = nodes.count().toDouble
    // (measured: folding out_deg into the edge table to save the
    // node-sized degree join was SLOWER at sf0.1 — the widened edge
    // shuffle costs more than the small join it removes; keep the
    // two-join, one-pass shape)
    val outDeg = e.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("out_deg")).localCheckpoint()
    var ranks = nodes.withColumn("rank", lit(1.0)).localCheckpoint()
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      // ONE heavy pass per round: ranks ⋈ out-degrees ⋈ edges, one hash
      // aggregate at the destinations — materialized eagerly so both the
      // dangling scalar and the rank update read the cached node-bounded
      // result instead of re-running the join (the r8 verdict's
      // two-passes-per-round finding).
      val contribs = ranks.join(outDeg, Seq("node_id"))
        .select(col("node_id").as("src"), (col("rank") / col("out_deg")).as("c"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node_id"))
        .agg(sum("c").as("in_sum"))
        .localCheckpoint()
      // dangling nodes hold rank but emit no edge contributions: their
      // mass re-enters uniformly. A non-dangling node emits exactly its
      // rank (rank/out_deg summed over out_deg edges), so
      // dangling mass = total mass − Σ in_sum — a one-row aggregate over
      // the CACHED contribs, broadcast into the update plan (no separate
      // driver action; never a second pass over the rank table; total
      // mass is exactly n every round: the update re-normalizes to n by
      // construction).
      val dangling = contribs
        .agg(greatest(lit(0.0), lit(n) - coalesce(sum("in_sum"), lit(0.0)))
          .as("dangling_mass"))
      val next = nodes.join(contribs, Seq("node_id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node_id"),
          (lit(1.0 - damping) +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) +
              col("dangling_mass") / lit(n))).as("rank"))
        .localCheckpoint()
      if (tol > 0.0) {
        // sum() is NULL on an empty join (e.g. every edge dropped in
        // na.drop) — read defensively and treat as converged-at-zero
        val delta = Option(next
          .join(ranks.select(col("node_id"), col("rank").as("__prev")),
            Seq("node_id"))
          .agg(sum(abs(col("rank") - col("__prev"))).as("d"))
          .head().get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        converged = delta <= tol
      }
      Bridge.unpersistLocalCheckpoint(ranks)
      Bridge.unpersistLocalCheckpoint(contribs)
      ranks = next
      i += 1
    }
    (ranks, i)
  }

  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node_id"))
      .unionAll(edges.select(col("dst").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))

  /** Exact triangle count by DEGREE-ORDERED edge orientation — the
    * formulation that survives skewed degree distributions at scale.
    * Each undirected edge is directed from its lower-(degree, id)-rank
    * endpoint to the higher, which bounds every out-degree by O(√m), so
    * the wedge self-join generates O(m^1.5) candidates worst-case
    * instead of Σ deg² (a single celebrity node would otherwise square
    * into the join). Wedges keep their two spokes in rank order, which
    * makes the closing edge a single EQUI-join probe against the
    * oriented edge set (no OR-condition nested loop). Counts each
    * triangle exactly once.
    *
    * @param edges undirected (src, dst) pairs — either orientation,
    *              duplicates and self-loops tolerated (normalized away)
    * @return one row: (n_nodes, n_edges, n_triangles)
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge (s → t) with rank(s) < rank(t); td rides along so
    // wedge spokes can be rank-ordered without re-joining degrees
    val o = e.join(du, "u").join(dv, "v")
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("s"),
        when(uLower, col("v")).otherwise(col("u")).as("t"),
        when(uLower, col("dv")).otherwise(col("du")).as("td"))
    val e1 = o.select(col("s"), col("t").as("x"), col("td").as("xd"))
    val e2 = o.select(col("s"), col("t").as("y"), col("td").as("yd"))
    val wedges = e1.join(e2, Seq("s"))
      .filter(col("xd") < col("yd") ||
        (col("xd") === col("yd") && col("x") < col("y")))
      .select(col("x"), col("y"))
    val closing = o.select(col("s").as("x"), col("t").as("y"))
    val tri = wedges.join(closing, Seq("x", "y")).agg(count(lit(1)).as("n_triangles"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(ne).crossJoin(tri)
  }

  /** Resolve every doc of a duplicate MAP to its terminal ROOT (r16 —
    * the consumer view a curation team queries from the decisions
    * artifact: "whose cluster is this doc in"). `edges` is the
    * functional loser→keeper map ((doc_id, matched_id) — the artifact's
    * dedup-drop rows, exactly one parent per doc). The root of a chain
    * x → y → z is z — the unique member of its weak component with no
    * outgoing edge: a kept doc, or a keeper that itself dropped on a
    * NON-dedup gate (benchmark/contamination) after winning its
    * election. The map is functional and acyclic by construction
    * (matched_id always names a strictly-earlier-elected keeper), so
    * the root is unique per component.
    *
    * Built on [[connectedComponents]]: same log-rounds contraction
    * scale shape, over the DROP rows only — a small fraction of the
    * corpus at production dup rates, and never the corpus itself.
    * Returns (doc_id, root_id) for every node of the map (losers and
    * keepers; a root maps to itself).
    */
  def dupRoots(edges: DataFrame): DataFrame = {
    val e = edges.select(col("doc_id"), col("matched_id"))
    val labels = connectedComponents(
      e.select(col("doc_id").as("src"), col("matched_id").as("dst")))
    val roots = labels
      .join(e.select(col("doc_id").as("node_id")).distinct(),
        Seq("node_id"), "left_anti")
      .select(col("component"), col("node_id").as("root_id"))
    labels.join(roots, Seq("component"))
      .select(col("node_id").as("doc_id"), col("root_id"))
  }
}
