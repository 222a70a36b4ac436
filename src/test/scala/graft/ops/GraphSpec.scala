package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.formats.DeckCodec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {

  test("connected components: known small graphs") {
    import spark.implicits._
    // two components {0,1,2,3} and {10,11}, plus a self-contained {20,21}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("src", "dst")
    val cc = Graph.connectedComponents(edges)
    val byComp = cc.groupBy("component").agg(collect_set("node_id").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(byComp(0L) === Set(0L, 1L, 2L, 3L))
    assert(byComp(10L) === Set(10L, 11L))
    assert(byComp(20L) === Set(20L, 21L))
  }

  test("components partition the vertex set; labels are component minima") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val cc = Graph.connectedComponents(edges)
    val n = cc.count()
    assert(cc.select(countDistinct("node_id")).head().getLong(0) === n)
    // each component's label equals the min node id in it
    val bad = cc.groupBy("component").agg(min("node_id").as("m"))
      .filter(col("component") =!= col("m")).count()
    assert(bad === 0)
  }

  test("path graph with diameter >> maxIter converges (contraction, not propagation)") {
    import spark.implicits._
    // a 300-node path has diameter 299: naive min-label propagation needs
    // 299 rounds; large-star/small-star contraction needs O(log n)
    val n = 300
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val r = Graph.connectedComponentsResult(edges, maxIter = 12, localFinishEdges = 0)
    assert(r.converged, s"must converge within 12 rounds, ran ${r.rounds}")
    assert(r.rounds <= 12)
    val comps = r.labels.select("component").distinct().collect().map(_.getLong(0))
    assert(comps.toSeq === Seq(0L))
    assert(r.labels.count() === n)
  }

  test("non-convergence raises instead of returning wrong labels") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst") // not yet a star forest
    val ex = intercept[IllegalStateException] {
      Graph.connectedComponents(edges, maxIter = 0, localFinishEdges = 0)
    }
    assert(ex.getMessage.contains("no fixed point"))
    // the Result variant reports instead of throwing
    val r = Graph.connectedComponentsResult(edges, maxIter = 0, localFinishEdges = 0)
    assert(!r.converged && r.rounds === 0)
  }

  test("star-forest input converges in zero rounds; self-loop-only nodes keep a label") {
    import spark.implicits._
    val edges = Seq((5L, 0L), (7L, 0L), (9L, 9L)).toDF("src", "dst")
    val r = Graph.connectedComponentsResult(edges, maxIter = 20, localFinishEdges = 0)
    assert(r.converged && r.rounds === 0)
    val m = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(m === Map(5L -> 0L, 7L -> 0L, 0L -> 0L, 9L -> 9L))
  }

  test("hybrid local finish matches pure distributed contraction") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (0 until 500).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val local = Graph.connectedComponentsResult(edges) // default: local finish
    assert(local.converged && local.rounds === 0)
    val dist = Graph.connectedComponentsResult(edges, localFinishEdges = 0)
    assert(dist.converged)
    val a = local.labels.orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = dist.labels.orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("string node ids: distributed contraction works; local finish declines") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    // non-integral ids always take the distributed path, threshold or not
    val r = Graph.connectedComponentsResult(edges) // default threshold
    assert(r.converged)
    val m = r.labels.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(m === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("batchComponents: a non-integral src column takes the distributed path") {
    import spark.implicits._
    // src double, dst long: the driver union-find would truncate 0.5 and
    // 1.5 to longs, so the schema guard must check both columns
    val edges = Seq((0.5, 1L), (1.5, 1L), (7.0, 8L)).toDF("src", "dst")
    val m = Graph.batchComponents(edges).collect().map(r =>
      r.get(0).asInstanceOf[Number].doubleValue -> r.get(1).asInstanceOf[Number].doubleValue).toMap
    assert(m === Map(0.5 -> 0.5, 1.0 -> 0.5, 1.5 -> 0.5, 7.0 -> 7.0, 8.0 -> 7.0))
  }

  test("real bond graph: MLSBond.dat components and degrees") {
    val path = "/root/reference/UniaxialCompressionTest/MLSBond.dat"
    assume(Files.exists(Paths.get(path)))
    val edges = DeckCodec.readBonds(spark, path)
    val deg = Graph.degrees(edges)
    assert(deg.agg(sum("degree")).head().getLong(0) === 2 * 13812)
    val cc = Graph.connectedComponents(edges, maxIter = 30, localFinishEdges = 0)
    val nComponents = cc.select(countDistinct("component")).head().getLong(0)
    val nVertices = cc.count()
    assert(nVertices > 0 && nComponents >= 1 && nComponents < nVertices)
    // every bonded pair ends in the same component
    val lbl = cc.withColumnRenamed("node_id", "v")
    val crossEdges = edges
      .join(lbl, edges("src") === lbl("v")).withColumnRenamed("component", "c1").drop("v")
      .join(lbl, edges("dst") === lbl("v")).withColumnRenamed("component", "c2")
      .filter(col("c1") =!= col("c2")).count()
    assert(crossEdges === 0)
  }

  test("pageRank: cycle graph is the uniform fixed point; mass conserved") {
    import spark.implicits._
    // directed 5-cycle: rank 1.0 at every node is exactly stationary for
    // any damping, so every iterate must return it unchanged
    val n = 5
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 7).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(pr.size === n)
    pr.values.foreach(v => assert(math.abs(v - 1.0) < 1e-12, pr.toString))
  }

  test("pageRank: hub collects rank; dangling mass is redistributed, total conserved") {
    import spark.implicits._
    // leaves 1..6 all point at hub 0; hub has no out-edges (dangling)
    val edges = (1 to 6).map(i => (i.toLong, 0L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val leaves = (1 to 6).map(i => pr(i.toLong))
    assert(leaves.forall(v => math.abs(v - leaves.head) < 1e-12),
      "symmetric leaves must tie")
    assert(pr(0L) > 2.0 * leaves.head, s"hub must dominate: $pr")
    assert(math.abs(pr.values.sum - 7.0) < 1e-9,
      s"rank mass must equal node count: ${pr.values.sum}")
  }

  test("pageRank: partitioning-independent and deterministic on a seeded graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (0 until 400)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def run(parts: Int): Seq[(Long, Double)] =
      Graph.pageRank(edges.repartition(parts), iters = 8).orderBy("node_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val a = run(3)
    val b = run(9)
    assert(a.map(_._1) === b.map(_._1))
    a.zip(b).foreach { case ((_, x), (_, y)) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
        s"rank drift across partitionings: $x vs $y")
    }
    // mass conservation on the random graph too
    assert(math.abs(a.map(_._2).sum - a.length) < 1e-6)
  }

  test("pageRankFixedPoint: bit-identical across partitionings; tracks the float ranks within truncation dust; cycle is stationary") {
    import spark.implicits._
    // the q_pagerank oracle contract: every operation is exact integer
    // arithmetic, so the longs are REPRODUCIBLE — same values for any
    // partitioning (a float PageRank only ties within ulp tolerance)
    val rnd = new scala.util.Random(13)
    val edges = (0 until 400)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def run(parts: Int): Seq[(Long, Long)] =
      Graph.pageRankFixedPoint(edges.repartition(parts), iters = 3)
        .orderBy("node_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = run(3)
    assert(a === run(9), "fixed-point ranks must be bit-identical")
    // scaled-down float twin: each rank within iters*n/scale + per-node
    // truncation (bounded loosely — the contract is reproducibility,
    // not float equality; this pins that the arithmetic is PageRank)
    val f = Graph.pageRank(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    a.foreach { case (id, fp) =>
      assert(math.abs(fp / 1e9 - f(id)) < 1e-4,
        s"node $id: fixed-point ${fp / 1e9} vs float ${f(id)}")
    }
    // 5-cycle: out_deg 1 everywhere so division truncates nothing and
    // rank=scale is EXACTLY stationary in integer math
    val cyc = (0 until 5).map(i => (i.toLong, ((i + 1) % 5).toLong))
      .toDF("src", "dst")
    Graph.pageRankFixedPoint(cyc, iters = 7).collect()
      .foreach(r => assert(r.getLong(1) === 1000000000L, r.toString))
  }

  test("pageRankFixedPoint: scale=-1 resolves from the node count (capped at 1e9) and matches the explicit default on small graphs") {
    import spark.implicits._
    // the r18 ADVICE contract: the guard is Long.MaxValue-based
    // (n*scale*85 fits a long, ~108M nodes at 1e9) and auto-scale picks
    // the largest admissible power of 10 so a bench at any SF never
    // aborts — the oracle reproduces the choice with the same integer
    // powers-table walk
    assert(Graph.autoScale(10L) === 1000000000L)
    assert(Graph.autoScale(108000000L) === 1000000000L, "cap binds to ~108M")
    assert(Graph.autoScale(2000000000L) === 10000000L,
      "2B nodes: Long.MaxValue/85/2e9 ~ 5.4e7 -> 1e7")
    assert(Graph.autoScale(0L) === 1000000000L)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    def run(sc: Long) = Graph.pageRankFixedPoint(edges, 3, scale = sc)
      .orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(run(-1L) === run(1000000000L).toSeq,
      "auto-scale is the 1e9 default wherever the cap binds")
    // past the guard, an explicit oversized scale still throws
    intercept[IllegalArgumentException] {
      Graph.pageRankFixedPoint(edges, 3, scale = Long.MaxValue / 85)
        .collect()
    }
  }

  test("pageRank: epsilon termination exits early; tol=0 is the fixed-iters path") {
    import spark.implicits._
    // cycle: rank 1.0 is exactly stationary, so round 1 reproduces it and
    // the L1 delta is exactly 0.0 — the tol path must stop after 1 round
    // instead of burning the 50-round ceiling (the at-scale win: rounds
    // proportional to convergence, not configuration)
    val cycle = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
      .toDF("src", "dst")
    val (pr, rounds) = Graph.pageRankWithRounds(cycle, iters = 50, tol = 1e-9)
    assert(rounds === 1, s"converged cycle must exit after round 1, ran $rounds")
    pr.collect().foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-12))
    // tol=0 never checks, never exits early: exactly the fixed-iters path
    val (_, r0) = Graph.pageRankWithRounds(cycle, iters = 5, tol = 0.0)
    assert(r0 === 5)
    // non-trivial converging graph: early exit before the ceiling, and the
    // early result sits within the declared tolerance band of the full run
    val rnd = new scala.util.Random(23)
    val edges = (0 until 400)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val (fast, rFast) = Graph.pageRankWithRounds(edges, iters = 60, tol = 1e-6)
    assert(rFast < 60, "tolerance must terminate before the ceiling")
    val full = Graph.pageRank(edges, iters = 60).orderBy("node_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val fastM = fast.orderBy("node_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(fastM.keySet === full.keySet)
    val l1 = fastM.map { case (k, v) => math.abs(v - full(k)) }.sum
    assert(l1 <= 1e-4, s"early-exit ranks drifted L1=$l1 from converged ranks")
  }

  test("pageRank: jobs per extra round stay at the single-heavy-pass count") {
    // Pin of the r9 single-pass-per-round contract: each round is one
    // contribs materialization, one scalar agg off the cache, one rank
    // update. Under AQE those three actions decompose into 10 scheduler
    // jobs/round (stage materializations + broadcast builds) — measured,
    // deterministic for fixed data/config. A regression back to re-running
    // the rank⋈degree join for the dangling scalar adds ≥3 jobs/round
    // (30 → ≥39 over three extra rounds), well past the +2 slack here.
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val edges = (0 until 300)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def countJobs(iters: Int): Int = jobs(Graph.pageRank(edges, iters = iters).count())._2.size
    val j2 = countJobs(2)
    val j5 = countJobs(5)
    assert(j5 - j2 <= 32, s"jobs grew by ${j5 - j2} over 3 extra rounds")
  }

  test("triangleCount: closed-form graphs == naive O(n^3) count; orientation/dup/self-loop robust") {
    import spark.implicits._
    def count(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Graph.triangleCount(edges.toDF("src", "dst")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // triangle 1-2-3 plus a pendant 3-4: exactly one triangle
    assert(count(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) === ((4L, 4L, 1L)))
    // K4 has 4 triangles; feed with reversed/duplicate edges + a self-loop
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    assert(count(k4 ++ Seq((2L, 2L), (1L, 2L))) === ((4L, 6L, 4L)))
    // square without diagonals: zero triangles
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) === ((4L, 4L, 0L)))
    // random graph vs naive triple-loop reference
    val rnd = new scala.util.Random(7)
    val edges = (0 until 120).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(e => e._1 != e._2)
    val norm = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = norm.toSet
    val nodes = norm.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var naive = 0L
    for (i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size)
      if (adj((nodes(i), nodes(j))) && adj((nodes(j), nodes(k))) && adj((nodes(i), nodes(k))))
        naive += 1
    assert(count(edges) === ((nodes.size.toLong, norm.size.toLong, naive)))
  }
  test("dupRoots: loser->keeper chains resolve to their terminal root; non-kept roots and isolated pairs") {
    import spark.implicits._
    // chains: 10->5->2 (2 is a terminal root), 7->2; isolated pair
    // 30->20; deep chain 43->42->41->40
    val edges = Seq((10L, 5L), (5L, 2L), (7L, 2L), (30L, 20L),
      (43L, 42L), (42L, 41L), (41L, 40L)).toDF("doc_id", "matched_id")
    val got = Graph.dupRoots(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 2L, 5L -> 2L, 7L -> 2L, 2L -> 2L,
      30L -> 20L, 20L -> 20L, 43L -> 40L, 42L -> 40L, 41L -> 40L,
      40L -> 40L))
  }
}
