package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.formats.{DeckCodec, Schemas}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Property tests for the mesh-generation + cutting pipelines (SURVEY §5.2.3:
  * Lloyd convergence, independent-set validity, dedup idempotence) — the
  * reference's own outputs are unseeded, so properties are the contract.
  * Also pinned: `generate` depends on the seed alone, `cut` equals a
  * plain-Scala reference, and both stay within a fixed Spark job budget.
  */
class PipelineSpec extends SparkTestBase with BeforeAndAfterAll {

  private val cfg = VoronoiMesh.MeshConfig(
    width = 50, height = 50, nGrains = 40, relaxIterations = 5,
    sampleN = 8000, seed = 42L, extrusion = 10.0)

  private lazy val tmp = java.nio.file.Files.createTempDirectory("pipeline_spec").toFile

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(tmp) finally super.afterAll()

  private lazy val relaxed = VoronoiMesh.lloydRelax(spark, cfg)
  private lazy val cells = VoronoiMesh.cells(relaxed._1, cfg)
  private lazy val nVertices = cells.map(_.ring.size).sum
  private lazy val quads = cells.flatMap(VoronoiMesh.facetQuads(_, cfg.extrusion))

  test("G1 Lloyd: displacement trend decreases and seeds stay in the box") {
    val (seeds, disps) = relaxed
    assert(disps.length === cfg.relaxIterations)
    assert(disps.last < disps.head / 2, s"relaxation converges: $disps")
    assert(seeds.forall { case (x, y) => x >= 0 && x <= cfg.width && y >= 0 && y <= cfg.height })
    assert(seeds.length === cfg.nGrains)
  }

  test("G1 Lloyd is deterministic under the seed") {
    val (s1, d1) = VoronoiMesh.lloydRelax(spark, cfg.copy(relaxIterations = 2))
    val (s2, d2) = VoronoiMesh.lloydRelax(spark, cfg.copy(relaxIterations = 2))
    assert(d1 === d2)
    assert(s1.toSeq === s2.toSeq)
  }

  test("Voronoi cells: every grain has a polygon, areas tile the box") {
    assert(cells.map(_.grainId) === (0L until cfg.nGrains.toLong))
    assert(cells.forall(_.ring.size >= 3)) // real polygons
    // shoelace area per grain sums to the box area
    val area = cells.map { c =>
      c.ring.indices.map { i =>
        val ((x, y), (nx, ny)) = (c.ring(i), c.ring((i + 1) % c.ring.size))
        x * ny - nx * y
      }.sum / 2
    }.sum
    assert(math.abs(area - cfg.width * cfg.height) < 1e-6 * cfg.width * cfg.height)
  }

  test("DD1 node dedup: shared boundaries collapse, ids are dense") {
    val (nodes, elements) = VoronoiMesh.dedupNodes(cells)
    assert(nodes.size < nVertices) // interior vertices are shared by >=2 cells
    assert(elements.map(_._3).distinct.sorted === (0L until nodes.size.toLong)) // dense stable ids
    assert(elements.size === nVertices)
  }

  test("W1 facet build: one quad per polygon edge, quads close the loop") {
    assert(quads.size === nVertices) // cyclic: n edges for n vertices
    assert(quads.map(_.xyz(2)).min === 0.0 && quads.map(_.xyz(8)).max === cfg.extrusion)
    for ((_, qs) <- quads.groupBy(_.grainId)) // the last edge ends where the first starts
      assert(qs.last.xyz.slice(3, 5) === qs.head.xyz.slice(0, 2))
  }

  test("G2 greedy independent set: valid, deterministic, right size") {
    val adj = GrainSelect.adjacency(VoronoiMesh.dedupNodes(cells)._2)
    val candidates = (0L until cfg.nGrains.toLong)
    val k = math.ceil(cfg.nGrains / 6.0).toInt
    val sel = GrainSelect.greedyIndependentSet(adj, candidates, k)
    assert(sel.length === k, s"selected ${sel.length} of requested $k")
    val nbr = adj.toSet
    for (a <- sel; b <- sel if a < b)
      assert(!nbr.contains((a, b)), s"$a and $b are adjacent")
    assert(sel === GrainSelect.greedyIndependentSet(adj, candidates, k))
  }

  test("SO1 layer-2 pool excludes layer-1 and its neighbors") {
    val adj = GrainSelect.adjacency(VoronoiMesh.dedupNodes(cells)._2)
    val eligible = 0L until cfg.nGrains.toLong
    val layer1 = GrainSelect.greedyIndependentSet(adj, eligible, 6)
    val pool = GrainSelect.excludePool(eligible, adj, layer1).toSet
    val excluded = layer1.toSet ++ adj.collect {
      case (a, b) if layer1.contains(a) => b
      case (a, b) if layer1.contains(b) => a
    }
    assert(pool.intersect(excluded).isEmpty)
    assert(pool.size === cfg.nGrains - excluded.size)
  }

  test("F3/A5 taper shrink: top ring shrinks toward centroid, bottom fixed") {
    val angles = cells.map(c => GrainSelect.taperAngle(7L, c.grainId, baseAngleDeg = 8.0))
    assert(angles.forall(a => a >= 0.01 && a <= 15.0))
    val pairs = cells.zip(angles).flatMap { case (c, a) =>
      val qs = VoronoiMesh.facetQuads(c, cfg.extrusion)
      qs.zip(GrainSelect.taperShrink(qs, a, cfg.extrusion))
    }
    // bottom vertices (z=0) unchanged; top vertices (z=H) moved
    assert(pairs.forall { case (q, s) => math.abs(s.xyz(0) - q.xyz(0)) <= 1e-9 })
    assert(pairs.exists { case (q, s) => math.abs(s.xyz(9) - q.xyz(9)) > 1e-9 })
  }

  test("subdivideZ: n strips per quad, z-extent preserved, edges interpolate") {
    val strips = quads.flatMap(SpecimenCut.strips(_, 5)).map(_.xyz)
    assert(strips.size === quads.size * 5)
    assert(strips.map(_(2)).min === 0.0 && strips.map(_(8)).max === cfg.extrusion) // z1, z3
    // strip heights are uniform H/n
    assert(strips.count(z => math.abs(z(11) - z(2) - cfg.extrusion / 5) > 1e-9) === 0)
  }

  test("SpecimenCut solids: box and sphere membership predicates") {
    val faces = quads.flatMap(SpecimenCut.strips(_, 1))
    val box = SpecimenCut.Box(10, 40, 10, 40, 0, cfg.extrusion)
    val inBox = faces.filter(SpecimenCut.cutBySolid(box))
    assert(inBox.size > 0 && inBox.size < quads.size)
    val r = inBox.map(q => Seq(0, 3, 6, 9).map(q.xyz).sum).min / 4
    assert(r >= 10 - 25) // centroid-based: vertices may overhang
    val sph = SpecimenCut.Sphere(cfg.width / 2, cfg.height / 2, cfg.extrusion / 2, 15)
    val inSph = faces.filter(SpecimenCut.cutBySolid(sph))
    assert(inSph.size > 0 && inSph.size < inBox.size + quads.size)
  }

  test("generator parity metrics at the reference config (PARITY.md bands)") {
    // GenerateColumnar.py:401-406: 200x200 domain, 150 grains, thickness
    // 50.2, n_joint 6. The script itself cannot run in this container
    // (scipy/shapely/matplotlib absent, no egress), so parity is asserted
    // against the closed-form invariants any faithful bounded-Voronoi
    // generator satisfies — see PARITY.md for the committed bands.
    // relaxIterations trimmed 50 -> 12 (displacement plateau is spec'd
    // separately; the metrics below are topology-stable past ~10 rounds).
    val refCfg = VoronoiMesh.MeshConfig(
      width = 200.0, height = 200.0, nGrains = 150, relaxIterations = 12,
      sampleN = 30000, seed = 42L, extrusion = 50.2)
    val res = IcePipeline.generate(spark, refCfg, baseAngleDeg = 8.0, nJoint = 6)
    val verts = res.elements // (grain_id, pos, node_id) incidence rows

    // grain count: one polygon per seed
    val perGrain = verts.groupBy("grain_id").count()
    assert(perGrain.count() === 150)

    // per-grain vertex-count distribution: planar Voronoi cells average
    // ~6 sides (Euler), bounded-box clipping pulls the mean slightly down
    val stats = perGrain.agg(avg("count"), min("count"), max("count")).head()
    val meanSides = stats.getDouble(0)
    assert(meanSides > 5.0 && meanSides < 7.0, s"mean sides $meanSides")
    assert(stats.getLong(1) >= 3, "every cell is a real polygon")
    assert(stats.getLong(2) <= 14, "no degenerate mega-cell")

    // node count: clipped planar Voronoi has ~2n interior vertices plus
    // boundary/corner intersections
    val nNodes = res.nodes.count()
    assert(nNodes >= 250 && nNodes <= 500, s"node count $nNodes")

    // selection layers: k = ceil(|interior|/6) (GenerateColumnar.py:252);
    // at 150 grains in a 200x200 box roughly 90-120 grains are interior,
    // so k lands in [15, 20]; layer 2 draws from the pool minus layer 1
    // and its neighborhood and may stop short when the pool drains
    assert(res.selected.size >= 15 && res.selected.size <= 20,
      s"layer1 ${res.selected.size}")
    assert(res.layer2.size >= 1 && res.layer2.size <= res.selected.size,
      s"layer2 ${res.layer2.size}")

    // facet sink: exactly one lateral quad per polygon edge of each
    // selected grain (GenerateColumnar.py:308-332 writes n facets for an
    // n-vertex element)
    val selectedDf = {
      import spark.implicits._
      (res.selected ++ res.layer2).toDF("grain_id")
    }
    val expectedFacets = perGrain.join(selectedDf, Seq("grain_id"))
      .agg(sum("count")).head().getLong(0)
    assert(res.facets.count() === expectedFacets)

    // facet-area sum: exact quad area (two triangles, quads are planar),
    // banded against the untapered prism area (perimeter x extrusion) —
    // the 8-degree mean taper shrinks top edges, slant stretches sides
    def cross2(ax: String, ay: String, az: String,
               bx: String, by: String, bz: String) = {
      def d(p: String, q: String) = col(p) - col(q)
      sqrt(
        pow(d(ay, "y1") * d(bz, "z1") - d(az, "z1") * d(by, "y1"), 2) +
        pow(d(az, "z1") * d(bx, "x1") - d(ax, "x1") * d(bz, "z1"), 2) +
        pow(d(ax, "x1") * d(by, "y1") - d(ay, "y1") * d(bx, "x1"), 2)) / 2
      }
    val quadArea = cross2("x2", "y2", "z2", "x3", "y3", "z3") +
      cross2("x3", "y3", "z3", "x4", "y4", "z4")
    val areaSum = res.facets.select(quadArea.as("a"))
      .agg(sum("a")).head().getDouble(0)
    val perimSum = res.facets.select(
      sqrt(pow(col("x2") - col("x1"), 2) + pow(col("y2") - col("y1"), 2)).as("e"))
      .agg(sum("e")).head().getDouble(0)
    val prism = perimSum * refCfg.extrusion
    assert(areaSum > 0.4 * prism, s"taper must not collapse facets: $areaSum vs $prism")
    assert(areaSum < 1.1 * prism, s"lateral area near the prism bound: $areaSum vs $prism")
  }

  test("SpecimenCut: cylinder cut + plane filters + dedup behave like the reference chain") {
    val faces = quads.flatMap(SpecimenCut.strips(_, 1))
    val cyl = SpecimenCut.CylinderZ(cfg.width / 2, cfg.height / 2, 0, cfg.extrusion, cfg.width / 4)
    val cut = faces.filter(SpecimenCut.cutBySolid(cyl))
    assert(cut.size > 0 && cut.size < quads.size)
    val filtered = cut.filter(SpecimenCut.removePlaneCrossers(2.0))
      .filter(SpecimenCut.removePlaneCrossers(cfg.extrusion - 2.0))
    assert(filtered.size < cut.size)
    val deduped = SpecimenCut.dedupByCentroid(filtered, 1e-6)
    // no duplicate centroids in a valid mesh -> idempotent here
    assert(deduped.size === filtered.size)
    val again = SpecimenCut.dedupByCentroid(
      deduped ++ deduped, 1e-6) // force exact duplicates
    assert(again.size === deduped.size)
    // near-duplicates across a cell boundary (x = 1 -/+ 2e-7 at eps 1e-6):
    // the higher id drops, a distant face stays
    def flat(g: Long, x: Double) = VoronoiMesh.Facet(g, 0, (1 to 4).flatMap(_ => Seq(x, 5.0, 1.0)))
    val near = Seq(flat(0, 1 - 2e-7), flat(1, 1 + 2e-7), flat(2, 3.0))
    assert(SpecimenCut.dedupByCentroid(near, 1e-6).map(_.grainId).sorted === Seq(0L, 2L))
    // the strips above cross both planes, so `filtered` is empty; over all
    // quads every interior wall is built once per neighbouring grain, and
    // dedup keeps one copy of each
    val walls = SpecimenCut.dedupByCentroid(quads, 1e-6)
    assert(walls.size < quads.size && 2 * walls.size > quads.size)
    // an exact duplicate under a higher id drops too, whatever the input order
    assert(SpecimenCut.dedupByCentroid(flat(4, 3.0) +: near, 1e-6).map(_.grainId) === Seq(0L, 2L))
    val rotated = quads.flatMap(SpecimenCut.strips(_, 1, 90.0, cfg.width / 2, cfg.height / 2))
    assert(rotated.size === quads.size)
    val back = SpecimenCut.translate(rotated, 5, -5, 1)
    assert(back.size === quads.size)
    assert(back.head.xyz.take(3) === rotated.head.xyz.take(3).zip(Seq(5.0, -5.0, 1.0)).map {
      case (v, d) => v + d })
  }

  private val specimenCfg = VoronoiMesh.MeshConfig(width = 100.0, height = 100.0,
    nGrains = 24, relaxIterations = 1, sampleN = 2000, seed = 1001L, extrusion = 20.0)

  test("generate is a function of the seed alone: same layers and facets at two leaf parallelisms") {
    def run(parallelism: Int) = {
      spark.conf.set("spark.sql.leafNodeDefaultParallelism", parallelism.toString)
      try {
        val r = IcePipeline.generate(spark, specimenCfg)
        (r.selected, r.layer2, r.facets.collect().map(_.toSeq).sortBy(_.take(2).mkString(",")).toSeq)
      } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
    }
    val (a, b) = (run(1), run(3))
    assert(a._1.nonEmpty && a._3.nonEmpty)
    assert(a === b)
  }

  test("cut equals a plain-Scala reference over the facet file for every solid and rotation") {
    val res = IcePipeline.generate(spark, specimenCfg)
    val file = s"$tmp/cut/facets.txt"
    IcePipeline.exportFacets(res.facets, file)
    val lines = Files.readAllLines(Paths.get(file)).asScala.map(_.trim.split("\\s+").map(_.toDouble)).toSeq
    val (h, n, mid) = (specimenCfg.extrusion, 4, specimenCfg.width / 2)
    def inside(solid: SpecimenCut.Solid, x: Double, y: Double, z: Double) = solid match {
      case SpecimenCut.Box(x1, x2, y1, y2, z1, z2) =>
        x >= x1 && x <= x2 && y >= y1 && y <= y2 && z >= z1 && z <= z2
      case SpecimenCut.Sphere(cx, cy, cz, r) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r * r
      case SpecimenCut.CylinderZ(cx, cy, z1, z2, r) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r && z >= z1 && z <= z2
    }
    // subdivide -> rotate -> centroid-in-solid -> two plane filters
    def reference(solid: SpecimenCut.Solid, deg: Double): Map[(Long, Int), Seq[Double]] = {
      val (c, s) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
      (for ((v, face) <- lines.zipWithIndex; j <- 0 until n) yield {
        def lerp(b: Int, t: Int, f: Double) = (0 to 2).map(k => v(3 * b + k) + (v(3 * t + k) - v(3 * b + k)) * f)
        val (t0, t1) = (j.toDouble / n, (j + 1).toDouble / n)
        val pts = Seq(lerp(0, 3, t0), lerp(1, 2, t0), lerp(1, 2, t1), lerp(0, 3, t1)).map { case Seq(x, y, z) =>
          Seq(mid + (x - mid) * c - (y - mid) * s, mid + (x - mid) * s + (y - mid) * c, z)
        }
        (face.toLong, j) -> pts
      }).filter { case (_, pts) =>
        val Seq(fx, fy, fz) = (0 to 2).map(k => pts.map(_(k)).sum / 4)
        val zs = pts.map(_(2))
        inside(solid, fx, fy, fz) && Seq(2.0, h - 2.0).forall(p => !(zs.min < p && zs.max > p))
      }.map { case (k, pts) => k -> pts.flatten }.toMap
    }
    val solids = Seq(SpecimenCut.Box(20, 80, 20, 80, 1, 19), SpecimenCut.Sphere(50, 50, 10, 35),
      SpecimenCut.CylinderZ(50, 50, 1, 19, 30))
    for (solid <- solids; deg <- Seq(0.0, 15.0, 30.0)) {
      val got = IcePipeline.cut(spark, file, solid, 2.0, h - 2.0, rotateDeg = deg,
          cx = mid, cy = mid, zStrips = n).collect()
        .map(r => (r.getAs[Long]("grain_id"), r.getAs[Int]("strip")) ->
          IcePipeline.FacetCols.map(r.getAs[Double])).toMap
      val want = reference(solid, deg)
      assert(want.nonEmpty && got.keySet === want.keySet, s"$solid at $deg")
      for ((k, v) <- want; (a, b) <- got(k).zip(v))
        assert(math.abs(a - b) <= 1e-9, s"$solid at $deg, face $k")
    }
  }

  private val solids = Seq(SpecimenCut.Box(20, 80, 20, 80, 1, 19), SpecimenCut.Sphere(50, 50, 10, 35),
    SpecimenCut.CylinderZ(50, 50, 1, 19, 30))

  test("cut over a multi-part directory written by Spark's text writer equals the cut over the file") {
    val file = s"$tmp/multi/facets.txt"
    IcePipeline.exportFacets(IcePipeline.generate(spark, specimenCfg).facets, file)
    val dir = s"$tmp/multi/parts"
    import spark.implicits._
    spark.sparkContext.parallelize(Files.readAllLines(Paths.get(file)).asScala.toSeq, 3)
      .toDF("value").write.text(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) === 3)
    for (solid <- solids) {
      def run(path: String) = IcePipeline.cut(spark, path, solid, 2.0, 18.0, rotateDeg = 30.0,
        cx = 50, cy = 50, zStrips = 4).collect().map(_.toSeq).toSeq
      val want = run(file)
      assert(want.nonEmpty && run(dir) === want, s"$solid")
    }
  }

  test("job budget: generate runs one job per Lloyd step, exportFacets none") {
    // the counts are exact: Lloyd is one job per iteration, and the export
    // sorts and writes the local facet frame on the driver
    for (r <- Seq(1, 3)) {
      val (res, n) = jobs(IcePipeline.generate(spark, specimenCfg.copy(relaxIterations = r)))
      assert(n.size === r, s"generate at $r iterations ran ${n.size} jobs")
      val (_, e) = jobs(IcePipeline.exportFacets(res.facets, s"$tmp/export$r/facets.txt"))
      assert(e.isEmpty, s"exportFacets ran ${e.size} jobs")
    }
  }

  test("job budget: cut collects with no job for every solid; writeParticles runs one job per partition") {
    val file = s"$tmp/budget/facets.txt"
    IcePipeline.exportFacets(IcePipeline.generate(spark, specimenCfg).facets, file)
    for (solid <- solids) {
      val (rows, n) = jobs(IcePipeline.cut(spark, file, solid, 2.0, 18.0, rotateDeg = 15.0,
        cx = 50, cy = 50, zStrips = 4).collect())
      assert(rows.nonEmpty && n.isEmpty, s"cut for $solid ran ${n.size} jobs")
    }
    // id; x, y, z, s4..s15 and radius; material_id; f18..f26
    val parts = (0 until 10).map(k =>
      Row.fromSeq(Seq[Any](k.toLong) ++ Seq.fill(16)(k * 0.5) ++ Seq[Any](k % 3) ++ Seq.fill(9)(0.0)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(parts, 3), Schemas.particle)
    val (_, w) = jobs(DeckCodec.writeParticles(df, s"$tmp/budget/particles.dat"))
    assert(w.size === 3, s"writeParticles over 3 partitions ran ${w.size} jobs")
  }
}
