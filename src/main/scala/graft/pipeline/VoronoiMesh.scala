package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom.{Coordinate, Envelope, GeometryFactory, Polygon}
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

/** The reference's mesh-generation pipeline (`GenerateColumnar.py:61-332`)
  * recomposed with SEEDED determinism (the reference's RNG is unseeded —
  * SURVEY §3.1 — so we match shape/property, not bits). Only the sample
  * cloud scales past the grain count, so only Lloyd touches Spark; every
  * later stage is bounded by grain count and runs as plain Scala on the
  * driver (SURVEY §7.3):
  *
  *  1. seed sampling (F5)       — every draw is [[uniform]] of (seed,
  *     stream, row or grain id), so no draw depends on partitioning.
  *  2. Lloyd relaxation (G1)    — k-means-style: one Spark job per step
  *     assigns each sample of the distributed cloud to its nearest seed and
  *     sums each cell on the executors; the driver moves every seed to its
  *     cell's mean.
  *  3. Voronoi topology         — JTS `VoronoiDiagramBuilder` as the
  *     geometry kernel (the reference likewise hands geometry to
  *     scipy/Rhino), clipped to the domain box.
  *  4. node dedup (DD1)         — 6-dp keys → dense node ids in first-seen
  *     order (`GenerateColumnar.py:145-152`).
  *  5. boundary grains (P3) and facet quads (W1: each polygon edge, cyclic
  *     next vertex, extruded — `GenerateColumnar.py:308-332`).
  */
object VoronoiMesh {

  final case class MeshConfig(
      width: Double = 200.0, height: Double = 200.0,
      nGrains: Int = 150, relaxIterations: Int = 10,
      sampleN: Int = 40000, seed: Long = 42L,
      extrusion: Double = 25.0, boundaryTol: Double = 1e-3)

  /** A clipped Voronoi cell: its ring, CCW, closing vertex dropped. */
  final case class Cell(grainId: Long, ring: IndexedSeq[(Double, Double)])

  /** A lateral quad as the facet sink writes it: x1,y1,z1 .. x4,y4,z4,
    * wound bottom → bottom-next → top-next → top.
    */
  final case class Facet(grainId: Long, pos: Int, xyz: IndexedSeq[Double])

  private def mix(z0: Long): Long = { // SplitMix64 finaliser
    val z = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
    val w = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    w ^ (w >>> 31)
  }

  /** F5 — a uniform draw in [0, 1) that is a function of (seed, stream, id)
    * alone, whichever task or partition computes it.
    */
  def uniform(seed: Long, stream: Int, id: Long): Double =
    (mix(mix(mix(seed) + stream) + id) >>> 11).toDouble / (1L << 53)

  /** Uniform seed points (F5); the index is the grain id. */
  def initialSeeds(cfg: MeshConfig): Array[(Double, Double)] =
    Array.tabulate(cfg.nGrains)(g =>
      (uniform(cfg.seed, 0, g) * cfg.width, uniform(cfg.seed, 1, g) * cfg.height))

  private val SamplesPerSlice = 1 << 16

  /** The Lloyd sample cloud (sample_id, px, py): distributed, one row per
    * sample. Its slice count follows `sampleN` alone, so each cell's sum
    * is the same at every session parallelism.
    */
  def samples(spark: SparkSession, cfg: MeshConfig): DataFrame = {
    import spark.implicits._
    val (seed, w, h) = (cfg.seed, cfg.width, cfg.height)
    spark.range(0, cfg.sampleN, 1, math.max(1, (cfg.sampleN + SamplesPerSlice - 1) / SamplesPerSlice))
      .map(id => (id.longValue, uniform(seed, 2, id) * w, uniform(seed, 3, id) * h))
      .toDF("sample_id", "px", "py")
  }

  /** One Lloyd step in one Spark job and no shuffle: each partition assigns
    * its samples to the nearest seed (ties to the lowest grain id) and sums
    * every cell; the driver adds the partitions up in partition order and
    * moves each seed to its cell's mean. A seed with an empty cell stays
    * put. The seeds ride in the task closure as data, so the plan is the
    * same for every specimen. Returns (new seeds, mean seed displacement).
    */
  def lloydStep(samples: DataFrame, seeds: Array[(Double, Double)]): (Array[(Double, Double)], Double) = {
    val (sx, sy) = seeds.unzip
    val n = seeds.length
    val parts = samples.select("px", "py").rdd.mapPartitions { rows =>
      val acc = new Array[Double](3 * n)
      rows.foreach { r =>
        val (px, py) = (r.getDouble(0), r.getDouble(1))
        var (best, bestD, g) = (0, Double.PositiveInfinity, 0)
        while (g < n) {
          val d = (px - sx(g)) * (px - sx(g)) + (py - sy(g)) * (py - sy(g))
          if (d < bestD) { best = g; bestD = d }
          g += 1
        }
        acc(3 * best) += px; acc(3 * best + 1) += py; acc(3 * best + 2) += 1
      }
      Iterator(acc)
    }.collect()
    def total(i: Int) = parts.foldLeft(0.0)(_ + _(i))
    val moved = Array.tabulate(n) { g =>
      val cnt = total(3 * g + 2)
      if (cnt == 0) seeds(g) else (total(3 * g) / cnt, total(3 * g + 1) / cnt)
    }
    val disp = seeds.indices.map { g =>
      val (dx, dy) = (moved(g)._1 - seeds(g)._1, moved(g)._2 - seeds(g)._2)
      math.sqrt(dx * dx + dy * dy)
    }.sum / n
    (moved, disp)
  }

  /** G1 — full relaxation loop; returns relaxed seeds (index = grain id)
    * and the per-iteration mean displacement trace (monotone-ish
    * decreasing; property-tested).
    */
  def lloydRelax(spark: SparkSession, cfg: MeshConfig): (Array[(Double, Double)], Seq[Double]) = {
    val cloud = samples(spark, cfg)
    (0 until cfg.relaxIterations).foldLeft((initialSeeds(cfg), Vector.empty[Double])) {
      case ((seeds, disps), _) =>
        val (next, d) = lloydStep(cloud, seeds)
        (next, disps :+ d)
    }
  }

  /** Voronoi cells of the seeds, clipped to the domain box; JTS is the
    * geometry kernel, like the reference's scipy/Rhino
    * (`BooleanOperation.py:104-109` crosses into Rhino for exactly this).
    * One cell per seed in grain-id order; degenerate cells drop (validity
    * filter P5).
    */
  def cells(seeds: Array[(Double, Double)], cfg: MeshConfig): Seq[Cell] = {
    val gf = new GeometryFactory()
    val builder = new VoronoiDiagramBuilder()
    builder.setSites(seeds.map { case (x, y) => new Coordinate(x, y) }.toSeq.asJava)
    val env = new Envelope(0, cfg.width, 0, cfg.height)
    builder.setClipEnvelope(env)
    val diagram = builder.getDiagram(gf)
    val box = gf.toGeometry(env)
    // map each cell back to its seed (cell userData = site coordinate)
    val bySite = (0 until diagram.getNumGeometries).map { i =>
      val site = diagram.getGeometryN(i).getUserData.asInstanceOf[Coordinate]
      (site.x, site.y) -> diagram.getGeometryN(i)
    }.toMap
    seeds.indices.flatMap { g =>
      bySite.get(seeds(g)).map(_.intersection(box)).collect {
        case p: Polygon if !p.isEmpty =>
          val shell = p.getExteriorRing
          val ring = shell.getCoordinates.toIndexedSeq.dropRight(1).map(c => (c.x, c.y))
          // enforce CCW orientation (reference orients polygons, :140)
          Cell(g, if (Orientation.isCCW(shell.getCoordinateSequence)) ring else ring.reverse)
      }
    }
  }

  /** DD1 — 6-dp node dedup: dense node ids in first-seen (grain, pos)
    * order. Returns (node coordinates by node id, elements as
    * (grain_id, pos, node_id) in cell order).
    */
  def dedupNodes(cells: Seq[Cell]): (IndexedSeq[(Double, Double)], IndexedSeq[(Long, Int, Long)]) = {
    val ids = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    val nodes = IndexedSeq.newBuilder[(Double, Double)]
    val elements = for (c <- cells.toIndexedSeq; (p, pos) <- c.ring.zipWithIndex) yield
      (c.grainId, pos, ids.getOrElseUpdate((math.round(p._1 * 1e6), math.round(p._2 * 1e6)),
        { nodes += p; ids.size.toLong }))
    (nodes.result(), elements)
  }

  /** P3 — boundary grains: any vertex within tol of the domain edge
    * (`GenerateColumnar.py:236-243`).
    */
  def boundaryGrains(cells: Seq[Cell], cfg: MeshConfig): Set[Long] = {
    val tol = cfg.boundaryTol
    cells.filter(_.ring.exists { case (x, y) =>
      x <= tol || x >= cfg.width - tol || y <= tol || y >= cfg.height - tol
    }).map(_.grainId).toSet
  }

  /** W1 — facet quads: each polygon edge (vertex j → cyclic next) extruded
    * to a 3-D quad (`GenerateColumnar.py:318-330`).
    */
  def facetQuads(cell: Cell, extrusion: Double): IndexedSeq[Facet] = {
    val r = cell.ring
    r.indices.map { j =>
      val ((x, y), (nx, ny)) = (r(j), r((j + 1) % r.size))
      Facet(cell.grainId, j, Vector(x, y, 0.0, nx, ny, 0.0, nx, ny, extrusion, x, y, extrusion))
    }
  }
}
