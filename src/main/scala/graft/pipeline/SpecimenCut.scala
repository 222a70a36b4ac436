package graft.pipeline

import org.apache.spark.sql.Column

import graft.pipeline.VoronoiMesh.Facet

/** The reference's Boolean-cutting pipeline (`BooleanOperation.py`)
  * recomposed as a linear filter/map chain — which is what it is:
  * import → dedup → subdivide and rotate → cut against a specimen solid →
  * two chained anti-filters against clipping planes → export. Every stage
  * is bounded by the grain count (a few hundred facets per specimen, like
  * the reference's one-process script), so the chain runs as plain Scala on
  * the driver and [[IcePipeline.cut]] starts no Spark job.
  *
  * We cut by FACE-CENTROID membership tests against analytic solids
  * (box/sphere/cylinder — `BooleanOperation.py:24-39`) instead of calling
  * an external CAD kernel; the filter semantics (keep faces inside, drop
  * plane-crossers) match `BooleanOperation.py:118-149`. Faces and strips
  * are [[VoronoiMesh.Facet]]s (the rows of [[IcePipeline.facetFrame]]).
  */
object SpecimenCut {

  /** A specimen solid; the cut tests points, layout pruning tests columns. */
  sealed trait Solid {
    def contains(x: Column, y: Column, z: Column): Column
    def contains(x: Double, y: Double, z: Double): Boolean
  }

  final case class Box(x1: Double, x2: Double, y1: Double, y2: Double,
                       z1: Double, z2: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      x.between(x1, x2) && y.between(y1, y2) && z.between(z1, z2)
    def contains(x: Double, y: Double, z: Double): Boolean =
      x >= x1 && x <= x2 && y >= y1 && y <= y2 && z >= z1 && z <= z2
  }
  final case class Sphere(cx: Double, cy: Double, cz: Double, r: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r * r
    def contains(x: Double, y: Double, z: Double): Boolean =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r * r
  }
  /** Axis-aligned (z) cylinder, like the Rhino cylinder of `BooleanOperation.py:31-33`. */
  final case class CylinderZ(cx: Double, cy: Double, z1: Double, z2: Double,
                             r: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r && z.between(z1, z2)
    def contains(x: Double, y: Double, z: Double): Boolean =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r && z >= z1 && z <= z2
  }

  /** Mean of one axis (0 = x, 1 = y, 2 = z) over a quad's 4 vertices. */
  private def centroid(q: Facet, axis: Int): Double =
    (((q.xyz(axis) + q.xyz(3 + axis)) + q.xyz(6 + axis)) + q.xyz(9 + axis)) / 4

  /** The `_Split` analogue (`BooleanOperation.py:99-114` delegates this to
    * Rhino) fused with the rotation about z (F3,
    * `BooleanOperation.py:199-210`): each extruded quad becomes `n`
    * z-strips (strip j is element j, under the face's grain_id and pos), so
    * the solid cut and the plane filters act on locally small faces rather
    * than dropping whole full-height walls. Vertices interpolate linearly
    * between the bottom edge (v1→v2) and the top edge (v4→v3) — exact for
    * the extruded (and tapered, z-linear) facets this pipeline produces —
    * then turn `deg` degrees about (cx, cy).
    */
  def strips(face: Facet, n: Int, deg: Double = 0.0, cx: Double = 0.0,
             cy: Double = 0.0): IndexedSeq[Facet] = {
    val (c, s) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def lerp(b: Int, t: Int, k: Int, f: Double) =
      face.xyz(3 * b + k) + (face.xyz(3 * t + k) - face.xyz(3 * b + k)) * f
    (0 until n).map { j =>
      val (t0, t1) = (j.toDouble / n, (j + 1).toDouble / n)
      face.copy(xyz = Seq((0, 3, t0), (1, 2, t0), (1, 2, t1), (0, 3, t1)).flatMap { case (b, t, f) =>
        val (x, y, z) = (lerp(b, t, 0, f), lerp(b, t, 1, f), lerp(b, t, 2, f))
        if (deg == 0) Seq(x, y, z)
        else Seq(cx + (x - cx) * c - (y - cy) * s, cy + (x - cx) * s + (y - cy) * c, z)
      }.toIndexedSeq)
    }
  }

  /** Keep strips whose centroid lies inside the specimen solid (the "cut"). */
  def cutBySolid(solid: Solid)(q: Facet): Boolean =
    solid.contains(centroid(q, 0), centroid(q, 1), centroid(q, 2))

  /** P4 — drop strips crossing the horizontal plane z = planeZ (vertices on
    * both sides), the "remove results intersecting plant1/plant2" step
    * (`BooleanOperation.py:129-149`). Apply it once per plane.
    */
  def removePlaneCrossers(planeZ: Double)(q: Facet): Boolean =
    !(Seq(2, 5, 8, 11).exists(q.xyz(_) < planeZ) && Seq(2, 5, 8, 11).exists(q.xyz(_) > planeZ))

  /** DD2 — approximate face dedup: duplicate iff centroid within eps
    * (`BooleanOperation.py:85-95`'s O(n²) scan), via a 3-D hash grid of
    * cell size eps: a face is dropped iff a face with a lower
    * (grain_id, pos) in one of the 27 cells around its own lies within eps
    * on all three axes. Linear in the face count instead of quadratic;
    * input order is kept.
    */
  def dedupByCentroid(facets: Seq[Facet], eps: Double): Seq[Facet] = {
    val fs = facets.toIndexedSeq
    val cs = fs.map(f => (0 to 2).map(centroid(f, _)))
    def cell(i: Int): Seq[Long] = cs(i).map(c => math.floor(c / eps).toLong)
    val grid = fs.indices.groupBy(cell)
    fs.indices.filterNot { i =>
      val Seq(bx, by, bz) = cell(i)
      (for (dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1;
            k <- grid.getOrElse(Seq(bx + dx, by + dy, bz + dz), Nil)) yield k).exists { k =>
        Ordering[(Long, Int)].lt((fs(k).grainId, fs(k).pos), (fs(i).grainId, fs(i).pos)) &&
          cs(k).zip(cs(i)).forall { case (a, b) => math.abs(b - a) < eps }
      }
    }.map(fs)
  }

  /** Shift every vertex by (dx, dy, dz). */
  def translate(facets: Seq[Facet], dx: Double, dy: Double, dz: Double): Seq[Facet] =
    facets.map(f => f.copy(xyz = f.xyz.indices.map(i => f.xyz(i) + Seq(dx, dy, dz)(i % 3))))
}
