package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's Boolean-cutting pipeline (`BooleanOperation.py`)
  * recomposed as a linear DataFrame filter/map chain — which is what it is:
  * import → dedup → subdivide and rotate → cut against a specimen solid →
  * two chained anti-filters against clipping planes → export. It reads a
  * facet file of any size, so all of it stays in Spark; one `explode` per
  * face carries the per-strip geometry, and the filters read its
  * precomputed centroid and z range (see [[strips]]).
  *
  * We cut by FACE-CENTROID membership tests against analytic solids
  * (box/sphere/cylinder — `BooleanOperation.py:24-39`) instead of calling
  * an external CAD kernel; the filter semantics (keep faces inside, drop
  * plane-crossers) match `BooleanOperation.py:118-149`.
  *
  * Facet frame columns: grain_id, pos, x1..z4 (see
  * [[IcePipeline.facetFrame]]).
  */
object SpecimenCut {

  sealed trait Solid { def contains(x: Column, y: Column, z: Column): Column }

  final case class Box(x1: Double, x2: Double, y1: Double, y2: Double,
                       z1: Double, z2: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      x.between(x1, x2) && y.between(y1, y2) && z.between(z1, z2)
  }
  final case class Sphere(cx: Double, cy: Double, cz: Double, r: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= r * r
  }
  /** Axis-aligned (z) cylinder, like the Rhino cylinder of
    * `BooleanOperation.py:31-33`.
    */
  final case class CylinderZ(cx: Double, cy: Double, z1: Double, z2: Double,
                             r: Double) extends Solid {
    def contains(x: Column, y: Column, z: Column): Column =
      (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r && z.between(z1, z2)
  }

  private def centroid(c: String): Column =
    (col(s"${c}1") + col(s"${c}2") + col(s"${c}3") + col(s"${c}4")) / 4

  /** The `_Split` analogue (`BooleanOperation.py:99-114` delegates this to
    * Rhino) fused with the rotation about z (F3,
    * `BooleanOperation.py:199-210`): each extruded quad becomes `n`
    * z-strips, so the solid cut and the plane filters act on locally small
    * faces rather than dropping whole full-height walls. Vertices
    * interpolate linearly between the bottom edge (v1→v2) and the top edge
    * (v4→v3) — exact for the extruded (and tapered, z-linear) facets this
    * pipeline produces — then turn `deg` degrees about (cx, cy).
    *
    * Columns: grain_id, pos, strip, x1..z4, plus each strip's centroid
    * (fx, fy, fz) and z range (zlo, zhi), computed once. Only strips that
    * `keep` accepts (given a field getter, e.g. [[cutBySolid]]) come out.
    * Strips are built and kept inside one `transform`/`filter` over the
    * strip index and then exploded, so the optimizer sees no filter over
    * the lerp and rotation expressions (its constraint propagation grows
    * with every alias a filter contains) and the generated code does not
    * change with the solid or the angle. Row count ×n at most, no shuffle.
    */
  def strips(facets: DataFrame, n: Int, deg: Double = 0.0, cx: Double = 0.0, cy: Double = 0.0,
             keep: (String => Column) => Column = _ => lit(true)): DataFrame = {
    val (c, s) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def strip(j: Column): Column = {
      def lerp(v: String, b: Int, t: Int, f: Column) = col(s"$v$b") + (col(s"$v$t") - col(s"$v$b")) * f
      val (t0, t1) = (j.cast("double") / n, (j + 1).cast("double") / n)
      struct(j.as("strip") +: Seq((1, 4, t0), (2, 3, t0), (2, 3, t1), (1, 4, t1)).zipWithIndex.flatMap {
        case ((b, t, f), i) =>
          val (x, y) = (lerp("x", b, t, f), lerp("y", b, t, f))
          val (rx, ry) = if (deg == 0) (x, y)
            else (lit(cx) + (x - cx) * c - (y - cy) * s, lit(cy) + (x - cx) * s + (y - cy) * c)
          Seq(rx.as(s"x${i + 1}"), ry.as(s"y${i + 1}"), lerp("z", b, t, f).as(s"z${i + 1}"))
      }: _*)
    }
    // the centroid and z range read the strip's fields, not its expressions
    def measured(st: Column): Column = {
      def v(a: String) = (1 to 4).map(i => st.getField(s"$a$i"))
      struct((Seq("strip") ++ IcePipeline.FacetCols).map(f => st.getField(f).as(f)) ++
        Seq("x", "y", "z").map(a => (v(a).reduce(_ + _) / 4).as(s"f$a")) :+
        least(v("z"): _*).as("zlo") :+ greatest(v("z"): _*).as("zhi"): _*)
    }
    val all = transform(transform(sequence(lit(0), lit(n - 1)), j => strip(j)), st => measured(st))
    facets.select(col("grain_id"), col("pos"),
        explode(filter(all, st => keep(st.getField))).as("s"))
      .select("grain_id", "pos", "s.*")
  }

  /** Keep strips whose centroid lies inside the specimen solid (the "cut"). */
  def cutBySolid(solid: Solid)(field: String => Column): Column =
    solid.contains(field("fx"), field("fy"), field("fz"))

  /** P4 — drop strips crossing the horizontal plane z = planeZ (vertices on
    * both sides), the "remove results intersecting plant1/plant2" step
    * (`BooleanOperation.py:129-149`). And it with itself for two planes.
    */
  def removePlaneCrossers(planeZ: Double)(field: String => Column): Column =
    !(field("zlo") < planeZ && field("zhi") > planeZ)

  /** DD2 — approximate face dedup: duplicate iff centroid within eps
    * (`BooleanOperation.py:85-95`'s O(n²) scan), via 3-D cell binning:
    * every face registers in the 27 cells around its own, and a face is
    * dropped by one anti-join iff a lower (grain_id, pos) within eps
    * registered in its cell. Scales like the engine's CellSize grid instead
    * of quadratically.
    */
  def dedupByCentroid(facets: DataFrame, eps: Double): DataFrame = {
    val Seq(fx, fy, fz) = Seq("x", "y", "z").map(centroid)
    val keyed = facets.select(col("*"), fx.as("fcx"), fy.as("fcy"), fz.as("fcz"),
      floor(fx / eps).cast("long").as("bx"), floor(fy / eps).cast("long").as("by"),
      floor(fz / eps).cast("long").as("bz"), struct(col("grain_id"), col("pos")).as("fid"))
    val registered = keyed.select(col("fid").as("fid_b"), col("fcx").as("bx2"),
      col("fcy").as("by2"), col("fcz").as("bz2"),
      explode(array((-1 to 1).flatMap(dx => (-1 to 1).flatMap(dy => (-1 to 1).map(dz =>
        struct((col("bx") + dx).as("bx"), (col("by") + dy).as("by"),
          (col("bz") + dz).as("bz"))))): _*)).as("cell"))
    keyed.join(registered,
        struct(col("bx"), col("by"), col("bz")) === col("cell") &&
        col("fid_b") < col("fid") &&
        abs(col("fcx") - col("bx2")) < eps &&
        abs(col("fcy") - col("by2")) < eps &&
        abs(col("fcz") - col("bz2")) < eps, "left_anti")
      .drop("fcx", "fcy", "fcz", "bx", "by", "bz", "fid")
  }

  def translate(facets: DataFrame, dx: Double, dy: Double, dz: Double): DataFrame =
    (1 to 4).foldLeft(facets) { (df, i) =>
      df.withColumn(s"x$i", col(s"x$i") + dx)
        .withColumn(s"y$i", col(s"y$i") + dy)
        .withColumn(s"z$i", col(s"z$i") + dz)
    }
}
