package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.formats.DeckCodec
import graft.pipeline.VoronoiMesh.Facet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end recomposition of the reference's two pipelines
  * (SURVEY §3.1-§3.2), seeded and deterministic:
  *
  *  `generate(...)` = `GenerateColumnar.py`'s process_logic: seeds → Lloyd
  *  relaxation → Voronoi topology → node dedup → boundary detection →
  *  two-layer greedy selection → taper shrink → facet export
  *  ("InitialColumnarIce.txt" shape: 12 fixed-8dp floats per line). Lloyd
  *  is the only Spark work (one job per iteration over the sample cloud);
  *  the rest is one driver pass over the grain-bounded cells, and the
  *  facet, node and element tables come back as one local frame each.
  *
  *  `cut(...)` = `BooleanOperation.py`: import → dedup → subdivide and
  *  rotate → cut by specimen solid → chained plane anti-filters, all in
  *  Spark over the facet file.
  */
object IcePipeline {

  final case class Result(facets: DataFrame, selected: Seq[Long], layer2: Seq[Long],
      nodes: DataFrame, elements: DataFrame)

  /** The generation pipeline; returns the tapered facet table for the two
    * selected layers plus the mesh tables. `nJoint` sizes each selection
    * layer at ceil(n/nJoint) (`GenerateColumnar.py:251`).
    */
  def generate(spark: SparkSession, cfg: VoronoiMesh.MeshConfig,
               baseAngleDeg: Double = 8.0, nJoint: Int = 6): Result = {
    import spark.implicits._
    val (seeds, _) = VoronoiMesh.lloydRelax(spark, cfg)
    val cells = VoronoiMesh.cells(seeds, cfg)
    val (nodes, elements) = VoronoiMesh.dedupNodes(cells)
    val adj = GrainSelect.adjacency(elements)
    // eligible pool: interior grains only (boundary grains excluded,
    // GenerateColumnar.py:246)
    val boundary = VoronoiMesh.boundaryGrains(cells, cfg)
    val eligible = cells.map(_.grainId).filterNot(boundary)
    // layer size is ceil(|eligible| / n_joint) — over the INTERIOR pool,
    // not all grains (GenerateColumnar.py:252 "num_select =
    // ceil(len(eligible_indices) / n_joint)")
    val k = math.ceil(eligible.size.toDouble / nJoint).toInt
    val layer1 = GrainSelect.greedyIndependentSet(adj, eligible, k)
    val layer2 = GrainSelect.greedyIndependentSet(
      adj, GrainSelect.excludePool(eligible, adj, layer1), k)
    val chosen = (layer1 ++ layer2).toSet // only selected grains export facets
    val tapered = cells.filter(c => chosen(c.grainId)).flatMap(c => GrainSelect.taperShrink(
      VoronoiMesh.facetQuads(c, cfg.extrusion),
      GrainSelect.taperAngle(cfg.seed, c.grainId, baseAngleDeg), cfg.extrusion))
    Result(facetFrame(spark, tapered), layer1, layer2,
      nodes.zipWithIndex.map { case ((x, y), id) => (id.toLong, x, y) }.toDF("node_id", "x", "y"),
      elements.toDF("grain_id", "pos", "node_id"))
  }

  val FacetCols: Seq[String] =
    (1 to 4).flatMap(v => Seq(s"x$v", s"y$v", s"z$v"))

  private val FacetSchema = StructType(
    Seq(StructField("grain_id", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false)) ++
    FacetCols.map(StructField(_, DoubleType, nullable = false)))

  /** The facet table (grain_id, pos, x1..z4) of driver-side facets. */
  def facetFrame(spark: SparkSession, facets: Seq[Facet]): DataFrame =
    spark.createDataFrame(
      facets.map(f => Row.fromSeq(Seq[Any](f.grainId, f.pos) ++ f.xyz)).asJava, FacetSchema)

  /** Export the facet table in the reference's facet-sink format (S6). */
  def exportFacets(facets: DataFrame, path: String): Unit =
    DeckCodec.writeFacetQuads(
      facets.orderBy("grain_id", "pos"), FacetCols, path)

  /** The cutting pipeline over a facet file produced by [[exportFacets]]
    * (or the reference generator): returns the final facet table.
    */
  def cut(spark: SparkSession, facetPath: String, solid: SpecimenCut.Solid,
          planeLo: Double, planeHi: Double, rotateDeg: Double = 0.0,
          cx: Double = 0.0, cy: Double = 0.0, zStrips: Int = 10): DataFrame = {
    // S1-style import of 12-float rows back into the facet frame
    val parts = split(trim(col("value")), "\\s+")
    val parsed = spark.read.text(facetPath)
      .filter(size(parts) === 12)
      .select(FacetCols.zipWithIndex.map { case (c, i) =>
        element_at(parts, i + 1).cast("double").as(c)
      } :+ monotonically_increasing_id().as("grain_id") :+ lit(0).as("pos"): _*) // synthetic face id
    val deduped = SpecimenCut.dedupByCentroid(parsed, 1e-6)
    val kept = SpecimenCut.strips(deduped, zStrips, rotateDeg, cx, cy, field =>
      SpecimenCut.cutBySolid(solid)(field) && SpecimenCut.removePlaneCrossers(planeLo)(field) &&
        SpecimenCut.removePlaneCrossers(planeHi)(field))
    kept.select((Seq("grain_id", "pos", "strip") ++ FacetCols).map(col): _*)
  }
}
