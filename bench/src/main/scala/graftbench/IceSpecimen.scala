package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.formats.{DeckCodec, Schemas}
import graft.pipeline.{IcePipeline, SpecimenCut, VoronoiMesh}

/** `ice_specimen`: one op = one seeded specimen through the paper's
  * surface: `IcePipeline.generate`, `exportFacets`, `IcePipeline.cut`, a
  * particle-deck write and read-back through `DeckCodec`, and an SoA `.bin`
  * write and full and column-pruned reads through `graft.sources`. The mesh
  * seed and the specimen solid rotate with the op index.
  */
final class IceSpecimen(spark: SparkSession, work: String, seed: Long,
                        trace: Trace) extends Workload {
  import IceSpecimen._

  private val deckBytes, soaBytes = collection.mutable.ArrayBuffer.empty[Double]

  override def opsPerRound: Int = Round
  override def inputs: Seq[(String, Any)] = Seq("specimens_per_round" -> Round,
    "grains" -> Mesh.nGrains, "lloyd_iterations" -> Mesh.relaxIterations,
    "lloyd_samples" -> Mesh.sampleN, "domain" -> s"${Mesh.width}x${Mesh.height}x${Mesh.extrusion}",
    "cut_z_strips" -> ZStrips, "soa_steps" -> Steps, "solids" -> "box/sphere/cylinder")

  override def setup(): Unit = {
    // warm-up: one specimen, from a seed no timed op uses
    val r = specimen(-1, 0)
    require(errors(r).isEmpty, s"warm-up specimen failed its check: ${errors(r).mkString("; ")}")
  }

  override def before(i: Int): Unit = FileUtils.deleteDirectory(new File(s"$work/ice"))

  override def counters(): Map[String, Double] = Map(
    "formats.deck_bytes" -> deckBytes.sum / deckBytes.size,
    "sources.soa_bytes" -> soaBytes.sum / soaBytes.size)

  override def label(i: Int): String = s"${Solids(i % 3).getClass.getSimpleName} seed ${seed * 1000 + i}"

  override def op(i: Int): () => Boolean = {
    val r = specimen(i, i % 3)
    () => {
      deckBytes += new File(r.deckPath).length()
      soaBytes += FileUtils.listFiles(new File(r.soaDir), Array("bin"), false).asScala.map(_.length()).sum
      errors(r).isEmpty
    }
  }

  /** Runs one specimen and returns what each format read back, next to
    * what the benchmark wrote into it; [[errors]] compares them.
    */
  private def specimen(i: Int, solid: Int): Readback = {
    val dir = s"$work/ice/$i"
    Files.createDirectories(Paths.get(dir))
    val cfg = Mesh.copy(seed = seed * 1000 + i)
    val gen = trace.call("pipeline.generate") { IcePipeline.generate(spark, cfg) }
    val facetPath = s"$dir/facets.txt"
    trace.call("formats.facet_export") { IcePipeline.exportFacets(gen.facets, facetPath) }
    val cut = trace.call("pipeline.cut") {
      IcePipeline.cut(spark, facetPath, Solids(solid), 2.0, Mesh.extrusion - 2.0,
        rotateDeg = 15.0 * (i % 4), cx = Mesh.width / 2, cy = Mesh.height / 2, zStrips = ZStrips).collect()
    }
    val parts = particles(cut)
    val deckPath = s"$dir/particles.dat"
    trace.call("formats.deck_write") {
      DeckCodec.writeParticles(spark.createDataFrame(parts.asJava, Schemas.particle), deckPath)
    }
    val (deck, declared) = trace.call("formats.deck_read") {
      val df = DeckCodec.readParticles(spark, deckPath)
      (df.collect(), DeckCodec.declaredCount(deckPath))
    }
    val snap = snapshot(parts)
    val soaDir = s"$dir/soa"
    trace.call("sources.soa_write") {
      spark.createDataFrame(snap.asJava, Schemas.snapshot).write
        .format(SoA).option("path", soaDir).mode("append").save()
    }
    val soaGlob = s"$soaDir/MLSOut*.bin"
    val full = trace.call("sources.soa_read") {
      spark.read.format(SoA).load(soaGlob).collect()
    }
    val pruned = trace.call("sources.soa_pruned_read") {
      spark.read.format(SoA).load(soaGlob).select(PrunedCols.map(col): _*).collect()
    }
    Readback(cut.length, parts, deck, declared, snap, full, pruned, deckPath, soaDir)
  }
}

object IceSpecimen {
  val Round = 3
  val Steps = 3
  val ZStrips = 4
  val SoA = "graft.sources.SoABinSource"
  val PrunedCols: Seq[String] = Seq("step", "particle_id", "uz")
  val Mesh: VoronoiMesh.MeshConfig = VoronoiMesh.MeshConfig(width = 100.0, height = 100.0,
    nGrains = 24, relaxIterations = 1, sampleN = 2000, extrusion = 20.0)
  val Solids: IndexedSeq[SpecimenCut.Solid] = IndexedSeq(
    SpecimenCut.Box(20, 80, 20, 80, 1, 19),
    SpecimenCut.Sphere(50, 50, 10, 35),
    SpecimenCut.CylinderZ(50, 50, 1, 19, 30))

  final case class Readback(cutFacets: Int, parts: Seq[Row], deck: Seq[Row], declared: Long,
                            snap: Seq[Row], full: Seq[Row], pruned: Seq[Row],
                            deckPath: String, soaDir: String)

  /** Every way a specimen's read-backs differ from what was written. */
  def errors(r: Readback): Seq[String] = Seq(
    "cut left no facets" -> (r.cutFacets == 0),
    "deck read-back differs" -> !sameRows(r.deck, r.parts),
    "deck count header differs from its rows" -> (r.declared != r.deck.length),
    "SoA read-back differs" -> !sameRows(r.full, r.snap),
    "SoA pruned read differs from the projection" -> !sameRows(r.pruned,
      r.snap.map(x => Row(PrunedCols.map(c => x.get(Schemas.snapshot.fieldIndex(c))): _*)))
  ).collect { case (m, true) => m }

  /** One particle per cut facet, at the facet's centroid. */
  def particles(facets: Array[Row]): Seq[Row] = facets.toSeq.zipWithIndex.map { case (f, k) =>
    def c(a: String) = (1 to 4).map(v => f.getAs[Double](s"$a$v")).sum / 4
    val (x, y, z) = (c("x"), c("y"), c("z"))
    Row.fromSeq(Seq[Any](k.toLong, x, y, z) ++ (4 to 15).map(s => x * s - z) ++
      Seq[Any](0.5 + (k % 7) * 0.25, k % 3) ++ (18 to 26).map(s => y / s))
  }

  /** `Steps` snapshots of displacement per particle. */
  def snapshot(parts: Seq[Row]): Seq[Row] = for {
    s <- 0 until Steps; p <- parts
  } yield {
    val id = p.getLong(0)
    Row(s.toLong, id, (p.getDouble(1) * s * 1e-3).toFloat,
      (p.getDouble(2) * s * 1e-3).toFloat, (-p.getDouble(3) * s * 1e-3).toFloat, (id % 2).toFloat)
  }

  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
    a.map(key).sorted == b.map(key).sorted
  }
}
