package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch probe main — not part of the library surface. */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", graft.ops.FsUtil.localFsImpl)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline._

    // reference-default scale: 150 grains, 200x200 domain
    // (GenerateColumnar.py:401-406), 10 Lloyd iterations for the demo
    val cfg = VoronoiMesh.MeshConfig(
      width = 200, height = 200, nGrains = 150, relaxIterations = 10,
      sampleN = 40000, seed = 42L, extrusion = 25.0)
    val res = IcePipeline.generate(spark, cfg)
    println(s"layer1=${res.selected.length} ids=${res.selected.take(8)}...")
    println(s"layer2=${res.layer2.length} ids=${res.layer2.take(8)}...")
    println(s"nodes=${res.nodes.count()} elementRows=${res.elements.count()} facets=${res.facets.count()}")

    // a fresh temp dir per run, removed on exit: a fixed path would
    // overwrite (and leave behind) whatever another run wrote there
    val tmp = java.nio.file.Files.createTempDirectory("ice_facets")
    try {
      val out = tmp.resolve("facets").toString
      IcePipeline.exportFacets(res.facets, out)
      val raw = spark.read.text(out)
      println(s"exported lines=${raw.count()}")
      raw.show(2, truncate = false)

      val cutRes = IcePipeline.cut(spark, out,
        SpecimenCut.CylinderZ(100, 100, 0, 25, 60), planeLo = 2.0, planeHi = 23.0)
      println(s"after cut=${cutRes.count()} (from ${res.facets.count()})")
      cutRes.agg(min("z1"), max("z3"), min("x1"), max("x1")).show()
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
    spark.stop()
  }
}
