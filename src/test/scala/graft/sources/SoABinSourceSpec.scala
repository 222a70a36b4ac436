package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.formats.SoABin
import org.apache.spark.sql.functions._

class SoABinSourceSpec extends SparkTestBase {

  private val golden = "/root/reference/BrazilSplitTest/Output/MLSOut00007250.bin"
  private val glob = "/root/reference/BrazilSplitTest/Output/MLSOut0000[0-3]*.bin"

  private def viaV2(path: String) =
    spark.read.format("graft.sources.SoABinSource").load(path)

  test("DSv2 source == binaryFile codec on the golden snapshot") {
    assume(Files.exists(Paths.get(golden)))
    val v2 = viaV2(golden)
    val v1 = SoABin.read(spark, golden)
    assert(v2.count() === 49400)
    assert(v2.schema === v1.schema)
    assert(v2.except(v1).isEmpty && v1.except(v2).isEmpty)
  }

  test("glob: one partition per file, steps from filenames") {
    assume(Files.exists(Paths.get(golden)))
    val v2 = viaV2(glob)
    val steps = v2.select("step").distinct().count()
    assert(steps > 1)
    assert(v2.rdd.getNumPartitions === steps) // 1 file = 1 partition
  }

  test("DSv2 write: one file per step, byte-exact round trip, declared sort honored") {
    import spark.implicits._
    val dir = Files.createTempDirectory("soawrite").toString
    val n = 500
    // deliberately unsorted, multi-step input: the write's
    // RequiresDistributionAndOrdering must cluster and sort it
    val src = new scala.util.Random(3).shuffle(
      (0 until 3).flatMap(s => (0 until n).map(i =>
        (s * 250L, i.toLong, i * 0.5f + s, -i * 0.25f, i * 1.5f, 1.0f))))
      .toDF("step", "particle_id", "ux", "uy", "uz", "flag")
      .repartition(7)
    src.write.format("graft.sources.SoABinSource")
      .option("path", dir).mode("append").save()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bin"))
    assert(files.map(_.getName).sorted.toSeq ===
      Seq("MLSOut000000.bin", "MLSOut000250.bin", "MLSOut000500.bin"))
    assert(files.forall(_.length === 4 + 4 * 4 * n))
    val back = SoABin.read(spark, s"$dir/*.bin")
    assert(back.count() === 3 * n)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("DSv2 write: a rename that returns false fails the write and leaves no tmp file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("soarefuse").toString
    val src = Seq((0L, 0L, 1f, 2f, 3f, 1f), (0L, 1L, 4f, 5f, 6f, 1f))
      .toDF("step", "particle_id", "ux", "uy", "uz", "flag")
    intercept[Exception] {
      src.write.format("graft.sources.SoABinSource")
        .option("path", s"refuserename://$dir").mode("append").save()
    }
    // no snapshot published, and the aborted write dropped its tmp files
    assert(new java.io.File(dir).list().toSeq === Nil)
  }

  test("column pruning reaches the scan (PosItem.ini-style projection)") {
    assume(Files.exists(Paths.get(golden)))
    val pruned = viaV2(golden).select("uy")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("SoABinScan(uy)"), plan) // only uy materialized
    val m = pruned.agg(min("uy")).head().getFloat(0)
    assert(math.abs(m - (-0.0145f)) < 1e-6)
  }
}
