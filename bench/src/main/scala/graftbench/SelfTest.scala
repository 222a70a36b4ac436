package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own checks, run by `bench/test_bench.py`: the input
  * generators are deterministic, the key-list guard trips, and each
  * workload's check rejects a planted wrong answer.
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"selftest failed: $what")
    println(s"selftest ok: $what")
  }

  def run(spark: SparkSession, a: Main.Args): Unit = {
    val work = a("work")
    val trace = new Trace(spark.sparkContext, on = false)

    // generators
    def render(s: Long) = CurationIngest.Generator.cycle(s, 0).map(_.docs.map(d =>
      s"${d.id}|${d.text}|${d.emb.map(_.mkString(",")).orNull}|${d.expect}|${d.matched}"))
    expect(render(5) == render(5) && render(5) != render(6),
      "curation batches are a function of the seed")

    // key-list guard
    val catalog = graft.SparkEntry.queries.keySet
    val listed = CatalogRead.readKeys(a("keys"), catalog)
    def trips(lines: Seq[String]): Boolean = {
      val f = Files.createTempFile(Paths.get(work), "keys", ".txt")
      Files.write(f, lines.asJava)
      try { CatalogRead.readKeys(f.toString, catalog); false }
      catch { case _: IllegalStateException => true }
    }
    val committed = Files.readAllLines(Paths.get(a("keys"))).asScala.toSeq
      .filterNot(_.startsWith("#"))
    expect(listed.nonEmpty && !trips(committed), "the committed key list matches the catalog")
    expect(trips(committed.tail), "a catalog key missing from the list trips the guard")
    expect(trips(committed :+ "read q_no_such_key"), "a listed key not in the catalog trips the guard")

    // catalog_read: digest check
    CatalogRead.loadTables(spark, a("data"))
    val key = listed.head
    def digest(): DigestSink.Digest = {
      CatalogRead.save(graft.SparkEntry.queries(key)(spark, a("data")), key)
      DigestSink.results.remove(key)
    }
    val d1 = digest()
    expect(d1.rows > 0 && digest() == d1, s"$key digests equal on a rerun")
    expect(d1.copy(hash = d1.hash + 1) != d1 && d1.copy(rows = d1.rows - 1) != d1,
      "a corrupted digest fails the catalog check")

    // curation_ingest: a planted twin left kept
    val cur = new CurationIngest(spark, s"$work/st", 5, trace)
    cur.setup()
    val ok = (0 until 2).map(i => cur.op(i)())
    expect(ok.forall(identity), "two seeded batches pass the curation check")
    val b = CurationIngest.Generator.cycle(11, 0).head
    val dir = s"$work/st2"
    val df = CurationIngest.frame(spark, b)
    val staged = graft.ops.UnifiedFlow.decide(dir, df, CurationIngest.benchFrame(spark), 0L)
    val decisions = staged.decisions.collect()
    graft.ops.UnifiedFlow.commit(dir, staged)
    expect(CurationIngest.check(spark, dir, b, decisions, 0L, staged.cursor).isEmpty,
      "the untouched batch passes the curation check")
    val twin = b.docs.find(_.expect == "exact_batch").get.id
    val planted = decisions.map(r => if (r.getLong(0) != twin) r else
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        r.toSeq.updated(1, "kept").updated(2, null).toArray, r.schema))
    expect(CurationIngest.check(spark, dir, b, planted, 0L, staged.cursor).nonEmpty,
      "a planted twin left kept fails the curation check")
    expect(CurationIngest.check(spark, dir, b, decisions, 0L, staged.cursor + 1).nonEmpty,
      "a cursor gap fails the curation check")

    // ice_specimen: a flipped SoA byte
    val ice = new IceSpecimen(spark, s"$work/ice-st", 5, trace)
    ice.before(0)
    expect(ice.op(0)(), "a seeded specimen passes the ice check")
    val parts = (0 until 20).map(k => Row.fromSeq(Seq(k.toLong) ++ Seq.fill(15)(k * 1.5) ++
      Seq(1.0, 1) ++ Seq.fill(9)(0.25)))
    val snap = IceSpecimen.snapshot(parts)
    val soa = s"$work/soa-st"
    spark.createDataFrame(snap.asJava, graft.formats.Schemas.snapshot).write
      .format(IceSpecimen.SoA).option("path", soa).mode("append").save()
    def read(): Seq[Row] = spark.read.format(IceSpecimen.SoA).load(s"$soa/MLSOut*.bin").collect().toSeq
    expect(IceSpecimen.sameRows(read(), snap), "the SoA round trip is equal")
    val bin = new File(soa).listFiles().filter(_.getName.endsWith(".bin")).minBy(_.getName).toPath
    val bytes = Files.readAllBytes(bin)
    bytes(bytes.length - 3) = (bytes(bytes.length - 3) ^ 0x40).toByte
    Files.write(bin, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    expect(!IceSpecimen.sameRows(read(), snap), "a flipped SoA byte fails the ice check")
    spark.stop()
  }
}
