package graft.formats

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-format round-trips for the reference codecs (SURVEY §5.2.2);
  * fixtures are head/tail-derived excerpts of the reference decks
  * (FIXTURES.md §2).
  */
class FormatsSpec extends SparkTestBase {

  test("S2 particle deck: 100 rows, header count cross-check, invariants") {
    val path = fixture("ball3d_100.dat")
    val df = DeckCodec.readParticles(spark, path)
    assert(df.count() === 100)
    assert(DeckCodec.declaredCount(path) === 100)
    assert(DeckCodec.checkCount(df, path))
    val r = df.agg(min("radius"), max("radius"), max("material_id")).head()
    assert(r.getDouble(0) === 0.5 && r.getDouble(1) === 0.5)
    assert(r.getInt(2) === 1)
    // first fixture row: id 0 at (20.5, 0.5, 0.5)
    val first = df.orderBy("id").head()
    assert(first.getLong(0) === 0L && first.getDouble(1) === 20.5)
  }

  test("D6 bond edges: 50 rows, groups {1,10}") {
    val df = DeckCodec.readBonds(spark, fixture("mlsbond_50.dat"))
    assert(df.count() === 50)
    val groups = df.groupBy("group").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(groups === Map(1 -> 25L, 10 -> 25L))
  }

  test("S3 sectioned joint facets: 10 triangles + 11 scalars") {
    val (tris, scalars) = DeckCodec.readJointFacets(spark, fixture("mlsjdat_10.dat"))
    assert(tris.count() === 10)
    assert(scalars.count() === 11)
    val t0 = tris.orderBy("tri_id").head()
    assert(math.abs(t0.getDouble(1) - 8.94022374) < 1e-8) // x1 of first tri
    assert(scalars.agg(max(abs(col("aperture")))).head().getDouble(0) === 0.0)
  }

  test("D8 materials: block (count header) and joint (bare rows)") {
    val mat = DeckCodec.readMaterials(spark, fixture("mlsmat00.dat"))
    assert(mat.count() === 1)
    val m = mat.head()
    assert(m.getInt(0) === 1)
    assert(m.getDouble(1) === 9e6) // E
    assert(m.getDouble(2) === 0.3) // nu
    val jm = DeckCodec.readMaterials(spark, fixture("mlsjmat.dat"))
    assert(jm.count() === 1 && jm.head().length === 8)
  }

  test("D9 boundary conditions: uniaxial 2 BCs, biaxial 4 BCs with force ramp") {
    val uni = DeckCodec.readBoundaryConditions(fixture("mlsld00_uniaxial.dat"))
    assert(uni.length === 2)
    assert(uni(0).z1 === 0 && uni(0).z2 === 1 && uni(0).bcType === 1 && uni(0).dir === 2)
    assert(uni(0).curve === Seq((0.0, 0.0), (10.0, 0.0)))
    assert(uni(1).z1 === 49 && uni(1).z2 === 50)
    assert(uni(1).curve.map(_._2) === Seq(-20.0, -20.0)) // platen velocity
    val bi = DeckCodec.readBoundaryConditions(fixture("mlsld00_biaxial.dat"))
    assert(bi.length === 4)
    val ramp = bi.map(_.curve).find(_.length === 3)
    assert(ramp.isDefined, "biaxial deck declares a 3-point force ramp")
  }

  test("J6 interpolation: biaxial ramp value halfway and beyond the envelope") {
    import graft.ops.TimeOps
    val bi = DeckCodec.readBoundaryConditions(fixture("mlsld00_biaxial.dat"))
    val rampBc = bi.find(_.curve.length === 3).get
    val curve = DeckCodec.curveDf(spark, Seq(rampBc))
    val t0 = rampBc.curve(1)._1 // ramp end time
    val vEnd = rampBc.curve(1)._2
    import spark.implicits._
    val probes = Seq((rampBc.id, t0 / 2), (rampBc.id, t0), (rampBc.id, 1e9))
      .toDF("bc_id", "t")
    val got = TimeOps.interpolateCurve(curve, probes).orderBy("t").collect()
    assert(math.abs(got(0).getDouble(2) - vEnd / 2) < math.abs(vEnd) * 1e-12)
    assert(got(1).getDouble(2) === vEnd)   // exact at a knot
    assert(got(2).getDouble(2) === vEnd)   // held beyond the last knot
  }

  test("D12 measured series: 250-step cadence, 16 columns") {
    val df = DeckCodec.readMeasuredSeries(spark, fixture("mlsout_e_10.dat"))
    assert(df.columns.length === 16)
    val steps = df.orderBy("step").select("step").collect().map(_.getLong(0))
    assert(steps.sliding(2).forall(p => p.length < 2 || p(1) - p(0) === 250))
  }

  test("D14/D16 manifest + projection mask") {
    val m = DeckCodec.readManifest(fixture("mls_manifest.txt"))
    assert(m.settings === "MLS00con.dat" && m.geometry === "BALL3D_PSLICE.dat")
    assert(m.outputPrefix === "MLSOut00" && m.restart === 0)
    val mask = DeckCodec.readPosItemMask(fixture("positem.ini"))
    assert(mask.length === 28 && mask.sum === 4) // 28 items, 4 selected
    val items = (0 until 28).map(i => s"item$i")
    assert(DeckCodec.maskToColumns(mask, items) === Seq("item4", "item5", "item6", "item20"))
  }

  test("S4 SoA golden: real Brazil snapshot (49400 particles, flag==1, platen uy)") {
    val golden = "/root/reference/BrazilSplitTest/Output/MLSOut00007250.bin"
    assume(Files.exists(Paths.get(golden)), "reference snapshot available")
    val df = SoABin.read(spark, golden)
    assert(df.count() === 49400)
    val r = df.agg(min("uy"), min("flag"), max("flag"), max("step")).head()
    assert(math.abs(r.getFloat(0) - (-0.0145f)) < 1e-6) // -20 * 7.25e-4
    assert(r.getFloat(1) === 1.0f && r.getFloat(2) === 1.0f)
    assert(r.getLong(3) === 7250L)
  }

  test("S4∘S8 SoA round-trip is identity") {
    import spark.implicits._
    val n = 100
    val src = (0 until n).map(i =>
      (0L, i.toLong, i * 0.5f, -i * 0.25f, i * 1.5f, 1.0f))
      .toDF("step", "particle_id", "ux", "uy", "uz", "flag")
    val tmp = Files.createTempDirectory("soabin").resolve("MLSOut000000.bin").toString
    SoABin.writeOne(src, tmp)
    assert(Files.size(Paths.get(tmp)) === 4 + 4 * 4 * n)
    val back = SoABin.read(spark, tmp)
    assert(back.count() === n)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("S6 facet quad sink: %.8f CRLF round-trip") {
    val src = Seq.tabulate(5)(i => Seq.tabulate(12)(j => i * 12.0 + j + 0.12345678))
    val out = Files.createTempDirectory("quads").toString + "/out"
    DeckCodec.writeFacetQuads(src, out)
    // one file at the path; CRLF check needs raw bytes: the text reader strips \r at CRLF
    assert(Files.isRegularFile(Paths.get(out)))
    val raw = Files.readString(Paths.get(out))
    assert(raw.contains("\r\n"))                            // CRLF line ends
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.length === 5)
    assert(lines.head.trim.split(" ").length === 12)        // 12 floats
    assert(lines.head.contains("0.12345678"))               // 8dp fixed format
    // reader side: the cutting pipeline's import parses these vertex rows
    val parsed = DeckCodec.readFacetQuads(out)
    assert(parsed.length === 5)
    assert(parsed === src.map(_.map(v => "%.8f".formatLocal(java.util.Locale.US, v).toDouble)))
  }

  test("deck count header equals the rows written, for an empty frame and a 3-partition frame") {
    import spark.implicits._
    val dir = Files.createTempDirectory("deckcount")
    def check(df: DataFrame, name: String, write: (DataFrame, String) => Unit) = {
      val path = dir.resolve(name).toString
      write(df, path)
      val body = Files.readAllLines(Paths.get(path)).asScala.drop(1)
      assert(DeckCodec.declaredCount(path) === df.count() && body.length === df.count(), name)
      assert(Files.list(dir).iterator().asScala.forall(_.getFileName.toString.endsWith(".dat")),
        "no temp file left behind")
    }
    val particles = DeckCodec.readParticles(spark, fixture("ball3d_100.dat"))
    check(particles.limit(0), "empty.dat", DeckCodec.writeParticles)
    check(particles.repartition(3), "three.dat", DeckCodec.writeParticles)
    assert(particles.repartition(3).rdd.getNumPartitions === 3)
    val materials = Seq((1, 2.0, 3.5, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0), (2, 2.5, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9e6))
      .toDF("material_id", "a", "b", "c", "d", "e", "f", "g", "h")
    check(materials.limit(0), "mat_empty.dat", DeckCodec.writeMaterials)
    check(materials.repartition(3), "mat_three.dat", DeckCodec.writeMaterials)
  }

  test("Make Consistency: valid deck passes, corrupted deck rejected with engine semantics") {
    import spark.implicits._
    val particles = DeckCodec.readParticles(spark, fixture("ball3d_100.dat"))
    val materials = DeckCodec.readMaterials(spark, fixture("mlsmat00.dat"))
    val measureIds = particles.limit(2).select("id").collect().map(_.getLong(0)).toSeq
    // the engine's pass over a consistent deck: no errors, no throw
    assert(DeckCodec.consistencyErrors(particles, materials, measureIds).isEmpty)
    DeckCodec.makeConsistency(particles, materials, measureIds)
    // corrupt D5 col 17: one particle references material (max + 7)
    val maxMat = materials.agg(max("material_id")).head().getInt(0)
    val corrupted = particles.withColumn("material_id",
      when(col("id") === measureIds.head, lit(maxMat + 7)).otherwise(col("material_id")))
    val ex = intercept[IllegalArgumentException] {
      DeckCodec.makeConsistency(corrupted, materials, measureIds)
    }
    assert(ex.getMessage.contains(
      "Material Num of the particle is larger than the max number in the material list"))
    // corrupt MeasurePar: an id that names no particle
    val errs = DeckCodec.consistencyErrors(particles, materials, Seq(999999999L))
    assert(errs.exists(_.contains("The ID of the measure point is larger")))
  }

  test("Make Consistency: empty material list reports every particle, no NPE") {
    val particles = DeckCodec.readParticles(spark, fixture("ball3d_100.dat"))
    val materials = DeckCodec.readMaterials(spark, fixture("mlsmat00.dat"))
    val empty = materials.filter(lit(false))
    // max(material_id) over an empty table is null — must degrade to "all
    // particles out of range", not throw
    val errs = DeckCodec.consistencyErrors(particles, empty, Seq.empty)
    assert(errs.exists(_.contains(
      "Material Num of the particle is larger than the max number in the material list")))
    assert(errs.exists(_.contains("<empty list>")))
  }

  test("MeasurePar.dat reader: flag/count header then ids") {
    val path = "/root/reference/UniaxialCompressionTest/MeasurePar.dat"
    assume(Files.exists(Paths.get(path)))
    assert(DeckCodec.readMeasurePoints(path) === Seq(71756L, 102380L))
  }

  test("deck writer numeric rendering is value-preserving (property)") {
    import spark.implicits._
    // arbitrary doubles (incl. negatives, tiny, huge, integral) must
    // survive writeDeckTable -> reader parse bit-exactly — the round-trip
    // contract fmtNum promises
    val rnd = new scala.util.Random(42)
    val vals = Seq(0.0, -0.0, 1.0, -5.0, 0.5, 1e-300, -1e300, 123456.789,
      9e6, 0.000000917, 1.8e-4) ++
      Seq.fill(200)(math.pow(10, rnd.nextInt(20) - 10) * (rnd.nextDouble() * 2 - 1))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = Files.createTempDirectory("numrt").resolve("vals.dat").toString
    DeckCodec.writeDeckTable(df, _ => Seq(vals.length.toString), out)
    val lines = Files.readAllLines(Paths.get(out)).asScala.drop(1)
    val back = lines.map { l =>
      val a = l.split("\\s+"); (a(0).toLong, a(1).toDouble)
    }.toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      val b = back(i.toLong)
      assert(java.lang.Double.compare(v, b) == 0 || (v == 0.0 && b == 0.0),
        s"value $v re-parsed as $b")
    }
  }

  test("D16 mask writer: select-list -> mask -> file -> mask -> select-list") {
    val items = (0 until 28).map(i => s"item$i")
    val selected = Seq("item4", "item5", "item6", "item20")
    val mask = DeckCodec.columnsToMask(selected, items)
    assert(mask.sum === 4)
    val out = Files.createTempDirectory("mask").resolve("PosItem.ini").toString
    DeckCodec.writePosItemMask(mask, out)
    val back = DeckCodec.readPosItemMask(out)
    assert(back === mask)
    assert(DeckCodec.maskToColumns(back, items) === selected)
    // and the real reference mask survives the same round trip
    val ref = "/root/reference/UniaxialCompressionTest/PosItem.ini"
    assume(Files.exists(Paths.get(ref)))
    val refMask = DeckCodec.readPosItemMask(ref)
    DeckCodec.writePosItemMask(refMask, out)
    assert(DeckCodec.readPosItemMask(out) === refMask)
  }

  test("full deck round-trip: Uniaxial read -> tables -> re-emit -> re-read") {
    val dir = "/root/reference/UniaxialCompressionTest"
    assume(Files.exists(Paths.get(dir, "mls.c")))
    val out = Files.createTempDirectory("deckrt").toString
    val deck = DeckCodec.readDeck(spark, dir)
    DeckCodec.writeDeck(deck, out)
    // manifest: byte-identical (LF, 6 lines)
    assert(Files.readAllBytes(Paths.get(dir, "mls.c")).toSeq ===
      Files.readAllBytes(Paths.get(out, "mls.c")).toSeq)
    // settings: line-identical verbatim passthrough
    assert(Files.readAllLines(Paths.get(out, deck.manifest.settings)).asScala.toSeq ===
      deck.settingsLines)
    // materials: value-identical after re-read
    val mat2 = DeckCodec.readMaterials(spark, s"$out/${deck.manifest.material}")
    assert(mat2.collect().map(_.toSeq).toSeq ===
      deck.materials.collect().map(_.toSeq).toSeq)
    // boundary conditions: structurally identical (ranges, type/dir, curves)
    assert(DeckCodec.readBoundaryConditions(s"$out/${deck.manifest.boundary}") ===
      deck.boundaries)
    // bonds: full row-set identical (13,812 edges), header flag preserved
    val bonds2 = DeckCodec.readBonds(spark, s"$out/MLSBond.dat")
    assert(bonds2.count() === deck.bonds.get.count())
    assert(bonds2.except(deck.bonds.get).isEmpty &&
      deck.bonds.get.except(bonds2).isEmpty)
    assert(Files.readAllLines(Paths.get(out, "MLSBond.dat")).get(0).trim === "0")
    // measure points survive
    assert(DeckCodec.readMeasurePoints(s"$out/MeasurePar.dat") === deck.measureIds)
    // Uniaxial ships no geometry file; the writer must not invent one
    assert(deck.particles.isEmpty &&
      !Files.exists(Paths.get(out, deck.manifest.geometry)))
  }

  test("particle table writer round-trip on the real Brazil deck (49,400 rows)") {
    val path = "/root/reference/BrazilSplitTest/BALL3D_PSLICE.dat"
    assume(Files.exists(Paths.get(path)))
    val src = DeckCodec.readParticles(spark, path)
    val out = Files.createTempDirectory("partrt").resolve("BALL3D_PSLICE.dat").toString
    DeckCodec.writeParticles(src, out)
    val back = DeckCodec.readParticles(spark, out)
    assert(DeckCodec.declaredCount(out) === 49400L)
    assert(DeckCodec.checkCount(back, out))
    // order-insensitive multiset fingerprint instead of except(): 27
    // text-derived columns push Except's constraint inference into an
    // optimizer blow-up (observed OOM at 8g), while a count + hash-sum
    // aggregate is one map-combined pass — the same comparison shape the
    // driver's oracle gate uses
    def fp(df: org.apache.spark.sql.DataFrame) = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(Schemas.particle.fieldNames.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")).as("h") // decimal sum: 49k longs overflow ANSI bigint
    ).head().toSeq
    assert(fp(back) === fp(src))
  }

  test("S7 vertex sink writes one space-joined line per row") {
    import spark.implicits._
    val src = Seq((1.5, 2.5, 3.5), (4.0, 5.0, 6.0)).toDF("x", "y", "z")
    val dir = Files.createTempDirectory("verts").toString + "/out"
    DeckCodec.writeVertexLines(src, Seq("x", "y", "z"), dir)
    val back = DeckCodec.readPoints(spark, dir)
    assert(back.count() === 2)
    assert(back.agg(sum("x")).head().getDouble(0) === 5.5)
  }
}
