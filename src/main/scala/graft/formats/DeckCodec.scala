package graft.formats

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers/writers for the reference's self-describing positional text deck
  * formats (SURVEY §2.1 S1-S3, S5-S7).
  *
  * Design split (100 TB discipline):
  *  - data-sized tables (particles, bonds, series) parse DISTRIBUTED via
  *    `spark.read.text` — whitespace split + casts, all codegen'd; invalid
  *    rows are dropped, mirroring the reference's skip-with-warning policy
  *    (`BooleanOperation.py:60-61`);
  *  - grain-bounded facet files (S6) and config-sized files (materials,
  *    load curves, manifest, masks) read and write driver-side — they are
  *    broadcast-dimension sized by construction (`MLSMat00.dat` has 1 row).
  */
object DeckCodec {

  /** Split a line-frame's `value` into typed columns per `schema`.
    * `try_cast` (not `cast`) keeps the reference's skip-invalid-row policy
    * under ANSI mode: malformed fields become null and the row drops.
    */
  private def parseCols(lines: DataFrame, schema: StructType): DataFrame = {
    val parts = split(trim(col("value")), "\\s+")
    val typed = schema.fields.zipWithIndex.map { case (f, i) =>
      try_element_at(parts, lit(i + 1)).try_cast(f.dataType).as(f.name)
    }
    lines
      .filter(size(parts) >= schema.fields.length)
      .select(typed.toIndexedSeq: _*)
      .na.drop() // malformed numeric fields cast to null -> dropped
  }

  /** S1 — plain space-delimited coordinate rows (2- or 3-col tolerated,
    * invalid skipped — `BooleanOperation.py:43-66`).
    */
  def readPoints(spark: SparkSession, path: String): DataFrame = {
    val parts = split(trim(col("value")), "\\s+")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0 && size(parts).between(2, 3))
      .select(
        element_at(parts, 1).try_cast(DoubleType).as("x"),
        element_at(parts, 2).try_cast(DoubleType).as("y"),
        when(size(parts) >= 3, try_element_at(parts, lit(3)).try_cast(DoubleType))
          .otherwise(lit(0.0)).as("z"))
      .na.drop()
  }

  /** S2 — count-prefixed particle table (`BALL3D_PSLICE.dat`). The count
    * header is dropped by arity (27-col rows only) and cross-checked by
    * [[checkCount]] — a cheap "Make Consistency" pass like the engine's
    * (`DLSM Log.txt`).
    */
  def readParticles(spark: SparkSession, path: String): DataFrame =
    parseCols(spark.read.text(path), Schemas.particle)

  /** Declared count from a count-prefixed deck's first line (driver-side
    * one-line read).
    */
  def declaredCount(path: String): Long =
    Files.lines(Paths.get(path)).iterator().asScala
      .find(_.trim.nonEmpty).map(_.trim.split("\\s+")(0).toLong).getOrElse(0L)

  /** Engine-style consistency check: declared header count == parsed rows. */
  def checkCount(df: DataFrame, path: String): Boolean =
    df.count() == declaredCount(path)

  /** D10 — measure-point ids (`MeasurePar.dat`): flag line, count line
    * (twice), then `count` particle ids
    * (`UniaxialCompressionTest/MeasurePar.dat:1-5`). Config-sized,
    * driver-side.
    */
  def readMeasurePoints(path: String): Seq[Long] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val n = lines(1).split("\\s+")(0).toInt
    lines.drop(3).take(n).map(_.split("\\s+")(0).toLong).toSeq
  }

  /** Engine "Make Consistency" validation pass (`DLSM Log.txt:1-4`:
    * "Make Consistency Begin / Material List / Measure Point / Make
    * Consistency End") — the FK-bound checks the engine runs before
    * compute, with its failure strings. Each check is one cheap
    * broadcast-scalar assertion job over the deck; nothing is shuffled.
    */
  def consistencyErrors(particles: DataFrame, materials: DataFrame,
                        measureIds: Seq[Long]): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    // Material List: particle material ids must stay inside the material
    // table (exe string: "Material Num of the particle is larger than the
    // max number in the material list")
    // max over an empty/all-null table is null → every particle with a
    // material id is out of range; read via Number so int/long both work
    val maxRow = materials.agg(max(col("material_id").cast("long"))).head()
    val maxMat: Option[Long] =
      if (maxRow.isNullAt(0)) None else Some(maxRow.getLong(0))
    val badMat = maxMat match {
      case Some(m) => particles.filter(col("material_id").cast("long") > m).count()
      case None    => particles.filter(col("material_id").isNotNull).count()
    }
    if (badMat > 0)
      errs += "Material Num of the particle is larger than the max number " +
        s"in the material list ($badMat particles > material " +
        s"${maxMat.map(_.toString).getOrElse("<empty list>")})"
    // Measure Point: every measure id must name an existing particle
    // (exe string: "The ID of the measure point is larger than the max
    // number of the particles")
    if (measureIds.nonEmpty) {
      val present = particles.filter(col("id").isin(measureIds: _*))
        .select(col("id")).distinct().count()
      if (present < measureIds.distinct.size)
        errs += "The ID of the measure point is larger than the max number " +
          s"of the particles (${measureIds.distinct.size - present} of " +
          s"${measureIds.distinct.size} ids missing)"
    }
    errs.toSeq
  }

  /** Throwing twin of [[consistencyErrors]]: rejects a corrupted deck with
    * the engine's semantics before any compute is planned.
    */
  def makeConsistency(particles: DataFrame, materials: DataFrame,
                      measureIds: Seq[Long]): Unit = {
    val errs = consistencyErrors(particles, materials, measureIds)
    if (errs.nonEmpty)
      throw new IllegalArgumentException(
        "Make Consistency failed: " + errs.mkString("; "))
  }

  /** D6 — bond edge list (`MLSBond.dat`): header flag line, then
    * `src dst group`.
    */
  def readBonds(spark: SparkSession, path: String): DataFrame =
    parseCols(spark.read.text(path), Schemas.bond)

  /** S3 — sectioned joint-facet file (`MLSJDat.dat`): line 0 = set count,
    * line 1 = N, N 9-float triangle rows, then N+1 per-facet scalars.
    * Needs global line numbers → `zipWithIndex` over the text RDD (stable:
    * file splits are ordered). Returns (triangles, scalars).
    */
  def readJointFacets(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val indexed = spark.sparkContext.textFile(path).zipWithIndex()
      .map { case (l, i) => (i, l.trim) }
      .filter(_._2.nonEmpty)
    val header = indexed.filter(_._1 <= 1).collect().sortBy(_._1).map(_._2)
    val n = header(1).split("\\s+")(0).toLong
    val tris = indexed.filter { case (i, _) => i >= 2 && i < 2 + n }
      .map { case (i, l) =>
        val a = l.split("\\s+").map(_.toDouble)
        Row.fromSeq((i - 2) +: a.take(9).toIndexedSeq)
      }
    val scalars = indexed.filter { case (i, _) => i >= 2 + n }
      .map { case (i, l) => Row(i - 2 - n, l.split("\\s+")(0).toDouble) }
    val triDf = spark.createDataFrame(tris, Schemas.jointFacet)
    val scalDf = spark.createDataFrame(scalars, StructType(Seq(
      StructField("scalar_idx", LongType, nullable = false),
      StructField("aperture", DoubleType, nullable = false))))
    (triDf, scalDf)
  }

  /** D8 — material dimension table (tiny; driver-side parse, meant to be
    * `broadcast()`-joined). Handles both `MLSMat00.dat` (count-line header)
    * and `MLSJMat.dat` (bare rows): header lines drop out by field count.
    */
  def readMaterials(spark: SparkSession, path: String): DataFrame = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(l => l.nonEmpty && l.split("\\s+").length >= 8)
    val rows = lines.map { l =>
      val a = l.split("\\s+")
      Row.fromSeq(a(0).toInt +: a.drop(1).take(8).map(_.toDouble).toIndexedSeq)
    }
    val n = rows.headOption.map(_.length).getOrElse(9)
    val schema = StructType(Schemas.material.fields.take(n))
    spark.createDataFrame(rows.toList.asJava, schema)
  }

  /** D9 — boundary condition: box range, (type, dir), piecewise-linear
    * load curve (`MLSLD00.dat`; semantics from `SysFile.ini:73-165`:
    * type 1=velocity, 2=force; dir 0/1/2 = X/Y/Z).
    */
  final case class BoundaryCondition(
      id: Int,
      x1: Double, x2: Double, y1: Double, y2: Double, z1: Double, z2: Double,
      bcType: Int, dir: Int,
      curve: Seq[(Double, Double)])

  /** Parse `MLSLD00.dat` (driver-side; config-sized). Layout per BC:
    * 3 range lines (X1 X2 / Y1 Y2 / Z1 Z2), one `type dir` line, the curve
    * point count, then that many time lines and that many value lines.
    */
  def readBoundaryConditions(path: String): Seq[BoundaryCondition] = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val nBc = lines(0).split("\\s+")(0).toInt
    var pos = 1
    (0 until nBc).map { id =>
      def nums(i: Int) = lines(i).split("\\s+").map(_.toDouble)
      val Array(x1, x2) = nums(pos).take(2)
      val Array(y1, y2) = nums(pos + 1).take(2)
      val Array(z1, z2) = nums(pos + 2).take(2)
      val td = lines(pos + 3).split("\\s+")
      val np = lines(pos + 4).split("\\s+")(0).toInt
      val ts = (0 until np).map(i => nums(pos + 5 + i)(0))
      val vs = (0 until np).map(i => nums(pos + 5 + np + i)(0))
      pos += 5 + 2 * np
      BoundaryCondition(id, x1, x2, y1, y2, z1, z2, td(0).toInt, td(1).toInt,
        ts.zip(vs))
    }
  }

  /** Load-curve points of all BCs as a DataFrame (for as-of/interpolation
    * joins, SURVEY J6).
    */
  def curveDf(spark: SparkSession, bcs: Seq[BoundaryCondition]): DataFrame = {
    val rows = for (bc <- bcs; (t, v) <- bc.curve) yield Row(bc.id, t, v)
    spark.createDataFrame(rows.toList.asJava, Schemas.curvePoint)
  }

  /** D12 — measured series (`MLSOut00E.dat`): distributed text parse. */
  def readMeasuredSeries(spark: SparkSession, path: String): DataFrame =
    parseCols(spark.read.text(path), Schemas.measuredSeries)

  /** D14 — 6-line job manifest (`mls.c` — a manifest despite the name;
    * the engine reads the literal filename, SURVEY D14).
    */
  final case class Manifest(settings: String, geometry: String, material: String,
      boundary: String, outputPrefix: String, restart: Int)

  def readManifest(path: String): Manifest = {
    val l = Files.readAllLines(Paths.get(path)).asScala.map(_.trim).toIndexedSeq
    Manifest(l(0), l(1), l(2), l(3), l(4), l(5).split("\\s+")(0).toInt)
  }

  /** D16 — projection mask (`PosItem.ini`): 28 0/1 flags selecting output
    * items — the reference's projection pushdown. [[maskToColumns]] turns it
    * into a `select()` list.
    */
  def readPosItemMask(path: String): Seq[Int] =
    Files.readAllLines(Paths.get(path)).asScala.mkString(" ")
      .trim.split("\\s+").map(_.toInt).toIndexedSeq

  def maskToColumns(mask: Seq[Int], allItems: Seq[String]): Seq[String] =
    mask.zip(allItems).collect { case (1, name) => name }

  /** D16 writer — projection mask as one space-joined flag line
    * (`UniaxialCompressionTest/PosItem.ini:1`). With [[columnsToMask]]
    * this closes the projection-pushdown loop: a `select()` list becomes
    * the engine-side column-selection vector.
    */
  def writePosItemMask(mask: Seq[Int], path: String): Unit = {
    require(mask.forall(f => f == 0 || f == 1), s"mask flags must be 0/1: $mask")
    writeText(path, mask.mkString(" ") + "\n")
  }

  /** Inverse of [[maskToColumns]]: which of `allItems` a projection keeps. */
  def columnsToMask(selected: Seq[String], allItems: Seq[String]): Seq[Int] =
    allItems.map(i => if (selected.contains(i)) 1 else 0)

  /** D14 writer — re-emit the 6-line manifest, LF-terminated like the
    * reference's `mls.c` (`UniaxialCompressionTest/mls.c:1-6`). Byte-
    * identical round trip with [[readManifest]].
    */
  def writeManifest(m: Manifest, path: String): Unit = {
    val lines = Seq(m.settings, m.geometry, m.material, m.boundary,
      m.outputPrefix, m.restart.toString)
    writeText(path, lines.mkString("\n") + "\n")
  }

  private def writeText(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  /** Compact numeric rendering for deck text: integers print bare
    * ("0", "50"), everything else via Double.toString — value-preserving
    * under the readers' `toDouble`/`try_cast`, which is the round-trip
    * contract (the reference's own decks mix "0", "0.0" and "9e+006"
    * spellings, so byte-identity of data rows is not a format property).
    */
  private def fmtNum(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Header-prefixed deck table writer: header line(s), then one
    * space-joined row per record. A deck table is by contract ONE
    * engine-readable text file (a single-writer export boundary, like the
    * reference's own exports), so rows stream through `toLocalIterator` —
    * no full driver materialization; data-sized analytics outputs go
    * through the parquet / SoA sinks (S8) instead. `header` gets the row
    * count of the same pass, which streams the body via a sibling temp file.
    */
  def writeDeckTable(df: DataFrame, header: Long => Seq[String], path: String): Unit = {
    val out = Paths.get(path).toAbsolutePath
    val body = Files.createTempFile(out.getParent, s".${out.getFileName}", ".body")
    try {
      val w = Files.newBufferedWriter(body)
      val n = try df.toLocalIterator().asScala.foldLeft(0L) { (n, r) =>
        w.write(r.toSeq.map {
          case d: Double => fmtNum(d)
          case f: Float  => fmtNum(f.toDouble)
          case x         => String.valueOf(x)
        }.mkString(" ") + "\n")
        n + 1
      } finally w.close()
      val o = Files.newOutputStream(out)
      try { o.write(header(n).map(_ + "\n").mkString.getBytes(UTF_8)); Files.copy(body, o) }
      finally o.close()
    } finally Files.deleteIfExists(body)
  }

  /** D5 writer — count-prefixed particle table (`BALL3D_PSLICE.dat`). */
  def writeParticles(df: DataFrame, path: String): Unit =
    writeDeckTable(df.select(Schemas.particle.fieldNames.map(col).toIndexedSeq: _*),
      n => Seq(n.toString), path)

  /** D6 writer — bond edge list with its flag-line header (`MLSBond.dat:1`). */
  def writeBonds(df: DataFrame, path: String): Unit =
    writeDeckTable(df.select("src", "dst", "group"), _ => Seq("0"), path)

  /** D8 writer — count-prefixed material dimension table (`MLSMat00.dat`). */
  def writeMaterials(df: DataFrame, path: String): Unit =
    writeDeckTable(df, n => Seq(n.toString), path)

  /** D9 writer — boundary conditions + load curves in `MLSLD00.dat` layout
    * (count; per BC: 3 range lines, `type dir`, npoints, times, values).
    */
  def writeBoundaryConditions(bcs: Seq[BoundaryCondition], path: String): Unit = {
    val sb = new StringBuilder
    sb.append(bcs.length).append('\n')
    bcs.foreach { bc =>
      sb.append(fmtNum(bc.x1)).append(' ').append(fmtNum(bc.x2)).append('\n')
      sb.append(fmtNum(bc.y1)).append(' ').append(fmtNum(bc.y2)).append('\n')
      sb.append(fmtNum(bc.z1)).append(' ').append(fmtNum(bc.z2)).append('\n')
      sb.append(bc.bcType).append(' ').append(bc.dir).append('\n')
      sb.append(bc.curve.length).append('\n')
      bc.curve.foreach { case (t, _) => sb.append(fmtNum(t)).append('\n') }
      bc.curve.foreach { case (_, v) => sb.append(fmtNum(v)).append('\n') }
    }
    writeText(path, sb.toString)
  }

  /** D10 writer — measure-point ids in `MeasurePar.dat` layout
    * (flag, count, count, ids — `UniaxialCompressionTest/MeasurePar.dat:1-5`).
    */
  def writeMeasurePoints(ids: Seq[Long], path: String): Unit = {
    val lines = Seq("0", ids.length.toString, ids.length.toString) ++ ids.map(_.toString)
    writeText(path, lines.mkString("\n") + "\n")
  }

  /** A whole job deck as tables: the manifest plus every file it names
    * (settings kept verbatim — config lines, no analytics semantics), and
    * the sidecar tables the engine reads by convention. Geometry may be
    * absent (the Uniaxial deck ships without `BALL3D_PSLICE.dat`; the
    * engine regenerates it), hence Options.
    */
  final case class Deck(
      manifest: Manifest,
      settingsLines: Seq[String],
      materials: DataFrame,
      boundaries: Seq[BoundaryCondition],
      particles: Option[DataFrame],
      bonds: Option[DataFrame],
      measureIds: Seq[Long])

  /** S5 — full deck read driven by the manifest: open `mls.c`, follow its
    * file references (`UniaxialCompressionTest/mls.c:1-6`).
    */
  def readDeck(spark: SparkSession, dir: String): Deck = {
    val m = readManifest(Paths.get(dir, "mls.c").toString)
    def p(name: String) = Paths.get(dir, name)
    Deck(m,
      Files.readAllLines(p(m.settings)).asScala.toSeq,
      readMaterials(spark, p(m.material).toString),
      readBoundaryConditions(p(m.boundary).toString),
      if (Files.exists(p(m.geometry))) Some(readParticles(spark, p(m.geometry).toString)) else None,
      if (Files.exists(p("MLSBond.dat"))) Some(readBonds(spark, p("MLSBond.dat").toString)) else None,
      if (Files.exists(p("MeasurePar.dat"))) readMeasurePoints(p("MeasurePar.dat").toString) else Seq.empty)
  }

  /** Deck writer twin of [[readDeck]]: re-emit the manifest plus the file
    * set it names into `dir` — the full read → tables → re-emit round trip
    * a user regenerating a deck needs.
    */
  def writeDeck(deck: Deck, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val m = deck.manifest
    def p(name: String) = Paths.get(dir, name).toString
    writeManifest(m, p("mls.c"))
    writeText(p(m.settings), deck.settingsLines.mkString("\n") + "\n")
    writeMaterials(deck.materials, p(m.material))
    writeBoundaryConditions(deck.boundaries, p(m.boundary))
    deck.particles.foreach(writeParticles(_, p(m.geometry)))
    deck.bonds.foreach(writeBonds(_, p("MLSBond.dat")))
    if (deck.measureIds.nonEmpty) writeMeasurePoints(deck.measureIds, p("MeasurePar.dat"))
  }

  /** S6 — facet quad sink (`GenerateColumnar.py:308-332`): one file, 12
    * `%.8f` floats (`Locale.US`, as Spark's `format_string`) per line, CRLF.
    */
  def writeFacetQuads(quads: Seq[Seq[Double]], path: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    writeText(path,
      quads.map(_.map("%.8f".formatLocal(java.util.Locale.US, _)).mkString(" ") + "\r\n").mkString)
  }

  /** S6 reader — the 12-float rows of a facet file or of a directory of
    * text parts (name order, no `_`/`.` files, as Spark's text reader), in
    * order; lines with another field count (split as `split(trim(_))`) drop.
    */
  def readFacetQuads(path: String): IndexedSeq[IndexedSeq[Double]] = {
    val f = new java.io.File(path)
    val files = if (!f.isDirectory) Seq(f)
      else f.listFiles().toSeq.filter(g => g.isFile && !"_.".contains(g.getName.head)).sortBy(_.getName)
    files.flatMap(g => Files.readAllLines(g.toPath).asScala)
      .map(_.replaceAll("^ +| +$", "").split("\\s+", -1))
      .collect { case a if a.length == 12 => a.map(_.toDouble).toIndexedSeq }.toIndexedSeq
  }

  /** S7 — vertex sink: one space-joined line per row
    * (`BooleanOperation.py:159-172`).
    */
  def writeVertexLines(df: DataFrame, cols: Seq[String], path: String): Unit =
    df.select(concat_ws(" ", cols.map(c => col(c).cast("string")): _*).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(path)
}
