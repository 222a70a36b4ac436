package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkTestBase
import graft.formats.SoABin
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Multimodal tests. Round 2: the decode kernel is REAL for image
  * (javax.imageio) and WAV audio (javax.sound) — pure-JDK codecs, decoded
  * distributed inside the batched mapPartitions boundary, with generated
  * PNG/WAV fixtures asserting true dimensions, luminance grids, RMS
  * envelopes, and payload resize. The deterministic stub remains the
  * fallback for codecs the JDK lacks (video). The ingest, batch-shape,
  * metadata, feature-table and frame-sampling tests treat SoA snapshots as
  * opaque binary payloads: they run on the reference's own snapshot files
  * when present, and otherwise on deterministic SoA snapshots synthesized
  * with [[graft.formats.SoABin.writeOne]] into a suite-owned temp directory.
  */
class MultimodalSpec extends SparkTestBase with BeforeAndAfterAll {

  private val referenceDir = "/root/reference/BrazilSplitTest/Output"
  private var synthDir: Option[Path] = None

  // opaque binary payloads: the reference's own snapshot files, else
  // synthesized ones under the same name template. Particle counts give
  // payloads below one 100000-byte frame stride up to the reference size
  // (n = 49400, 790,404 B), so frame sampling sees 1, 1, 2 and 7 frames.
  private lazy val binGlob: String = {
    val dir =
      if (Files.exists(Paths.get(referenceDir, "MLSOut00000000.bin"))) referenceDir
      else {
        val tmp = Files.createTempDirectory("mm_soa")
        synthDir = Some(tmp)
        Seq(1000, 6250, 12500, 49400).zipWithIndex.foreach { case (n, k) =>
          val snap = spark.range(n).select(
            col("id").as("particle_id"),
            (col("id") * 1e-4).cast("float").as("ux"),
            (col("id") * -2e-4).cast("float").as("uy"),
            (lit(k) * 0.5).cast("float").as("uz"),
            lit(1.0f).as("flag"))
          SoABin.writeOne(snap, tmp.resolve(f"MLSOut${k * 250}%08d.bin").toString)
        }
        tmp.toString
      }
    s"$dir/MLSOut0000[0-3]*.bin"
  }

  // the synthesized directory is flat, and deleteOnExit would skip it
  // while it still holds files
  override def afterAll(): Unit =
    try synthDir.foreach { d =>
      d.toFile.listFiles().foreach(f => Files.delete(f.toPath))
      Files.delete(d)
    } finally super.afterAll()

  test("binaryFile ingest: asset schema, stable ids, byte counts") {
    val assets = Multimodal.ingest(spark, binGlob, "sim-snapshot")
    val n = assets.count()
    assert(n > 0)
    assert(assets.schema.fieldNames.toSeq ===
      Seq("asset_id", "uri", "media_type", "n_bytes", "content"))
    assert(assets.select(countDistinct("asset_id")).head().getLong(0) === n)
    // payload length metadata matches the actual blob
    assert(assets.filter(length(col("content")) =!= col("n_bytes")).count() === 0)
  }

  test("feature extraction: fixed dim, deterministic, batch-size independent") {
    val assets = Multimodal.ingest(spark, binGlob).cache()
    val f1 = Multimodal.extractFeatures(assets, batchSize = 4)
      .orderBy("asset_id").collect()
    val f2 = Multimodal.extractFeatures(assets, batchSize = 64)
      .orderBy("asset_id").collect()
    assert(f1.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq) // batch shape can't change results
    assert(f1.forall(_.getAs[Seq[Float]]("embedding").length === Multimodal.StubDecoder.FeatureDim))
    assert(f1.forall { r => val w = r.getInt(2); w >= 16 && w <= 16 + 255 * 4 })
  }

  test("feature table feeds similarity search (the multimodal join contract)") {
    val assets = Multimodal.ingest(spark, binGlob)
    val features = Multimodal.extractFeatures(assets)
      .withColumn("vec_id", col("asset_id"))
    val probe = features.select("vec_id").orderBy("vec_id").head().getLong(0)
    val top = Similarity.cosineTopK(features, probe, 3)
    assert(top.count() <= 3)
    assert(top.filter(col("vec_id") === probe).count() === 0)
  }

  test("metadata resize clamps the long side") {
    val assets = Multimodal.ingest(spark, binGlob)
    val resized = Multimodal.resizeMeta(Multimodal.extractFeatures(assets), maxSide = 64)
    assert(resized.filter(greatest(col("out_w"), col("out_h")) > 64).count() === 0)
    assert(resized.filter(col("out_w") < 1 || col("out_h") < 1).count() === 0)
  }

  // --- real JDK decode kernels (round 2): generated PNG + WAV fixtures ---

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def wavBytes(nFrames: Int, amplitude: Double): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s = (math.sin(i * 2 * math.Pi / 64) * amplitude * 32767).toInt
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def assetDf(rows: Seq[(Long, String, Array[Byte])]) = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, mt, b) =>
        Row(id, s"mem://$id", mt, b.length.toLong, b)
      }),
      Multimodal.assetSchema)
  }

  test("real image decode: true dimensions and luminance features (javax.imageio)") {
    val white = pngBytes(40, 20, 0xffffff)
    val black = pngBytes(8, 8, 0x000000)
    val assets = assetDf(Seq((1L, "image", white), (2L, "image", black)))
    val feats = Multimodal.extractFeatures(assets, real = true)
      .orderBy("asset_id").collect()
    // true decoded dimensions, not stub pseudo-dims
    assert(feats(0).getInt(2) === 40 && feats(0).getInt(3) === 20)
    assert(feats(1).getInt(2) === 8 && feats(1).getInt(3) === 8)
    // luminance grid: white -> +1, black -> -1 in every cell
    val fw = feats(0).getSeq[Float](4)
    val fb = feats(1).getSeq[Float](4)
    assert(fw.forall(v => v > 0.99f) && fb.forall(v => v < -0.99f))
  }

  test("synthetic assets decode to their closed form (the q_multimodal_ann contract)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 250L, 4095L).toDF("doc_id")
    val assets = Multimodal.syntheticImageAssets(ids, "doc_id")
    val feats = Multimodal.extractFeatures(assets, real = true)
      .orderBy("asset_id").collect()
    // real decode path: 32×32, and every feature EXACTLY matches the
    // analytic inverse — this identity is what the SQL oracle relies on
    feats.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) === 32 && r.getInt(3) === 32)
      val expected = Array.tabulate(16) { g =>
        val q = (g / 8) * 2 + (g % 4) / 2
        (((id * 37 + q * 59) % 251).toDouble / 127.5 - 1.0).toFloat
      }
      assert(r.getSeq[Float](4).toArray.toSeq === expected.toSeq,
        s"decoded features diverge from closed form for id=$id")
    }
  }

  test("real image resize: payload re-encoded, aspect preserved, decode round-trips") {
    val big = pngBytes(120, 60, 0x3366cc)
    val assets = assetDf(Seq((1L, "image", big)))
    val resized = Multimodal.resizeAssets(assets, maxSide = 30).collect()(0)
    val back = Multimodal.JdkDecoder.decodeImage(
      resized.getAs[Array[Byte]]("content")).get
    assert(back._1 === 30 && back._2 === 15) // half aspect, clamped long side
    // small image passes through untouched
    val small = pngBytes(10, 10, 0x3366cc)
    val kept = Multimodal.resizeAssets(assetDf(Seq((2L, "image", small))), 30)
      .collect()(0).getAs[Array[Byte]]("content")
    assert(kept.toSeq === small.toSeq)
  }

  test("real WAV decode: frame count, channels, RMS envelope (javax.sound)") {
    val loud = wavBytes(8000, 0.9)
    val quiet = wavBytes(4000, 0.05)
    val assets = assetDf(Seq((1L, "audio", loud), (2L, "audio", quiet)))
    val feats = Multimodal.extractFeatures(assets, real = true)
      .orderBy("asset_id").collect()
    assert(feats(0).getInt(2) === 8000 && feats(0).getInt(3) === 1)
    assert(feats(1).getInt(2) === 4000 && feats(1).getInt(3) === 1)
    val fl = feats(0).getSeq[Float](4)
    val fq = feats(1).getSeq[Float](4)
    // louder clip -> higher RMS in every segment
    assert(fl.zip(fq).forall { case (a, b) => a > b })
  }

  test("undecodable payloads fall back to the stub instead of dropping") {
    val junk = Array.fill[Byte](64)(42)
    val assets = assetDf(Seq((1L, "image", junk)))
    val real = Multimodal.extractFeatures(assets, real = true)
      .orderBy("asset_id").collect()(0)
    val stub = Multimodal.extractFeatures(assets, real = false)
      .orderBy("asset_id").collect()(0)
    assert(real.toSeq === stub.toSeq)
  }

  test("corrupt-but-recognized bytes (truncated PNG) fall back instead of killing the task") {
    // valid PNG signature + headers, payload cut mid-stream: ImageIO
    // recognizes the format and then throws from the reader — the decode
    // and resize paths must degrade, not propagate, or one malformed
    // asset fails the whole job
    val whole = pngBytes(64, 64, 0x123456)
    val truncated = whole.take(whole.length / 3)
    assert(Multimodal.JdkDecoder.decodeImage(truncated).isEmpty)
    assert(Multimodal.JdkDecoder.resizeImage(truncated, 16).isEmpty)
    val assets = assetDf(Seq((1L, "image", truncated), (2L, "image", whole)))
    val feats = Multimodal.extractFeatures(assets, real = true)
      .orderBy("asset_id").collect()
    assert(feats.length === 2) // no dropped rows, no task failure
    val stub = Multimodal.extractFeatures(
      assetDf(Seq((1L, "image", truncated))), real = false).collect()(0)
    assert(feats(0).toSeq === stub.toSeq) // truncated row == stub features
    assert(feats(1).getInt(2) === 64)     // intact row still really decoded
    // resize job survives too; undecodable payload passes through unchanged
    val resized = Multimodal.resizeAssets(assets, maxSide = 16)
      .orderBy("asset_id").collect()
    assert(resized(0).getAs[Array[Byte]]("content").toSeq === truncated.toSeq)
    assert(Multimodal.JdkDecoder.decodeImage(
      resized(1).getAs[Array[Byte]]("content")).get._1 === 16)
  }

  test("frame sampling: rows scale with payload size, hashes deterministic") {
    val assets = Multimodal.ingest(spark, binGlob).cache()
    val frames = Multimodal.sampleFrames(assets, strideBytes = 100000)
    val perAsset = frames.groupBy("asset_id").count()
    val expect = assets.select(col("asset_id"),
      greatest(lit(1L), (col("n_bytes") / 100000).cast("long")).as("want"))
    assert(perAsset.join(expect, "asset_id")
      .filter(col("count") =!= col("want")).count() === 0)
    val h1 = frames.orderBy("asset_id", "frame_no").collect().map(_.getString(2))
    val h2 = Multimodal.sampleFrames(assets, strideBytes = 100000)
      .orderBy("asset_id", "frame_no").collect().map(_.getString(2))
    assert(h1.toSeq === h2.toSeq)
  }
}
