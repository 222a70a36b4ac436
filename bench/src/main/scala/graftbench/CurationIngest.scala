package graftbench

import java.io.File

import scala.util.Random

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.{CurationFlow, UnifiedFlow}

/** `curation_ingest`: one op = `UnifiedFlow.decide` + `UnifiedFlow.commit`
  * of one seeded micro-batch, the cursor carried from the previous op.
  * A round is one cycle of [[CurationIngest.Cycle]] batches over stores that
  * start empty; the stores are reset between rounds, off the clock, so an
  * op's cost does not drift with run length.
  */
final class CurationIngest(spark: SparkSession, work: String, seed: Long,
                           trace: Trace) extends Workload {
  import CurationIngest._

  private val dir = s"$work/curation"
  private var bench: DataFrame = _
  private var cursor = 0L
  private var inputBytes = 0L
  private var cycle: IndexedSeq[Batch] = IndexedSeq.empty
  private val storeBytes, storeFiles, ratio = collection.mutable.ArrayBuffer.empty[Double]

  override def opsPerRound: Int = Cycle
  override def inputs: Seq[(String, Any)] = Seq(
    "batches_per_cycle" -> Cycle, "fresh_docs_per_batch" -> Fresh,
    "docs_per_batch" -> cycle.map(_.docs.size).mkString("/"),
    "embedding_dim" -> Dim, "doc_bytes_per_cycle" -> cycle.map(_.bytes).sum)

  override def setup(): Unit = {
    bench = benchFrame(spark)
    // warm-up: the first batch of another seed's cycle, then reset
    ingest(Generator.cycle(seed + 1000003L, 0).head)
    reset(0)
  }

  private def reset(round: Int): Unit = {
    FileUtils.deleteDirectory(new File(dir))
    cursor = 0L; inputBytes = 0L
    cycle = Generator.cycle(seed, round)
  }

  override def before(i: Int): Unit = if (i % Cycle == 0 && i > 0) reset(i / Cycle)

  private def ingest(b: Batch): (Array[Row], Long, Long) = {
    val before = cursor
    val df = frame(spark, b)
    val (staged, decisions) = trace.call("ops.unified_decide") {
      val s = UnifiedFlow.decide(dir, df, bench, cursor)
      (s, s.decisions.collect())
    }
    trace.call("ops.unified_commit") { UnifiedFlow.commit(dir, staged) }
    cursor = staged.cursor
    (decisions, before, cursor)
  }

  override def label(i: Int): String = s"batch ${i % Cycle}"

  override def op(i: Int): () => Boolean = {
    val b = cycle(i % Cycle)
    val (decisions, from, to) = ingest(b)
    inputBytes += b.bytes
    () => {
      val ok = check(spark, dir, b, decisions, from, to).isEmpty
      val (bytes, files) = du(new File(dir))
      storeBytes += bytes; storeFiles += files; ratio += bytes.toDouble / inputBytes
      ok
    }
  }

  override def counters(): Map[String, Double] = Map(
    "store.bytes" -> mean(storeBytes), "store.files" -> mean(storeFiles),
    "store_bytes_per_input_byte" -> Main.median(ratio.toSeq))
}

object CurationIngest {
  val Cycle = 2
  val Fresh = 16
  val Dim = 16
  val Budget = 256L

  /** One generated doc; `expect` is the status the flow must give it and
    * `matched` the keeper a dedup drop must name.
    */
  final case class Doc(id: Long, text: String, emb: Option[Array[Float]],
                       expect: String, matched: Option[Long] = None)
  final case class Batch(docs: IndexedSeq[Doc]) {
    def bytes: Long = docs.map(d => d.text.getBytes("UTF-8").length.toLong +
      d.emb.map(_.length * 4L).getOrElse(0L)).sum
  }

  val schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("n_chars", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def frame(spark: SparkSession, b: Batch): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(b.docs.map(d => Row(d.id, d.text, d.text.length.toLong,
      d.emb.map(_.toSeq).orNull)): _*), schema)

  /** The decontamination eval set: texts over their own token alphabet,
    * so only a doc planted with one of their phrases can hit it.
    */
  val evalTexts: Seq[String] = (0 until 4).map { i =>
    val r = new Random(77 + i)
    (0 until 30).map(_ => "e" + Integer.toHexString(0x100000 + r.nextInt(0xEFFFFF))).mkString(" ")
  }

  def benchFrame(spark: SparkSession): DataFrame = {
    val docs = frame(spark, Batch(evalTexts.zipWithIndex.map { case (t, i) =>
      Doc((i + 1) * 100L, t, None, "") }.toIndexedSeq))
    org.apache.spark.sql.graftbridge.Bridge.dropCheckpointConstraints(
      CurationFlow.benchShingles(docs).localCheckpoint())
  }

  /** Seeded batches of fresh docs plus planted twins with known verdicts. */
  object Generator {
    def cycle(seed: Long, round: Int): IndexedSeq[Batch] = {
      val r = new Random(seed * 1000003L + round)
      var next = 1L
      def id(): Long = { next += 1; if (next % 100 == 0) next += 1; next }
      def tok(): String = "w" + Integer.toHexString(0x100000 + r.nextInt(0xEFFFFF))
      def text(n: Int): String = {
        val t = Array.fill(n)(tok()); t(0) = "the"; t(2) = "of"; t.mkString(" ")
      }
      def emb(): Array[Float] = {
        val v = Array.fill(Dim)(r.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / n).toFloat)
      }
      // one inner space doubled: another digest, the same tokens and shingles
      def respace(t: String): String = t.replaceFirst(" ", "  ")
      val kept = collection.mutable.ArrayBuffer.empty[Doc]
      (0 until Cycle).map { b =>
        val fresh = (0 until Fresh).map(k =>
          Doc(id(), text(24 + r.nextInt(16)), if (k % 3 == 2) None else Some(emb()), "kept"))
        val p = fresh(0); val q = fresh(1); val e = fresh(3)
        val planted = collection.mutable.ArrayBuffer(
          Doc(id(), text(5), None, "shape"),
          Doc(id(), (Seq("the", "of") ++ Seq.fill(10)(Seq("wrep0a", "wrep0b")).flatten ++
            Seq.fill(6)(tok())).mkString(" "), None, "repetition"),
          Doc(id(), p.text, None, "exact_batch", Some(p.id)))
        val qLong = Doc(id(), respace(q.text), None, "kept")
        val contam = evalTexts(b % evalTexts.size).split(" ").slice(5, 8).mkString(" ")
        planted += qLong
        planted += Doc(id(), text(30) + " " + contam, None, "contaminated")
        planted += Doc((b + 1) * 100000L, text(30), None, "benchmark")
        planted += Doc(id(), text(30), e.emb, "embdup_batch", Some(e.id))
        if (kept.nonEmpty) {
          val h = kept(r.nextInt(kept.size))
          val withEmb = kept.filter(_.emb.isDefined)
          val two = r.shuffle(withEmb.indices.toList).take(2)
          val he = withEmb(two(0)); val hs = withEmb(two(1))
          planted += Doc(id(), h.text, None, "exact_history", Some(h.id))
          planted += Doc(id(), respace(h.text), None, "neardup_history", Some(h.id))
          planted += Doc(id(), text(30), he.emb, "embdup_history", Some(he.id))
          planted += Doc(id(), text(30), hs.emb.map(v => v.updated(0, v(0) * 1.001f)),
            "semdup_history", Some(hs.id))
        }
        // q loses the keep-longest election to its respaced twin
        val docs = fresh.updated(1, q.copy(expect = "neardup_batch", matched = Some(qLong.id))) ++
          planted
        kept ++= docs.filter(_.expect == "kept")
        Batch(r.shuffle(docs))
      }
    }
  }

  /** Every way the batch's outcome breaks its contract; empty when it holds:
    * each doc has its expected status (and keeper), kept ⇔ stored in the
    * text store and (with an embedding) the vector store, and the kept
    * docs' packed token ranges tile [from, to) with no gap or overlap.
    */
  def check(spark: SparkSession, dir: String, b: Batch, decisions: Array[Row],
            from: Long, to: Long): Seq[String] = {
    val got = decisions.map(r => r.getLong(0) -> r).toMap
    val ids = b.docs.map(_.id)
    // the stores are parquet dirs under the flow's dir (UnifiedFlow's docs)
    def stored(path: String, idCol: String): Set[Long] =
      if (!new File(path).exists()) Set.empty
      else spark.read.parquet(path).select(idCol).collect()
        .map(r => r.getAs[Number](0).longValue).filter(ids.toSet).toSet
    val text = stored(s"$dir/textmeta", "doc_id")
    val vec = stored(s"$dir/vec/vectors", "vec_id")
    val errs = collection.mutable.ArrayBuffer.empty[String]
    if (decisions.length != b.docs.size) errs += s"${decisions.length} decisions for ${b.docs.size} docs"
    b.docs.foreach { d =>
      got.get(d.id) match {
        case None => errs += s"doc ${d.id}: no decision"
        case Some(r) =>
          val status = r.getAs[String]("status")
          val matched = Option(r.getAs[java.lang.Long]("matched_id")).map(_.longValue)
          if (status != d.expect) errs += s"doc ${d.id}: $status, expected ${d.expect}"
          if (d.matched.isDefined && matched != d.matched)
            errs += s"doc ${d.id}: matched $matched, expected ${d.matched}"
          val kept = status == "kept"
          if (text(d.id) != kept) errs += s"doc ${d.id}: kept=$kept but in text store=${text(d.id)}"
          if (vec(d.id) != (kept && d.emb.isDefined))
            errs += s"doc ${d.id}: kept=$kept but in vector store=${vec(d.id)}"
      }
    }
    val packed = decisions.filter(_.getAs[String]("status") == "kept").map(r =>
      (r.getAs[Long]("seq_id") * Budget + r.getAs[Long]("seq_offset"), r.getAs[Long]("n_tok")))
      .sortBy(_._1)
    val end = packed.foldLeft(from) { case (at, (cb, n)) =>
      if (cb != at) errs += s"packed range starts at $cb, expected $at"; cb + n }
    if (end != to) errs += s"cursor moved to $to, packed ranges end at $end"
    errs.toSeq
  }

  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else {
      val files = FileUtils.listFiles(f, null, true)
      (FileUtils.sizeOfDirectory(f), files.size.toLong)
    }

  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
