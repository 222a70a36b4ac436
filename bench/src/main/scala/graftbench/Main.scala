package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop of one client, one op type.
  *
  * [[setup]] runs untimed (it is part of `setup_s`); every op then runs
  * [[before]] untimed, [[op]] timed, and the check [[op]] returns untimed.
  */
trait Workload {
  def setup(): Unit
  /** Ops per round. A run measures whole rounds, so every round has the
    * same op count and the tail percentile is the same on every commit.
    */
  def opsPerRound: Int
  def before(i: Int): Unit = ()
  def op(i: Int): () => Boolean
  /** What op `i` ran (a key, a batch, a solid), recorded next to its latency. */
  def label(i: Int): String
  /** Input sizes, recorded with every result. */
  def inputs: Seq[(String, Any)]
  /** This workload's values of [[Main.Extra]] counters, from a traced run. */
  def counters(): Map[String, Double] = Map.empty
}

object Main {
  /** Every call the traced run reports, in report order. */
  val Calls: Seq[String] = Seq("tables.load", "queries.build", "queries.run",
    "ops.unified_decide", "ops.unified_commit", "pipeline.generate", "pipeline.cut",
    "formats.facet_export", "formats.deck_write", "formats.deck_read",
    "sources.soa_write", "sources.soa_read", "sources.soa_pruned_read")

  /** Per-layer counters beyond the per-call eight; a workload that has no
    * such layer reports 0.
    */
  val Extra: Seq[(String, String)] = Seq("store.bytes" -> "bytes", "store.files" -> "count",
    "store_bytes_per_input_byte" -> "ratio", "formats.deck_bytes" -> "bytes",
    "sources.soa_bytes" -> "bytes")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --key value pairs: ${args.mkString(" ")}")
    Args(args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  val slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** The session `graft.Bench` builds (same master width rule, shuffle
    * partitions = slots, UTC, UI off, the program's local filesystem), with
    * Spark's scratch and warehouse dirs kept inside the work dir.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", graft.ops.FsUtil.localFsImpl)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, a: Args, trace: Trace): Workload =
    name match {
      case "catalog_read" => new CatalogRead(spark, a("data"), a("keys"), a("seed").toLong, trace)
      case "curation_ingest" => new CurationIngest(spark, a("work"), a("seed").toLong, trace)
      case "ice_specimen" => new IceSpecimen(spark, a("work"), a("seed").toLong, trace)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.get("mode") match {
      case Some("list-keys") => CatalogRead.listKeys(session(a("work")), a("data"), a("work"))
      case Some("selftest") => SelfTest.run(session(a("work")), a)
      case Some(m) => throw new IllegalArgumentException(s"unknown mode '$m'")
      case None => measure(a)
    }
  }

  def measure(a: Args): Unit = {
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = session(a("work"))
    val trace = new Trace(spark.sparkContext, traced)
    val w = workload(a("workload"), spark, a, trace)
    w.setup()
    trace.discard(keep = "tables.load")
    val setupS = (System.nanoTime() - t0) / 1e9

    val lat = mutable.ArrayBuffer.empty[Double]
    val labels = mutable.ArrayBuffer.empty[String]
    val tails = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var heapMax = 0.0
    val tw = System.nanoTime()
    var round = 0
    while (round == 0 || System.nanoTime() - tw < seconds * 1e9) {
      val roundLat = (0 until w.opsPerRound).map { j =>
        val i = round * w.opsPerRound + j
        w.before(i)
        val s = System.nanoTime()
        val check = try w.op(i) catch { case e: Exception =>
          System.err.println(s"op $i failed: $e"); () => false }
        val secs = (System.nanoTime() - s) / 1e9
        val ok = try check() catch { case e: Exception =>
          System.err.println(s"op $i check threw: $e"); false }
        if (!ok) failed += 1
        labels += w.label(i)
        if (traced) heapMax = math.max(heapMax, heapAfterGcMb)
        secs
      }
      lat ++= roundLat
      tails += tail(roundLat)
      round += 1
    }
    val spans = if (traced) trace.spanStats() else Seq.empty
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", lat.size / lat.sum, "1/s"),
        ("op_p50_s", median(lat.toSeq), "s"),
        ("op_tail_s", median(tails.toSeq), "s"),
        ("peak_rss_mb", peakRssMb, "MB"))
      else {
        val sums = Trace.summary(spans, Calls)
        Calls.flatMap(c => sums(c).counters.map { case (n, v, u) => (s"$c.$n", v, u) }) ++
          Seq(("queries.run.input_bytes", sums("queries.run").inputPerCall, "bytes"),
            ("ops.unified_decide.input_bytes", sums("ops.unified_decide").inputPerCall, "bytes"),
            ("ops.unified_decide.unlabeled_jobs", sums("ops.unified_decide").unlabeledPerCall,
              "count"),
            ("jvm.heap_after_gc_mb", heapMax, "MB")) ++
          Extra.map { case (n, u) => (n, w.counters().getOrElse(n, 0.0), u) }
      }
    val ops = lat.size
    val env = Seq("slots" -> slots, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_flags" -> heapFlags.mkString(" "), "spark" -> spark.version,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "rounds" -> round, "ops_per_round" -> w.opsPerRound,
      "tail_percentile" ->
        (if (w.opsPerRound > 10) (w.opsPerRound - 10).toDouble / w.opsPerRound else 1.0))
    val out = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> ops, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "env" -> Json.Raw(Json.obj(env)),
      "inputs" -> Json.Raw(Json.obj(w.inputs)),
      "latencies_s" -> Json.Raw(lat.mkString("[", ",", "]")),
      "ops" -> Json.Raw(labels.map(Json.value).mkString("[", ",", "]")),
      // traced runs: every call in order, with its own split of time
      "spans" -> Json.Raw(spans.map { case (s, c) => Json.obj(Seq("call" -> s.name,
        "wall_s" -> c.wallS, "jobs" -> c.jobs, "driver_s" -> c.driverS,
        "task_cpu_s" -> c.taskCpuS)) }.mkString("[", ",", "]"))))
    Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
    spark.stop()
  }

  /** Runs `f` over `xs` on `slots` client threads (a warm-up whose cost is
    * mostly cold driver code: planning, codegen, JIT). An `x` whose `f`
    * throws is skipped; the caller retries what it still lacks.
    */
  def warm[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    try xs.map(x => pool.submit(() => scala.util.Try(f(x)))).foreach(_.get())
    finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with at least ten ops beyond it (the max
    * of a round shorter than eleven ops).
    */
  def tail(xs: Seq[Double]): Double =
    xs.sorted.apply(if (xs.size > 10) xs.size - 11 else xs.size - 1)

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def heapFlags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(f => f.startsWith("-Xm") || f.startsWith("-XX:")).toSeq
  }

  /** Heap in use after the most recent collection, summed over heap pools. */
  def heapAfterGcMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum / (1 << 20)
  }
}

/** Just enough JSON writing for the result record. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
