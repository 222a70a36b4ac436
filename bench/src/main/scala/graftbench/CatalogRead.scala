package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `catalog_read`: one op = one catalog key that writes no files,
  * `SparkEntry.queries(k)(spark, dir)` then a save to [[DigestSink]] (the
  * `noop` write plus a digest of its rows). Every round runs every listed
  * key once, in an order drawn from the seed and the round number.
  */
final class CatalogRead(spark: SparkSession, data: String, keysFile: String,
                        seed: Long, trace: Trace) extends Workload {
  private val catalog = graft.SparkEntry.queries
  private val keys = CatalogRead.readKeys(keysFile, catalog.keySet)
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, DigestSink.Digest]()

  override def opsPerRound: Int = keys.size
  override def inputs: Seq[(String, Any)] = Seq("keys" -> keys.size)

  override def setup(): Unit = {
    trace.call("tables.load") { CatalogRead.loadTables(spark, data) }
    // Warm-up: every key once, off the clock, on parallel client threads
    // (the keys only read); each key's digest here is the reference its
    // timed ops must match. A key whose warm-up throws is retried alone.
    Main.warm(keys)(k => reference.put(k, run(k)))
    keys.filterNot(reference.containsKey).foreach(k => reference.put(k, run(k)))
  }

  private def run(k: String): DigestSink.Digest = {
    val id = s"$k#${Thread.currentThread().getId}"
    CatalogRead.save(catalog(k)(spark, data), id)
    DigestSink.results.remove(id)
  }

  private var order: IndexedSeq[String] = IndexedSeq.empty

  override def before(i: Int): Unit = if (i % keys.size == 0)
    order = new scala.util.Random(seed * 7919 + i / keys.size).shuffle(keys)

  override def label(i: Int): String = order(i % keys.size)

  override def op(i: Int): () => Boolean = {
    val k = order(i % keys.size)
    val df = trace.call("queries.build") { catalog(k)(spark, data) }
    trace.call("queries.run") { CatalogRead.save(df, k) }
    val got = DigestSink.results.remove(k)
    () => got == reference.get(k)
  }
}

object CatalogRead {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings", "documents")

  def save(df: DataFrame, id: String): Unit =
    df.write.format(classOf[DigestSink].getName).option("id", id).mode("overwrite").save()

  /** Full scans of every table through `graft.Tables`, as `graft.Bench`'s
    * warm-up does: registers the schemas and warms the page cache.
    */
  def loadTables(spark: SparkSession, data: String): Unit = Tables.foreach { t =>
    val df = if (t == "events") graft.Tables.events(spark, data)
      else graft.Tables.table(spark, data, t)
    df.write.format("noop").mode("overwrite").save()
  }

  /** The `read` keys of the committed key list (`spare` keys write no
    * files either but are left out; `write` keys create files). Fails
    * unless the list names every catalog key exactly once, so the workload
    * cannot grow or shrink without the list changing with it.
    */
  def readKeys(file: String, catalog: Set[String]): IndexedSeq[String] = {
    val entries = scala.io.Source.fromFile(file).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match {
        case Array(kind @ ("read" | "spare" | "write"), k) => (kind, k)
        case bad => throw new IllegalStateException(s"bad key-list line: ${bad.mkString(" ")}")
      }).toSeq
    val listed = entries.map(_._2)
    val dup = listed.diff(listed.distinct)
    val unlisted = catalog -- listed
    val gone = listed.toSet -- catalog
    if (dup.nonEmpty || unlisted.nonEmpty || gone.nonEmpty)
      throw new IllegalStateException(
        s"key list $file is out of date with SparkEntry.queries: " +
          s"unlisted=${unlisted.toSeq.sorted.mkString(",")} " +
          s"missing=${gone.toSeq.sorted.mkString(",")} duplicated=${dup.mkString(",")}; " +
          "regenerate it with: python3 bench/run.py --list-keys")
    entries.collect { case ("read", k) => k }.toIndexedSeq.sorted
  }

  /** Classify every catalog key by whether running it creates or changes
    * a file under the JVM's temp dir or the work dir (Spark's own scratch
    * dir excluded), and print the key list. Each key reads its own copy of
    * the tables: the program memoizes some shared builds per table dir,
    * and a key must not hide its writes behind a build an earlier key did.
    */
  def listKeys(spark: SparkSession, data: String, work: String): Unit = {
    val roots = Seq(new File(sys.props("java.io.tmpdir")), new File(work))
    val scratch = new File(work, "spark-local").getCanonicalPath
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: File): Iterator[File] =
        if (f.getCanonicalPath.startsWith(scratch)) Iterator.empty
        else if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
        else Iterator(f)
      roots.iterator.flatMap(walk).map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    loadTables(spark, data) // the first scan unpacks native codecs into the temp dir
    val catalog = graft.SparkEntry.queries
    val lines = catalog.keySet.toSeq.sorted.map { k =>
      val own = new File(work, s"tables/$k")
      org.apache.commons.io.FileUtils.copyDirectory(new File(data), own)
      val before = snapshot()
      catalog(k)(spark, own.getPath).write.format("noop").mode("overwrite").save()
      val after = snapshot()
      val changed = after.collect { case (p, st) if !before.get(p).contains(st) => p }
      if (changed.nonEmpty) System.err.println(s"$k writes ${changed.toSeq.sorted.take(3).mkString(" ")}")
      s"${if (changed.nonEmpty) "write" else "read"} $k"
    }
    println(lines.mkString("\n"))
  }
}
