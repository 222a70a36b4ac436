package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A key-bucketed parquet store: the one on-disk layout behind the band
  * indexes ([[Dedup.BandIndex]]), the kept-vector store
  * ([[VectorFlow.KeptVectors]]), the text keeper-meta store
  * ([[CurationFlow.KeeperMeta]]) and the SCD2 archive ([[TimeOps.Archive]]).
  * A store is its `schema` (the row id first, the bucket column `bkt`
  * last), the `key` column whose hash picks the bucket, and the
  * `legacyHint` its refusal of an unstamped directory names.
  *
  * LAYOUT. Rows are hive-partitioned into `<bkt>=b` directories,
  * b = xxhash64(key) mod `buckets` — the parquet analog of `bucketBy`
  * without a metastore. A reader that knows a batch's keys collects their
  * buckets (at most `buckets` ints) and pushes them as a static
  * `bkt IN (...)` filter: planning-time directory pruning, so per-batch
  * I/O follows the touched slice of the store, never its history.
  *
  * FROZEN BUCKET COUNT. A reader with another modulus prunes away
  * directories that DO hold matching rows, silently, so the count is part
  * of the store's contract: stamped in `_graft_layout.json` (the
  * underscore keeps Spark's listing from treating it as data) BEFORE the
  * first append, and validated on every entry. Stamping first makes a
  * crash between stamp and append benign: a sidecar-only directory reads
  * as an empty store with a frozen count. A data-bearing directory with no
  * sidecar (a pre-sidecar layout whose rows the bucketed reader would
  * lose) is refused.
  *
  * CRASH CONTRACTS. Every entry heals first ([[StagedSwap.heal]] for the
  * whole directory, then the removal stages).
  *   - [[append]] writes one file per touched bucket (a partitionBy write
  *     from N shuffle partitions otherwise emits up to N files per bucket
  *     per batch); callers' replay contracts make appends idempotent.
  *   - [[compact]] and [[migrate]] rewrite the store through the
  *     whole-directory [[StagedSwap]].
  *   - [[remove]] rewrites only the touched buckets: the replacement is
  *     written fully under `.rm_tmp/`, then per bucket live → `.rm_aside/`,
  *     tmp → live, aside dropped. The stage dirs live INSIDE the store
  *     (dot-prefixed, hidden from parquet listings), so a whole-directory
  *     swap carries them along. The heal restores the aside of any bucket
  *     left live-less — a torn removal UNDOES, and the caller's replay
  *     re-runs it (removing absent rows is a no-op). A bucket emptied by a
  *     removal has no tmp dir and loses its live dir (explicit-schema
  *     reads tolerate missing buckets).
  *
  * SINGLE WRITER. A store admits one writer at a time: appends, removals
  * and compactions must be serialized by the caller (a streaming
  * `foreachBatch` loop with compaction between batches). A concurrent
  * append between a compaction's snapshot read and its swap would leave
  * with the aside, and a concurrent heal would delete an in-flight tmp.
  * Readers need no coordination: a read freezes its file listing, and
  * every swap step is an atomic directory rename.
  */
final case class BucketedStore(schema: StructType, key: String, bkt: String,
                               legacyHint: String) {
  import BucketedStore._

  /** The stored columns, without the bucket column. */
  val dataSchema: StructType = StructType(schema.filterNot(_.name == bkt))
  private def dataCols: Seq[Column] = dataSchema.fieldNames.toSeq.map(col)

  /** A row's bucket: a fixed hash of its key into `buckets` directories. */
  def bucketOf(buckets: Int): Column =
    pmod(xxhash64(col(key)), lit(buckets.toLong)).cast("int")

  /** Heal, then validate the caller's bucket count against the stamped
    * one; returns the store's file system.
    */
  def open(spark: SparkSession, path: String, buckets: Int): FileSystem = {
    val fs = heal(spark, path)
    check(fs, path, buckets)
    fs
  }

  /** Append `rows` (the store's data columns; others are dropped), one
    * file per touched bucket. Stamps the bucket count on a new store.
    */
  def append(path: String, rows: DataFrame, buckets: Int): Unit = {
    val fs = heal(rows.sparkSession, path)
    if (check(fs, path, buckets).isEmpty) stamp(fs, path, buckets)
    rows.select(dataCols: _*).withColumn(bkt, bucketOf(buckets))
      .repartition(col(bkt))
      .write.mode("append").partitionBy(bkt).parquet(path)
  }

  /** The sorted buckets `keys`' key column hashes to: one driver collect. */
  private def touched(keys: DataFrame, buckets: Int): Seq[Int] =
    keys.select(bucketOf(buckets).as(bkt)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** Every stored row (with its bucket column) of the `touched` buckets. */
  def scan(spark: SparkSession, path: String, touched: Seq[Int]): DataFrame =
    spark.read.schema(schema).parquet(path)
      .filter(col(bkt).isInCollection(touched))

  /** The stored rows of every bucket `keys` touch — the caller owns the
    * join that narrows them (the band indexes' candidate joins). The
    * touched buckets are collected before the store's existence is
    * checked.
    */
  def pruned(path: String, keys: DataFrame, buckets: Int): DataFrame = {
    val spark = keys.sparkSession
    val fs = open(spark, path, buckets)
    val t = touched(keys, buckets)
    if (t.isEmpty || !fs.exists(new Path(path))) empty(spark)
    else scan(spark, path, t).select(dataCols: _*)
  }

  /** The stored rows of `ids` (one column, the key; batch-bounded): the
    * touched buckets' rows semi-joined to the broadcast ids. An absent
    * store fetches nothing and runs no job.
    */
  def fetch(path: String, ids: DataFrame, buckets: Int): DataFrame = {
    val spark = ids.sparkSession
    val fs = open(spark, path, buckets)
    val t = if (fs.exists(new Path(path))) touched(ids, buckets) else Nil
    if (t.isEmpty) empty(spark)
    else scan(spark, path, t)
      .join(broadcast(ids), Seq(key), "left_semi")
      .select(dataCols: _*)
  }

  /** Remove every stored row whose id (the schema's first column) is in
    * `rows`, rewriting only the buckets `rows`' key column touches. `rows`
    * must carry every key of each removed id (a band index's removal
    * lists all of a doc's bands), or rows in untouched buckets survive.
    */
  def remove(path: String, rows: DataFrame, buckets: Int): Unit = {
    val spark = rows.sparkSession
    val idCol = schema.head.name
    val fs = open(spark, path, buckets)
    val live = new Path(path)
    val t = if (fs.exists(live)) touched(rows, buckets) else Nil
    if (t.nonEmpty) {
      val tmpRoot = new Path(live, RmTmp)
      val asideRoot = new Path(live, RmAside)
      scan(spark, path, t)
        .join(broadcast(rows.select(col(idCol)).distinct()), Seq(idCol),
          "left_anti")
        .repartition(col(bkt))
        .write.mode("overwrite").partitionBy(bkt).parquet(tmpRoot.toString)
      fs.mkdirs(asideRoot)
      t.foreach { b =>
        val liveB = new Path(live, s"$bkt=$b")
        val asideB = new Path(asideRoot, s"$bkt=$b")
        val tmpB = new Path(tmpRoot, s"$bkt=$b")
        if (fs.exists(liveB)) StagedSwap.rename(fs, liveB, asideB)
        if (fs.exists(tmpB)) StagedSwap.rename(fs, tmpB, liveB)
        fs.delete(asideB, true)
      }
      fs.delete(asideRoot, true)
      fs.delete(tmpRoot, true)
    }
  }

  /** Fold the store back to one file per non-empty bucket (repartition BY
    * the bucket column; `targetParts` only bounds the shuffle width),
    * fetch-identical, through the staged swap. Absent-safe.
    */
  def compact(spark: SparkSession, path: String, targetParts: Int = 1): Unit = {
    require(targetParts >= 1, s"targetParts must be >= 1, got $targetParts")
    val fs = heal(spark, path)
    val stamped = frozen(fs, path)
    if (fs.exists(new Path(path)))
      swapIn(fs, path, spark.read.schema(schema).parquet(path)
        .repartition(targetParts, col(bkt)), stamped)
  }

  /** One-time rewrite of an unbucketed (pre-sidecar) directory of the
    * store's data columns into the bucketed layout, stamped, through the
    * staged swap. Without it the bucketed reader sees the missing bucket
    * column as null and its partition filter drops every row.
    */
  def migrate(spark: SparkSession, path: String, buckets: Int): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val fs = heal(spark, path)
    if (fs.exists(new Path(path)))
      swapIn(fs, path, spark.read.schema(dataSchema).parquet(path)
        .withColumn(bkt, bucketOf(buckets)).repartition(col(bkt)),
        Some(buckets))
  }

  private def swapIn(fs: FileSystem, path: String, rows: DataFrame,
                     buckets: Option[Int]): Unit = {
    val tmp = StagedSwap.tmp(path)
    rows.write.mode("overwrite").partitionBy(bkt).parquet(tmp)
    buckets.foreach(stamp(fs, tmp, _))
    StagedSwap.promote(fs, path)
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)

  /** The whole-directory heal, then a torn removal's: a bucket whose live
    * dir is missing gets its aside restored; leftover stages are dropped.
    */
  private def heal(spark: SparkSession, path: String): FileSystem = {
    val fs = StagedSwap.heal(spark, path)
    val rmAside = new Path(path, RmAside)
    if (fs.exists(rmAside)) {
      fs.listStatus(rmAside).foreach { st =>
        val liveB = new Path(path, st.getPath.getName)
        if (fs.exists(liveB)) fs.delete(st.getPath, true)
        else StagedSwap.rename(fs, st.getPath, liveB)
      }
      fs.delete(rmAside, true)
    }
    fs.delete(new Path(path, RmTmp), true)
    fs
  }

  /** The stamped bucket count; throws on a data-bearing directory that
    * has none.
    */
  private def frozen(fs: FileSystem, path: String): Option[Int] = {
    val b = stamped(fs, path)
    val p = new Path(path)
    if (b.isEmpty && fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      throw new IllegalStateException(
        s"$path has data but no layout sidecar: $legacyHint")
    b
  }

  private def check(fs: FileSystem, path: String, buckets: Int): Option[Int] = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val b = frozen(fs, path)
    b.foreach(s => require(s == buckets,
      s"$path is bucketed with buckets=$s but the caller passed " +
        s"buckets=$buckets — the bucket count is frozen at creation"))
    b
  }
}

object BucketedStore {
  private val Sidecar = "_graft_layout.json"
  private val RmTmp = ".rm_tmp"
  private val RmAside = ".rm_aside"

  /** Stamp `buckets` into the directory at `path` (overwrites). */
  private[graft] def stamp(fs: FileSystem, path: String, buckets: Int): Unit =
    FsUtil.writeBytes(fs, new Path(path, Sidecar),
      s"""{"buckets":$buckets}""".getBytes("UTF-8"))

  /** The stamped bucket count, if the sidecar exists. */
  private[graft] def stamped(fs: FileSystem, path: String): Option[Int] =
    FsUtil.readString(fs, new Path(path, Sidecar)).flatMap(
      "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toInt))
}
