package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver's synthetic star schema
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §1).
  *
  * All persisted data in this engine is Parquet — the reference's
  * column-oriented `.bin` snapshots (SoA float32 arrays,
  * `BrazilSplitTest/Output/MLSOut00007250.bin`) are the same idea; see
  * `graft.formats` for those codecs.
  */
object Tables {

  /** SCHEMA-only memo for the base-table reads (r21, VERDICT r20 "Next
    * round" #6): `spark.read.parquet(path)` re-infers the schema —
    * driver-side file listing + a footer read, ~10–30 ms — on every
    * call, ~260 times per bench run (~2–3 s catalog-wide). The memo
    * caches the INFERRED SCHEMA per (session UUID, path, dir mtime) and
    * replays it through `spark.read.schema(...)`; the DATA is read from
    * parquet on every invocation exactly as before (plans identical —
    * the golden pins them), so the "every invocation computes from the
    * parquet inputs" contract holds.
    *
    * Contract: a table dir is rewritten only in ways that change its
    * mtime (a rewrite or append adds or replaces files in it), so a stale
    * schema is never replayed. The memo keeps the [[SchemaMemoCap]] most
    * recently used entries, so entries of stopped sessions and old
    * mtimes age out. A filesystem that can't answer getFileStatus falls
    * back to plain inference.
    */
  private val SchemaMemoCap = 1024
  private val schemaMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, Long), StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long), StructType]): Boolean =
        size() > SchemaMemoCap
    })

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key =
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        (org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark), path,
          fs.getFileStatus(hp).getModificationTime)
      } catch { case _: java.io.IOException => null }
    if (key == null) spark.read.parquet(path)
    else {
      val schema = Option(schemaMemo.get(key)).getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemaMemo.put(key, inferred)
        inferred
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Epoch micros of an NTZ timestamp (or date) column, extracted from the
    * stored WALL-CLOCK components (date / hour / minute / fractional
    * second) interpreted as UTC. This is the only conversion that is
    * timezone-independent BY CONSTRUCTION: every timestamp-function route
    * (cast(TimestampType), to_utc_timestamp, from_utc_timestamp) first
    * coerces NTZ→LTZ through `spark.sql.session.timeZone` —
    * `tools/TzProbe` at 8a861d8 demonstrates all three shifting under a non-UTC
    * session. All arithmetic is integer-exact (date_part SECOND is a
    * decimal carrying the full fractional micros; ×1e6 then cast long is
    * lossless at µs precision).
    */
  private[graft] def ntzWallMicros(c: Column): Column =
    unix_date(c.cast("date")) * lit(86400000000L) +
      hour(c) * lit(3600000000L) +
      minute(c) * lit(60000000L) +
      (date_part(lit("SECOND"), c) * lit(1000000)).cast("long")

  /** Epoch milliseconds of an NTZ timestamp (or date) column — the same
    * wall-clock-component extraction as [[ntzWallMicros]] scaled to ms, so
    * `l_shipdate`/`o_orderdate` epochs are timezone-independent by
    * construction (matching DuckDB's `epoch_ms` on the same naive values)
    * rather than correct-only-under-a-UTC-session as the former
    * cast(TimestampType)+unix_millis route was.
    */
  def epochMs(c: Column): Column =
    unix_date(c.cast("date")) * lit(86400000L) +
      hour(c) * lit(3600000L) +
      minute(c) * lit(60000L) +
      (date_part(lit("SECOND"), c) * lit(1000)).cast("long")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  private val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Events loader with a STABLE `ts` contract: epoch nanoseconds as a
    * long, whatever the driver generated on disk. The synthetic `events.ts`
    * has shipped as parquet `timestamp[ns]` (rounds 1-10, still the
    * fuzz-generator shape; Spark's schema converter rejects it unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to a raw ns long) and
    * as `timestamp[us]` (round-11 regeneration; surfaces as
    * TIMESTAMP_NTZ). Downstream code and every `epoch_ns(ts)` oracle
    * assume the ns-long form, so both on-disk types normalize to it here:
    *   - `ts`      — epoch nanoseconds (long, exact; safe for ordering/compare)
    *   - `ts_ms`   — epoch milliseconds (long, integer division — exact)
    *   - `ts_utc`  — TimestampType at millisecond precision (for
    *                 window()/session_window aggregations)
    *
    * The NTZ branch converts via [[ntzWallMicros]] — wall-clock component
    * extraction, timezone-independent by construction (`unix_micros`-style
    * timestamp-function routes all coerce NTZ→LTZ through the session
    * timezone first; TablesSpec pins invariance under America/New_York).
    *
    * The nanosAsLong flag is scoped to THIS read: set before the eager
    * schema inference and restored to the caller's prior value immediately
    * after (`tools/NsOptionProbe` at 8a861d8 verifies a true `timestamp[ns]` file
    * still decodes after the restore — the resolved LongType schema is
    * what execution consumes). No session state survives the call.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // the set/restore window is serialized (r13 review): two concurrent
    // events() calls could otherwise capture each other's "true" as the
    // prior value and re-leak the flag into the session — the exact
    // hygiene bug the scoping exists to fix. The lock covers only the
    // eager schema inference (ms-scale); execution happens outside it.
    // KNOWN LIMIT (ADVICE r13): the lock serializes events() callers
    // only — an UNRELATED thread running parquet schema inference on the
    // same session during this window observes the flag and would decode
    // a ts[ns] column as raw longs. nanosAsLong is a session-wide SQLConf
    // with no per-read datasource-option route (tools/NsOptionProbe's, at 8a861d8,
    // OPTION_ROUTE check confirmed `option("nanosAsLong")` is ignored by
    // the parquet source), so per-read scoping cannot be tightened
    // further; concurrent multi-table readers on one session must accept
    // the ms-scale window or read events() first.
    val raw = Tables.synchronized {
      val prior = spark.conf.getOption(NanosAsLongKey)
      spark.conf.set(NanosAsLongKey, "true")
      try table(spark, dir, "events")
      finally prior match {
        case Some(v) => spark.conf.set(NanosAsLongKey, v)
        case None    => spark.conf.unset(NanosAsLongKey)
      }
    }
    val tsNs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _                                   => ntzWallMicros(col("ts")) * lit(1000L)
    }
    raw.withColumn("ts", tsNs)
      .withColumn("ts_ms", expr("ts DIV 1000000"))
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
  }
}
