package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time layout utilities: pre-shuffle (bucket) or pre-sort (range
  * layout) ONCE at ingest so every downstream read pays less — the 100 TB
  * playbook (SURVEY §7.1): a fact table joined on its FK every day should
  * not shuffle every day, and a fact table filtered on its time column
  * every day should not scan every row group every day.
  */
object Bucketing {

  /** Range-partition + sort `df` on `sortCol` and write it as parquet —
    * the ingest layout that turns parquet row-group/page min-max stats
    * into real skipping for range predicates on `sortCol`. Measured in
    * `tools/LayoutBench` at 8a861d8 (and pinned in BucketingSpec): a 1% time-window
    * query over the same rows decodes ~51x fewer rows from this layout
    * than from arrival (hash) order, and that decode ratio IS the cost
    * ratio of the query at 100 TB. Reference anchor: the engine's own
    * step-sorted columnar snapshots (`Output/MLSOut*.bin`, SURVEY D11) —
    * sorted-on-write so range reads stay sub-linear.
    *
    * `partitions <= 0` keeps the session's `spark.sql.shuffle.partitions`.
    * `options` passes writer options through (e.g. `parquet.block.size`
    * to shrink row groups when files are small relative to the default
    * 128 MiB groups).
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
                  partitions: Int = 0,
                  options: Map[String, String] = Map.empty): Unit = {
    val ranged =
      if (partitions > 0) df.repartitionByRange(partitions, col(sortCol))
      else df.repartitionByRange(col(sortCol))
    ranged.sortWithinPartitions(sortCol)
      .write.options(options).mode("overwrite").parquet(path)
  }

  /** Morton (Z-order) key: interleave the low `bits` bits of each input,
    * so rows close in EVERY dimension get close keys. [[writeSorted]]
    * clusters one dimension perfectly and leaves the others scattered;
    * sorting by this key clusters all of them at once, which is what a
    * multi-dimensional predicate needs — the reference's box-range filter
    * (SURVEY P2: `TestInsideBox` over x/y/z) is exactly that shape, and at
    * 100 TB the box query is only sub-linear if the LAYOUT localizes all
    * three axes. Inputs must already be non-negative ints in
    * `[0, 2^bits)` — see [[zorderKey]] for the scaling wrapper.
    * `n * bits` must fit a long (≤ 63).
    *
    * Pure bitwise arithmetic on longs (shiftright/and/shiftleft/or), so
    * the whole key is one codegen'd projection — no UDF.
    */
  def interleaveBits(scaled: Seq[Column], bits: Int): Column = {
    val n = scaled.size
    require(n >= 2, "z-order needs at least 2 dimensions")
    require(n * bits <= 63, s"$n dims x $bits bits overflows a long key")
    val terms = for { j <- 0 until bits; i <- 0 until n } yield
      shiftleft(shiftright(scaled(i), j).bitwiseAND(lit(1L)), j * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** [[interleaveBits]] over raw numeric columns: each is affinely scaled
    * from its `[lo, hi]` range onto the `[0, 2^bits)` grid (clamped, so
    * out-of-range rows key to the grid edge rather than corrupting the
    * interleave). Bounds are caller-supplied: at ingest they come from one
    * tiny min/max aggregate ([[writeZOrdered]]) or are simply known
    * (timestamps, bounded ids) — never a per-row data dependence.
    */
  def zorderKey(cols: Seq[Column], los: Seq[Double], his: Seq[Double],
                bits: Int): Column = {
    val maxv = (1L << bits) - 1
    val scaled = cols.zip(los.zip(his)).map { case (c, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(floor((c.cast("double") - lo) / span * maxv), lit(0.0)),
        lit(maxv.toDouble)).cast("long")
    }
    interleaveBits(scaled, bits)
  }

  /** Range-partition + sort `df` by the Z-order key of `zCols` and write
    * parquet — the multi-dimensional sibling of [[writeSorted]]. Parquet
    * keeps per-row-group min/max for each of the `zCols` AS STORED, and
    * Z-clustering makes every one of those ranges tight simultaneously, so
    * a box predicate (`x BETWEEN .. AND y BETWEEN ..`) skips row groups on
    * every axis — where a single-column sort only ever skips on its one
    * sort column. Measured in `tools/ZOrderBench` at 8a861d8 (1M events, 256 KiB
    * groups) and pinned in BucketingSpec: on a 10% x 10% (ts, user) box
    * the Z layout decodes 2.7x fewer rows than the ts-sorted layout
    * (38.9k vs 103.5k); on a user-only window — the 1-D sort's blind
    * spot — 5.9x fewer (ts-sort decodes the full corpus). The honest
    * flip side, also measured: a pure-ts 1% window decodes ~10x MORE
    * than the dedicated ts sort (122k vs 11.6k; the curve chops time
    * runs into grid slabs), so Z-order is the right layout exactly when
    * more than one axis is ever filtered — it trades a constant factor
    * of best-case for a bounded worst-case on every axis. Cost model at
    * 100 TB: pay one extra min/max pass + the same one shuffle every
    * layout write pays, own every multi-axis scan after.
    *
    * `bits` is capped so the composite key fits a long; 12 bits/dim
    * resolves 4096 grid cells per axis, far below row-group granularity
    * for any realistic file, so precision loss never shows up in skipping.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bits: Int = 12, partitions: Int = 0,
                    options: Map[String, String] = Map.empty): Unit = {
    val b = math.min(bits, 63 / zCols.size)
    // one dimension-bounded aggregate (2 doubles per z-column) for bounds
    val aggs = zCols.flatMap(c => Seq(min(col(c)).cast("double"),
      max(col(c)).cast("double")))
    val rows = df.agg(aggs.head, aggs.tail: _*).collect()
    // empty input or an all-null z-column yields null bounds — fail with
    // the column name instead of an NPE out of row.getDouble (an empty
    // frame has no layout to optimize; write it directly instead)
    require(rows.nonEmpty && !rows(0).anyNull, {
      val bad =
        if (rows.isEmpty) zCols
        else zCols.zipWithIndex.collect {
          case (c, i) if rows(0).isNullAt(2 * i) || rows(0).isNullAt(2 * i + 1) => c
        }
      s"writeZOrdered: no min/max bounds for z-column(s) ${bad.mkString(", ")} " +
        "(empty input or entirely-null column); write the frame unsorted instead"
    })
    val row = rows(0)
    val los = zCols.indices.map(i => row.getDouble(2 * i))
    val his = zCols.indices.map(i => row.getDouble(2 * i + 1))
    val key = zorderKey(zCols.map(col), los, his, b)
    val keyed = df.withColumn("__zkey", key)
    val ranged =
      if (partitions > 0) keyed.repartitionByRange(partitions, col("__zkey"))
      else keyed.repartitionByRange(col("__zkey"))
    ranged.sortWithinPartitions("__zkey").drop("__zkey")
      .write.options(options).mode("overwrite").parquet(path)
  }

  /** Compact a micro-batch-littered parquet directory AND restore its
    * Z-order layout in the same rewrite — maintenance for a fact table
    * that is appended in small batches but read through multi-axis box
    * predicates: appends land unsorted litter; periodic compaction both
    * merges the small files (fewer tasks, bigger row groups) and re-sorts
    * the whole directory on the Z curve so the box-pruning the layout was
    * chosen for keeps working. One read + one shuffle (the same shuffle
    * any layout write pays); file count is sized from the directory's
    * actual bytes. The rewrite replaces the directory through
    * [[StagedSwap]] (staged at `path + "__zcompact"`, the live layout
    * aside at `path + "__old"`, healed first; single-writer; readers
    * retry on transient missing-path during the rename pair).
    *
    * Returns (data files before, data files after).
    */
  def compactZOrdered(spark: SparkSession, path: String, zCols: Seq[String],
                      bits: Int = 12, targetFileBytes: Long = 128L << 20,
                      options: Map[String, String] = Map.empty): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = StagedSwap.Stages(p, new Path(path + "__zcompact"),
      new Path(path + "__old"))
    StagedSwap.heal(fs, swap)
    def dataFiles(dir: Path) = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val files = dataFiles(p)
    val before = files.length
    val parts = math.max(1,
      math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    writeZOrdered(spark.read.parquet(path), swap.staged.toString, zCols, bits,
      parts, options)
    StagedSwap.promote(fs, swap)
    (before, dataFiles(p).length)
  }

  /** Persist `df` as a bucketed, sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Join two tables bucketed on the same key with the same bucket count —
    * planner elides both exchanges (verify with
    * `df.queryExecution.executedPlan` containing no `Exchange`).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
