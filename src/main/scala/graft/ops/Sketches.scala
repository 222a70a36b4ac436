package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch aggregation and incremental summary maintenance — the
  * pattern that makes "distinct users per segment, every day, over 100 TB
  * of history" affordable: aggregate each ingest batch ONCE into a
  * key-bounded summary row set whose measures are all algebraic (sum /
  * count / min / max) or mergeable sketches (datasketches HLL), then
  * answer every later query — including distinct counts over arbitrary
  * unions of batches — from the summary, never rescanning the facts.
  *
  * Everything here rides Spark's built-in codegen'd datasketches
  * expressions (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`): sketch registers are deterministic for a given
  * value set (a max over per-value register candidates), so union-merging
  * per-batch sketches yields BIT-IDENTICAL estimates to sketching the
  * concatenated corpus — asserted exactly in SketchesSpec, which is what
  * licenses split-anywhere ingest at any partitioning.
  */
object Sketches {

  /** Per-key summary of one fact batch: row count, sum/min/max of
    * `valueCol`, and an HLL sketch of `distinctCol` (binary, mergeable).
    * One hash aggregate with map-side partials; output is key-bounded.
    */
  def summarize(batch: DataFrame, keys: Seq[String], valueCol: String,
                distinctCol: String, lgK: Int = 12,
                hist: Option[HistSpec] = None,
                kllK: Option[Int] = None): DataFrame = {
    val base = Seq(
      count(lit(1)).as("n_rows"),
      sum(col(valueCol)).as("sum_v"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"),
      hll_sketch_agg(col(distinctCol), lit(lgK)).as("distinct_hll"))
    val kllAggs = kllK.map(kk =>
      graft.functions.KllF.sketchAgg(batch.sparkSession,
        col(valueCol).cast("double"), kk).as("value_kll")).toSeq
    val aggs = base ++ kllAggs ++ hist.map { h =>
      // null-safe: width_bucket(null, ...) is null and the typed
      // Aggregator's Long input encoder is non-nullable — coalesce nulls
      // into the underflow slot (bin 0). Documented contract: null values
      // count in underflow (sum/min/max skip them; n_rows counts them),
      // and the mapping is per-row so split-merge exactness is unchanged.
      org.apache.spark.sql.functions.udaf(new graft.functions.BinCountAgg(h.bins))
        .apply(coalesce(
          width_bucket(col(valueCol), lit(h.lo), lit(h.hi), lit(h.bins)),
          lit(0L)))
        .as("value_hist")
    }
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fixed-bin histogram declaration for [[summarize]]: `bins` equal-width
    * bins over [lo, hi) plus under/overflow slots (width_bucket layout) —
    * nbins+2 longs per summary row, exact counts, mergeable by vector
    * addition. Bin edges are part of the summary CONTRACT (like the HLL
    * lgK or a quantizer grid): every batch folded into one summary must
    * use the same spec, and quantile reads are exact to one bin width.
    */
  final case class HistSpec(lo: Double, hi: Double, bins: Int)

  /** Merge summary row sets (any number of batches' summaries unioned):
    * algebraic measures re-aggregate, sketches union-merge. The input is
    * summaries — key-bounded — so this never touches fact rows.
    */
  def merge(summaries: DataFrame, keys: Seq[String]): DataFrame = {
    val base = Seq(
      sum(col("n_rows")).as("n_rows"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"),
      hll_union_agg(col("distinct_hll")).as("distinct_hll"))
    val kllAggs =
      if (summaries.columns.contains("value_kll"))
        Seq(graft.functions.KllF.mergeAgg(summaries.sparkSession,
          col("value_kll")).as("value_kll"))
      else Nil
    val aggs = base ++ kllAggs ++ (if (summaries.columns.contains("value_hist"))
      Seq(org.apache.spark.sql.functions.udaf(graft.functions.VecSumLongAgg)
        .apply(col("value_hist")).as("value_hist"))
    else Nil)
    summaries.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one new fact batch into the summary at `path` (creating it on
    * first call): summarize the DELTA only, merge with the stored
    * summary, staged-swap the result. Cost per maintenance call is
    * O(delta + summary) — the whole point; re-aggregating history to
    * absorb a day's ingest is the anti-pattern this replaces.
    *
    * The merged summary replaces the live one through [[StagedSwap]]
    * (staged at `path + "__staging"`, the live summary aside at
    * `path + "__old"`), healed first. SINGLE-WRITER contract: concurrent
    * maintainers must be serialized upstream, e.g. by the streaming
    * foreachBatch loop. A reader never sees a HALF-WRITTEN summary;
    * during the rename window it can transiently see the path missing, so
    * retry-on-missing is the reader contract on stores without atomic
    * rename pairs.
    */
  def maintain(spark: SparkSession, path: String, batch: DataFrame,
               keys: Seq[String], valueCol: String, distinctCol: String,
               lgK: Int = 12, hist: Option[HistSpec] = None,
               kllK: Option[Int] = None): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = StagedSwap.Stages(p, new Path(path + "__staging"),
      new Path(path + "__old"))
    // heal FIRST: a crash in the rename window leaves __old as the sole
    // copy of the accumulated summary, which must be restored before
    // reading (deleting it, as pre-r9 code did, would silently reset the
    // summary to the current delta)
    StagedSwap.heal(fs, swap)
    val delta = summarize(batch, keys, valueCol, distinctCol, lgK, hist, kllK)
    val merged =
      if (fs.exists(p)) merge(spark.read.parquet(path).unionByName(delta), keys)
      else merge(delta, keys)
    merged.write.mode("overwrite").parquet(swap.staged.toString)
    StagedSwap.promote(fs, swap)
  }

  /** Streaming twin of [[maintain]]: fold each micro-batch of a stream
    * into the stored summary. `foreachBatch` is the right sink — a
    * maintenance call is a whole-frame merge + staged swap, not a row
    * append — and the streaming checkpoint makes ingest restartable at
    * micro-batch granularity (at-least-once: a replayed batch re-merges
    * its rows, which shifts sketches/sums by the duplicated delta — run
    * exactly-once sources or dedup upstream where that matters, the
    * standard non-transactional-sink contract). With this, the summary
    * is continuously queryable while the fact stream lands: the "live
    * distinct users per segment" dashboard never scans facts.
    */
  def maintainStream(path: String, stream: DataFrame, checkpoint: String,
                     keys: Seq[String], valueCol: String, distinctCol: String,
                     lgK: Int = 12, hist: Option[HistSpec] = None,
                     kllK: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        if (!batch.isEmpty)
          maintain(batch.sparkSession, path, batch, keys, valueCol,
            distinctCol, lgK, hist, kllK)
      }
      .start()

  /** Readable view of a summary: estimates materialized from the
    * sketches (plus exact algebraic measures and the derived mean).
    */
  def report(summary: DataFrame): DataFrame = {
    val hasKll = summary.columns.contains("value_kll")
    val qs = Seq(0.5, 0.9, 0.99)
    // ONE multi-quantile read per row (decode + weighted sort once), then
    // element_at unpacking in a SECOND projection: the aliased non-cheap
    // array survives CollapseProject, so the sketch is not re-decoded per
    // quantile column (the lambda-CSE rule)
    val kllArr =
      if (hasKll) Seq(graft.functions.KllF.quantiles(summary.sparkSession,
        col("value_kll"), qs).as("__kll_qs"))
      else Nil
    val staged = summary.select(
      summary.columns.filterNot(c => c == "distinct_hll" || c == "value_kll")
        .map(col) ++
        (hll_sketch_estimate(col("distinct_hll")).as("n_distinct") +: kllArr): _*)
    val unpacked =
      if (hasKll) qs.zipWithIndex.foldLeft(staged) { case (df, (q, i)) =>
        df.withColumn(s"p${(q * 100).toInt}_v", element_at(col("__kll_qs"), i + 1))
      }.drop("__kll_qs")
      else staged
    unpacked.withColumn("mean_v", col("sum_v") / col("n_rows"))
  }

  /** Quantile read off a summary histogram: the value at the lower edge
    * of the bin where the cumulative count crosses `q * total` — exact
    * to one bin width by construction (under/overflow slots clamp to
    * the declared range). Runs on collected summary rows (key-bounded
    * by contract, like every summary read).
    */
  def histQuantile(hist: Seq[Long], spec: HistSpec, q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1]: $q")
    val total = hist.sum
    if (total == 0L) return Double.NaN
    val target = math.max(1L, math.ceil(q * total).toLong)
    val width = (spec.hi - spec.lo) / spec.bins
    var cum = 0L
    var i = 0
    while (i < hist.length) {
      cum += hist(i)
      if (cum >= target) {
        // bin 0 = underflow, bin i in [1, bins] covers
        // [lo + (i-1)*width, lo + i*width), bin bins+1 = overflow
        return if (i == 0) spec.lo
        else if (i > spec.bins) spec.hi
        else spec.lo + (i - 1) * width
      }
      i += 1
    }
    spec.hi
  }
}
