package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) of an embedding corpus — the storage and
  * scan-bandwidth lever for vector search at 100 TB: float32 embeddings
  * become 1-byte-per-dimension codes (4× smaller raw, before parquet
  * encoding), and search runs against the reconstructed vectors with a
  * bounded, measured recall cost (QuantizeSpec; tools/QuantBench at 8a861d8).
  *
  * The fit is one map-combined aggregation ([[graft.functions.VecMinMaxAgg]]:
  * 2×dim floats per map partition through a single Exchange); encode and
  * decode are codegen'd per-row kernels ([[graft.functions.Sq8EncodeF]] /
  * [[graft.functions.Sq8DecodeF]]) — no UDF, no shuffle, so quantizing a
  * corpus is a pure narrow pass that parallelizes to any cluster size.
  * Params are dim-bounded (2×dim floats) and ride to executors as literals
  * inside the expression tree, exactly like IVF centroids.
  */
object Quantize {

  /** Per-dimension affine code parameters: `code = round((x - offset)/scale)`
    * in [0, 255]. `scale(i) == 0` marks a constant dimension (decode returns
    * `offset(i)` exactly).
    */
  final case class Sq8Params(offset: Array[Float], scale: Array[Float]) {
    def dim: Int = offset.length
  }

  /** Fit the quantizer: per-dimension [min, max] over the corpus → affine
    * params spanning the envelope with 256 levels. One aggregation, driver
    * result is 2×dim floats (dimension-bounded by construction).
    */
  def fitSq8(emb: DataFrame, embCol: String = "embedding"): Sq8Params = {
    val vecMinMax = udaf(graft.functions.VecMinMaxAgg)
    val mm = emb.select(vecMinMax(col(embCol)).as("mm"))
      .head().getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("mm")
    val mins = mm(0).toArray
    val maxs = mm(1).toArray
    val scale = new Array[Float](mins.length)
    var i = 0
    while (i < mins.length) {
      scale(i) = (maxs(i) - mins(i)) / 255f
      i += 1
    }
    Sq8Params(mins, scale)
  }

  private def registered(df: DataFrame): Unit =
    graft.functions.Sq8F.register(df.sparkSession)

  /** Column expression: encode `embCol` to byte codes under `params`. */
  def sq8Encode(df: DataFrame, embCol: Column, params: Sq8Params): Column = {
    registered(df)
    call_function("graft_sq8_encode", embCol,
      typedlit(params.offset), typedlit(params.scale))
  }

  /** Column expression: reconstruct an `array<float>` from byte codes. */
  def sq8Decode(df: DataFrame, codesCol: Column, params: Sq8Params): Column = {
    registered(df)
    call_function("graft_sq8_decode", codesCol,
      typedlit(params.offset), typedlit(params.scale))
  }

  /** The corpus with `embedding` replaced by its SQ8 `codes` column — the
    * frame you persist. All other columns pass through, so the quantized
    * table keeps its join keys / metadata.
    */
  def encodeCorpus(emb: DataFrame, params: Sq8Params,
                   embCol: String = "embedding"): DataFrame =
    emb.withColumn("codes", sq8Encode(emb, col(embCol), params))
      .drop(embCol)

  /** Brute-force top-k over a QUANTIZED corpus: the probe stays full
    * precision (asymmetric distance — standard SQ practice: only the
    * stored side pays the quantization error), the corpus side is
    * reconstructed inline by the codegen decode kernel feeding the codegen
    * dot kernel. Same plan shape as [[Similarity.cosineTopK]]: broadcast
    * 1-row probe, narrow scoring pass, TakeOrdered top-k — zero data
    * shuffle.
    */
  def topKQuantized(codes: DataFrame, probe: DataFrame, k: Int,
                    params: Sq8Params): DataFrame = {
    graft.functions.DotProductF.register(codes.sparkSession)
    val scored = codes.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(call_function("graft_dot_f",
          sq8Decode(codes, col("codes"), params), col("probe_emb")), 4)
          .as("cos_sim"))
    scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
  }
}
