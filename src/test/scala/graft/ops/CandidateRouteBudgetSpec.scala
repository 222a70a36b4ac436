package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Job budgets of the two candidate routes ([[Dedup.symmetricCandidates]]
  * behind [[Dedup.bandIndexProbe]], [[Dedup.multiProbeCandidates]] behind
  * [[Similarity.embIndexIngest]]) on a fixed small index, exact and
  * capped. Job counts are deterministic, so these pins guard "the exact
  * route gains no job" (no occupancy aggregation, no checkpoint of its
  * empty overflow) independently of the machine's speed. The counts are
  * the ones the per-route entry points produced before the routes were
  * merged behind one `maxBucket` choice.
  */
class CandidateRouteBudgetSpec extends SparkTestBase {

  // 12 copies of one spam text (one saturated band under cap 4) plus 12
  // near-identical templated docs; even ids are indexed, odd ids arrive
  private def textDocs = {
    import spark.implicits._
    val spam = "limited offer click here to claim your exclusive reward now"
    ((0L until 12L).map(i => (i, spam)) ++
      (12L until 24L).map(i =>
        (i, s"plain words about topic $i and nothing more here")))
      .toDF("doc_id", "text")
  }

  // 12 identical vectors (one saturated home bucket) plus 12 spread ones
  private def vecs = {
    import spark.implicits._
    val same = Array.tabulate(16)(i => if (i % 2 == 0) 0.3f else -0.1f)
    ((0L until 12L).map(i => (i, same)) ++
      (12L until 24L).map(i => (i, Array.tabulate(16)(j =>
        math.sin(i * 1.7 + j * 0.9).toFloat))))
      .toDF("vec_id", "embedding")
  }

  private def tmpIndex(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  /** (jobs in the call, jobs + rows of collecting the pairs, jobs + rows
    * of collecting the overflow report).
    */
  private def measure(run: => Dedup.BoundedCandidates)
      : (Int, (Int, Int), (Int, Int)) = {
    val (b, call) = jobs(run)
    val (np, p) = jobs(b.pairs.collect().length)
    val (no, o) = jobs(b.overflow.collect().length)
    (call.size, (p.size, np), (o.size, no))
  }

  test("job budget: bandIndexProbe exact and capped") {
    def probe(cap: Int) = {
      val dir = tmpIndex("route_text")
      Dedup.BandIndex.append(dir, Dedup.ingestBands(
        textDocs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text"),
        16)
      val arrivals = textDocs.filter(pmod(col("doc_id"), lit(2)) === 1)
      measure(Dedup.bandIndexProbe(dir, arrivals, "doc_id", "text",
        maxBucket = cap)._1)
    }
    assert(probe(Int.MaxValue) === ((4, (3, 51), (1, 0))))
    assert(probe(4) === ((9, (14, 6), (1, 2))))
  }

  test("job budget: embIndexIngest exact and capped") {
    def ingest(cap: Int) = {
      val dir = tmpIndex("route_emb")
      Dedup.BandIndex.append(dir, Similarity.embBandTable(
        vecs.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", dim = 16), 16)
      val arrivals = vecs.filter(pmod(col("vec_id"), lit(2)) === 1)
      measure(Similarity.embIndexIngest(dir, arrivals, dim = 16,
        maxBucket = cap))
    }
    assert(ingest(Int.MaxValue) === ((5, (3, 66), (1, 0))))
    assert(ingest(4) === ((5, (14, 21), (18, 1))))
  }
}
