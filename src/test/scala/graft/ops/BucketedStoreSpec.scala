package graft.ops

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

/** The shared heal of [[BucketedStore]] on the stores other than the band
  * index (whose torn compact OpsSpec pins): a compact torn after its live
  * dir went aside, and the aside-only state, both heal on the next fetch
  * to the rows the store held before.
  */
class BucketedStoreSpec extends SparkTestBase {

  test("torn compact on the vector and keeper-meta stores: the next fetch promotes a complete tmp, and restores an aside left alone") {
    import spark.implicits._
    val vectors = (0L until 24L).map(i => (i, Seq(i.toFloat, 1f), i % 3))
      .toDF("vec_id", "embedding", "prio")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val meta = (0L until 24L)
      .map(i => (i, 10L + i, i % 3, s"dg$i", Seq(s"b$i", s"c$i")))
      .toDF("doc_id", "n_chars", "prio", "dg", "bands")
    for ((store, rows) <- Seq(VectorFlow.KeptVectors -> vectors,
        CurationFlow.KeeperMeta -> meta)) {
      val dir = java.nio.file.Files.createTempDirectory("torn").toString +
        "/" + store.bkt
      store.append(dir, rows.filter(col(store.key) % 2 === 0), 4)
      store.append(dir, rows.filter(col(store.key) % 2 === 1), 4)
      def fetched() = store.fetch(dir, rows.select(store.key), 4)
        .collect().toSet
      val want = fetched()
      assert(want.size === 24, s"${store.bkt}: fixture stored ${want.size} rows")
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (live, tmp, aside) =
        (new Path(dir), new Path(dir + ".tmp"), new Path(dir + ".aside"))
      // crash between rename(live->aside) and rename(tmp->live): the
      // complete copy and the aside both exist, the live dir is gone
      FileUtil.copy(fs, live, fs, tmp, false,
        spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(live, aside) && !fs.exists(live))
      assert(fetched() === want, s"${store.bkt}: promoted tmp lost rows")
      assert(!fs.exists(tmp) && !fs.exists(aside),
        s"${store.bkt}: heal left a stage dir behind")
      // the aside-only state: neither live dir nor tmp — the aside is the
      // only complete copy, and the heal restores it
      assert(fs.rename(live, aside) && !fs.exists(live) && !fs.exists(tmp))
      assert(fetched() === want, s"${store.bkt}: aside-only heal lost rows")
      assert(fs.exists(live) && !fs.exists(aside))
    }
  }
}
