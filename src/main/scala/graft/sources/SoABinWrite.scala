package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DSv2 WRITE path for the SoA snapshot format (S8 as a first-class sink):
  *
  * {{{ df.write.format("graft.sources.SoABinSource").option("path", dir).append() }}}
  *
  * The write DECLARES its layout needs via `RequiresDistributionAndOrdering`
  * — cluster by `step`, sort by (step, particle_id) — so Spark plans the
  * shuffle/sort; each task then streams its sorted rows, rolling one
  * `MLSOut%06d.bin` per step (write-temp + rename-on-commit, so failed or
  * speculative tasks never publish partial snapshots). Buffering is
  * bounded by one snapshot's particles — the engine's own working set.
  *
  * Input schema must be the snapshot schema
  * (step, particle_id, ux, uy, uz, flag).
  */
private[sources] class SoABinWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder {

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity("step")))
    override def requiredOrdering(): Array[SortOrder] = Array(
      Expressions.sort(Expressions.column("step"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("particle_id"), SortDirection.ASCENDING))
    override def toBatch: BatchWrite = new SoABinBatchWrite(dir, info.schema())
  }
}

private[sources] class SoABinBatchWrite(dir: String, schema: StructType)
    extends BatchWrite {
  private val conf = new SerializableConfiguration(new Configuration())

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    SoABinWriterFactory(dir, schema.fieldNames.toIndexedSeq, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    messages.foreach {
      case SoABinCommit(files) => files.foreach { case (tmp, fin) =>
        val dst = new Path(fin)
        if (fs.exists(dst)) fs.delete(dst, false)
        // checked: a false return throws, and Spark's abort then drops
        // the task's tmp files instead of leaving them behind
        graft.ops.StagedSwap.rename(fs, new Path(tmp), dst)
      }
      case _ =>
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    messages.foreach {
      case SoABinCommit(files) =>
        files.foreach { case (tmp, _) => fs.delete(new Path(tmp), false) }
      case _ =>
    }
  }
}

private[sources] final case class SoABinCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

private[sources] final case class SoABinWriterFactory(
    dir: String, fields: Seq[String], conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SoABinDataWriter(dir, fields, conf.value, taskId)
}

/** Streams (step, particle)-sorted rows, rolling one snapshot file per
  * step. Column indexes resolved from the input schema by name.
  */
private[sources] class SoABinDataWriter(dir: String, fields: Seq[String],
    conf: Configuration, taskId: Long) extends DataWriter[InternalRow] {

  private val iStep = fields.indexOf("step")
  private val iUx = fields.indexOf("ux")
  private val iUy = fields.indexOf("uy")
  private val iUz = fields.indexOf("uz")
  private val iFlag = fields.indexOf("flag")
  require(Seq(iStep, iUx, iUy, iUz, iFlag).forall(_ >= 0),
    s"snapshot write needs (step, particle_id, ux, uy, uz, flag); got $fields")

  private val fs = new Path(dir).getFileSystem(conf)
  private var curStep: Long = Long.MinValue
  private val ux = new scala.collection.mutable.ArrayBuffer[Float]()
  private val uy = new scala.collection.mutable.ArrayBuffer[Float]()
  private val uz = new scala.collection.mutable.ArrayBuffer[Float]()
  private val fl = new scala.collection.mutable.ArrayBuffer[Float]()
  private val written = Seq.newBuilder[(String, String)]

  override def write(row: InternalRow): Unit = {
    val s = row.getLong(iStep)
    if (s != curStep) {
      flush()
      curStep = s
    }
    ux += row.getFloat(iUx); uy += row.getFloat(iUy)
    uz += row.getFloat(iUz); fl += row.getFloat(iFlag)
  }

  private def flush(): Unit = {
    if (ux.nonEmpty) {
      val n = ux.length
      val buf = ByteBuffer.allocate(4 + 4 * 4 * n).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(0, n)
      var i = 0
      while (i < n) {
        buf.putFloat(4 + 4 * i, ux(i))
        buf.putFloat(4 + 4 * (n + i), uy(i))
        buf.putFloat(4 + 4 * (2 * n + i), uz(i))
        buf.putFloat(4 + 4 * (3 * n + i), fl(i))
        i += 1
      }
      val fin = new Path(dir, f"MLSOut$curStep%06d.bin").toString
      val tmp = new Path(dir, s".tmp-$taskId-${UUID.randomUUID()}-$curStep.bin").toString
      graft.ops.FsUtil.writeBytes(fs, new Path(tmp), buf.array())
      written += (tmp -> fin)
      ux.clear(); uy.clear(); uz.clear(); fl.clear()
    }
  }

  override def commit(): WriterCommitMessage = { flush(); SoABinCommit(written.result()) }
  override def abort(): Unit = {
    val fs2 = new Path(dir).getFileSystem(conf)
    written.result().foreach { case (tmp, _) => fs2.delete(new Path(tmp), false) }
  }
  override def close(): Unit = ()
}
