package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.SparkContext

/** The flows' one job-label mechanism: a phase label is the Spark job
  * description of every job its body starts. Labels nest — each entry
  * puts back the description it found, on return and on a throw — so a
  * flow never overwrites its caller's label. Per-job profiles
  * (`graft.tools.KeyProfile`, the bench's traced spans) group jobs by it.
  */
object Phase {

  private val Description = "spark.job.description"

  /** The local properties a [[fork]]ed side takes from its caller. */
  private val Inherited = Seq(Description, "spark.job.tags")

  /** Run `body` with every job it starts on this thread described as
    * `name`; the caller's description is back in place afterwards.
    */
  def labeled[T](name: String)(body: => T): T =
    org.apache.spark.sql.graftbridge.Bridge.activeContext
      .fold(body)(labeledOn(_, name)(body))

  private def labeledOn[T](sc: SparkContext, name: String)(body: => T): T = {
    val caller = sc.getLocalProperty(Description)
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(caller)
  }

  /** Run `body` labeled `name` on a pool thread, under the description
    * and job tags the CALLER holds now. Left alone, a pool thread keeps
    * the local properties it inherited from whichever thread created it,
    * so its jobs would carry that thread's stale description and tags.
    * The pool thread's own properties are put back when `body` ends.
    */
  def fork[T](name: String)(body: => T): Future[T] = {
    val ctx = org.apache.spark.sql.graftbridge.Bridge.activeContext
    val caller = ctx.map(sc => Inherited.map(sc.getLocalProperty))
    Future(ctx.fold(body) { sc =>
      def install(values: Seq[String]): Unit =
        Inherited.zip(values).foreach { case (k, v) =>
          sc.setLocalProperty(k, v) }
      val own = Inherited.map(sc.getLocalProperty)
      install(caller.get)
      try labeledOn(sc, name)(body) finally install(own)
    })(ExecutionContext.global)
  }

  /** Run independent sides concurrently, each [[fork]]ed under its label;
    * rethrow the FIRST failure only after EVERY side has finished. An
    * early rethrow would let a foreachBatch retry replay the batch
    * against dirs an orphaned side is still mutating (the flow commits'
    * single-writer rule).
    */
  def all(sides: (String, () => Unit)*): Unit =
    sides.map { case (name, side) => fork(name)(side()) }
      .map(f => Try(Await.result(f, Duration.Inf)))
      .foreach(_.get)
}
