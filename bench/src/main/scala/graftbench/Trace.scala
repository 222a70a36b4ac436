package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-call spans recorded from outside the program.
  *
  * Untraced (`on = false`), [[call]] only runs its body: no listener, no
  * job tags. Traced, each call adds a job tag of its own on the client
  * thread and a SparkListener collects every job's interval, tags and
  * description and every task's metrics. A job carrying no live span tag
  * is attributed by its submission time to the span open at that moment:
  * the program runs some writes on pooled threads, which never see the
  * client thread's tags (or see a stale copy of them). One client runs one
  * span at a time, so the time attribution is unambiguous.
  */
final class Trace(sc: SparkContext, val on: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, TaskSum]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty[String])
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
      jobs(e.jobId) = JobRec(e.time, e.time, tags, desc.isEmpty)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = stageTasks.getOrElseUpdate(e.stageId, new TaskSum)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  private var seq = 0

  /** Run `body` as one call of layer call `name` (e.g. `queries.run`). */
  def call[T](name: String)(body: => T): T =
    if (!on) body
    else {
      seq += 1
      val tag = s"graftbench-$seq"
      sc.addJobTag(tag)
      val s = Span(name, tag, System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        s.wallS = (System.nanoTime() - s.t0) / 1e9
        s.endMs = System.currentTimeMillis()
        sc.removeJobTag(tag)
        spans.synchronized(spans += s)
      }
    }

  /** Forget the calls made so far (the warm-up's), except `keep`'s. */
  def discard(keep: String): Unit = spans.synchronized(spans.filterInPlace(_.name == keep))

  /** Every span of this run in call order, with its own counters. */
  def spanStats(): Seq[(Span, CallSum)] = {
    if (on) org.apache.spark.sql.graftbridge.Bridge.awaitListenerBusEmpty(sc)
    val done = spans.synchronized(spans.toVector)
    val byTag = done.map(s => s.tag -> s).toMap
    val stats = done.map(s => s -> new CallSum).toMap
    synchronized {
      val jobSpan = jobs.flatMap { case (id, j) =>
        j.tags.collectFirst { case t if byTag.contains(t) &&
            byTag(t).startMs <= j.startMs && j.startMs <= byTag(t).endMs => byTag(t) }
          .orElse(done.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs))
          .map(id -> _)
      }
      jobSpan.foreach { case (id, s) =>
        val c = stats(s)
        c.jobs += 1
        if (jobs(id).unlabeled) c.unlabeledJobs += 1
      }
      stageTasks.foreach { case (stage, t) =>
        for (id <- stageJob.get(stage); s <- jobSpan.get(id)) {
          val c = stats(s)
          c.tasks += t.tasks; c.taskCpuS += t.cpuNs / 1e9; c.gcS += t.gcMs / 1e3
          c.shuffleWrite += t.shuffleWrite; c.spill += t.spill; c.input += t.input
        }
      }
      // driver time: the part of each span no job interval covers
      done.foreach { s =>
        val iv = jobSpan.collect { case (id, sp) if sp eq s =>
          (math.max(jobs(id).startMs, s.startMs), math.min(jobs(id).endMs, s.endMs)) }
        val c = stats(s)
        c.calls = 1; c.wallS = s.wallS
        c.driverS = math.max(0.0, s.wallS - union(iv.toSeq) / 1e3)
      }
    }
    done.map(s => s -> stats(s))
  }
}

object Trace {
  final case class Span(name: String, tag: String, startMs: Long, t0: Long) {
    var endMs: Long = startMs
    var wallS: Double = 0.0
  }
  final case class JobRec(startMs: Long, var endMs: Long, tags: Set[String],
                          unlabeled: Boolean)
  final class TaskSum {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var input = 0L
  }
  final class CallSum {
    var calls = 0L; var wallS = 0.0; var jobs = 0L; var tasks = 0L
    var driverS = 0.0; var taskCpuS = 0.0; var gcS = 0.0
    var shuffleWrite = 0L; var spill = 0L; var input = 0L; var unlabeledJobs = 0L
    def add(o: CallSum): Unit = {
      calls += o.calls; wallS += o.wallS; jobs += o.jobs; tasks += o.tasks
      driverS += o.driverS; taskCpuS += o.taskCpuS; gcS += o.gcS
      shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
      unlabeledJobs += o.unlabeledJobs
    }
    private def per(x: Double) = if (calls == 0) 0.0 else x / calls
    /** The eight per-call counters, as means over this run's calls. */
    def counters: Seq[(String, Double, String)] = Seq(
      ("wall_s", per(wallS), "s"), ("jobs", per(jobs.toDouble), "count"),
      ("tasks", per(tasks.toDouble), "count"), ("driver_s", per(driverS), "s"),
      ("task_cpu_s", per(taskCpuS), "s"), ("gc_s", per(gcS), "s"),
      ("shuffle_write_bytes", per(shuffleWrite.toDouble), "bytes"),
      ("spill_bytes", per(spill.toDouble), "bytes"))
    def inputPerCall: Double = per(input.toDouble)
    def unlabeledPerCall: Double = per(unlabeledJobs.toDouble)
  }

  /** Per-call means of the eight counters for every name in `names`,
    * plus the call-level input bytes and unlabeled-job counts, from a
    * run's [[Trace.spanStats]]. Calls a workload never makes report 0.
    */
  def summary(stats: Seq[(Span, CallSum)], names: Seq[String]): Map[String, CallSum] = {
    val sums = names.map(n => n -> new CallSum).toMap
    stats.foreach { case (s, st) => sums.get(s.name).foreach(_.add(st)) }
    sums
  }

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }
}
