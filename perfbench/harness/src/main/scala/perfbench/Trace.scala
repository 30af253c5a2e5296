package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds from one monotonic origin, so harness spans and
  * the listener's millisecond timestamps share a time line. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** One timed interval. `kind` is the layer: pass, op, build, exec,
  * glue (harness spans), job, stage (listener spans). */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Long, end: Long) {
  def sec: Double = (end - start) / 1e9
}

/** Harness-side spans around every call into the library. Spans are
  * always kept (they are the timings); with `traced` the current span
  * id also rides on the Spark jobs as a local property, so the
  * listener can hang jobs and stages from the span that caused them. */
final class Tracer(sc: SparkContext) {
  @volatile var traced = false
  private var next = 0L
  private var stack: List[String] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](kind: String, name: String)(body: => T): (T, Span) = {
    next += 1
    val id = s"b$next"
    val parent = stack.headOption.getOrElse("")
    stack = id :: stack
    if (traced) sc.setLocalProperty(Tracer.Key, id)
    val t0 = Clock.now()
    var s: Span = null
    try {
      val r = body
      s = Span(id, parent, kind, name, t0, Clock.now())
      (r, s)
    } finally {
      if (s == null) s = Span(id, parent, kind, name + "!failed", t0, Clock.now())
      spans += s
      stack = stack.tail
      if (traced) sc.setLocalProperty(Tracer.Key, stack.headOption.orNull)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer { val Key = "perfbench.span" }

/** Per-stage task totals, filled from task-end events. */
final class StageRec(val id: String, val span: String, val job: String,
    val submittedMs: Long) {
  var completedMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runS, cpuS, waitS, inMb, outMb, outRows, shReadMb, shWriteMb, spillMb = 0.0
  var failures = 0
}

final class JobRec(val id: String, val span: String, val startMs: Long) {
  var endMs = 0L
}

/** Spark-side half of the traced run: jobs, stages and task metrics,
  * each tagged with the harness span that was current when the job
  * was submitted. Events arrive on the listener-bus thread. */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(s"j${e.jobId}", spanOf(e.properties), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(
      s"s${i.stageId}.${i.attemptNumber()}", spanOf(e.properties),
      stageJob.get(i.stageId).map(j => s"j$j").getOrElse(""),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(
      _.completedMs = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      s.taskMs += info.duration
      s.waitS += math.max(0L, info.launchTime - s.submittedMs) / 1e3
      if (!info.successful) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.inMb += m.inputMetrics.bytesRead / 1e6
        s.outMb += m.outputMetrics.bytesWritten / 1e6
        s.outRows += m.outputMetrics.recordsWritten
        s.shReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
        s.shWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
        s.spillMb += m.diskBytesSpilled / 1e6
      }
    }
  }
}

final case class PlanRec(atNs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Catalyst phase times of every executed QueryExecution. The
  * callback runs after the fact on the listener bus, so each record is
  * placed on the time line by its first phase start. */
final class PlanListener extends QueryExecutionListener {
  val recs = mutable.ArrayBuffer.empty[PlanRec]

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) Clock.now() - durationNs
      else Clock.ofMs(ph.values.map(_.startTimeMs).min)
    recs += PlanRec(at, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe, d)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L)
}

/** Attaches and detaches both listeners, and turns their records plus
  * the harness spans into per-layer figures for a chosen scope. */
final class Tracing(spark: SparkSession, tracer: Tracer) {
  val exec = new ExecListener
  val plan = new PlanListener

  def start(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    tracer.traced = true
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    tracer.traced = false
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
  }

  /** Every span of the run: harness spans, then jobs and stages. */
  def spans(): Seq[Span] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    exec.synchronized {
      val js = exec.jobs.values.toSeq.map(j =>
        Span(j.id, j.span, "job", j.id, Clock.ofMs(j.startMs),
          Clock.ofMs(math.max(j.endMs, j.startMs))))
      val ss = exec.stages.values.toSeq.map(s =>
        Span(s.id, if (s.job.nonEmpty) s.job else s.span, "stage", s.id,
          Clock.ofMs(s.submittedMs),
          Clock.ofMs(math.max(s.completedMs, s.submittedMs))))
      tracer.all ++ js ++ ss
    }
  }
}

object Layers {
  /** Self time per layer kind: each span's duration minus the union
    * of its children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span], within: Span => Boolean): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(within).groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curE) {
            if (curE > curS) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Ids of `roots` and every span below them. */
  def subtree(spans: Seq[Span], roots: Set[String]): Set[String] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Set.empty[String]
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(id => kids.getOrElse(id, Nil).map(_.id))
        .filterNot(out.contains)
    }
    out.toSet
  }
}
