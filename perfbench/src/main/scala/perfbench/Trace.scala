package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds (fractional), the clock
  * Spark's own events use, so engine spans nest under benchmark spans. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double,
                      attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** Span recorder for the benchmark's Spark driver thread, plus the engine
  * collectors a traced run attaches: a SparkListener for jobs, stages and
  * task metrics, a QueryExecutionListener for the analysis, optimization
  * and planning phases, and the codegen compile-time counter.
  *
  * Spans nest workload → operation → phase (build / plan / exec) → Spark
  * job → Spark stage. Spans are kept in memory and written when the run
  * ends. Operation and phase spans are recorded on untraced runs too (they
  * are the benchmark's own timings); only `engineOn` attaches listeners and
  * drains the listener bus after each operation. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1L
  var engineOn = false
  private val engine = new EngineListener
  private val plans = new PlanListener

  /** Run `body` inside a new span; the span is recorded even if it throws. */
  def span[T](name: String, kind: String)(body: Span => T): T = {
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name, kind,
      now(), 0.0)
    nextId += 1
    stack = s :: stack
    val sc = spark.sparkContext
    val prevTag = sc.getLocalProperty(EngineListener.Tag)
    if (engineOn) sc.setLocalProperty(EngineListener.Tag, s.id.toString)
    val cg0 = if (engineOn && kind == "op") CodeGenerator.compileTime else 0L
    try body(s)
    finally {
      stack = stack.tail
      sc.setLocalProperty(EngineListener.Tag, prevTag)
      val done = s.copy(end = now())
      if (engineOn && kind == "op") {
        done.attrs("codegen_ms") = (CodeGenerator.compileTime - cg0) / 1e6
        collectEngine(done)
      }
      spans += done
    }
  }

  /** Attach or detach the engine collectors (traced passes only). */
  def setEngine(on: Boolean): Unit = if (on != engineOn) {
    if (on) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(plans)
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(plans)
      engine.reset(); plans.reset()
    }
    engineOn = on
  }

  /** Turn the engine events delivered during operation `op` into job,
    * stage and plan-phase spans under it. */
  private def collectEngine(op: Span): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val phases = spans.filter(p => p.parent == op.id && p.kind == "phase")
    def parentFor(start: Double): Long =
      phases.find(p => p.start <= start && start <= p.end).map(_.id)
        .getOrElse(op.id)
    for ((name, start, end) <- plans.drain()) {
      spans += Span(nextId, parentFor(start), name, "plan", start, end)
      nextId += 1
    }
    for (j <- engine.drainJobs()) {
      val jid = nextId; nextId += 1
      val parent = j.tag.filter(t => t == op.id || phases.exists(_.id == t))
        .getOrElse(parentFor(j.start))
      val js = Span(jid, parent, s"job ${j.jobId}", "job", j.start,
        if (j.end > 0) j.end else j.start)
      spans += js
      for (st <- j.stages) {
        val a = mutable.Map[String, Double](
          "tasks" -> st.tasks, "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs,
          "gc_ms" -> st.gcMs, "task_ms" -> st.taskMs,
          "shuffle_write_bytes" -> st.shuffleWrite,
          "shuffle_read_bytes" -> st.shuffleRead, "spill_bytes" -> st.spill,
          "input_bytes" -> st.inputBytes, "input_records" -> st.inputRecords,
          "output_bytes" -> st.outputBytes, "output_records" -> st.outputRecords)
        spans += Span(nextId, jid, s"stage ${st.stageId}", "stage",
          st.start, math.max(st.start, st.end), a)
        nextId += 1
      }
    }
  }
}

object EngineListener { val Tag = "perfbench.span" }

final class StageAgg(val stageId: Int) {
  var start, end = 0.0
  var tasks, runMs, cpuNs, gcMs, taskMs, shuffleWrite, shuffleRead, spill,
      inputBytes, inputRecords, outputBytes, outputRecords = 0.0
}

final class JobRec(val jobId: Int, val tag: Option[Long], val start: Double) {
  var end = 0.0
  val stages = mutable.ArrayBuffer.empty[StageAgg]
}

/** Jobs, stages and per-task metrics; a stage is attributed to the first
  * job that lists it. */
final class EngineListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[(Int, Int), StageAgg]

  def reset(): Unit = synchronized {
    jobs.clear(); stageOwner.clear(); stages.clear()
  }

  /** Finished jobs with their stages, removed from the listener. */
  def drainJobs(): Seq[JobRec] = synchronized {
    for (((sid, _), agg) <- stages; owner <- stageOwner.get(sid))
      owner.stages += agg
    val out = jobs.values.toSeq
    reset()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(EngineListener.Tag))).map(_.toLong)
    val j = new JobRec(e.jobId, tag, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        new StageAgg(i.stageId))
      a.start = i.submissionTime.getOrElse(0L).toDouble
      a.end = i.completionTime.getOrElse(0L).toDouble
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageAgg(e.stageId))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

/** Analysis, optimization and planning phase intervals of every executed
  * query, from the query's own planning tracker. */
final class PlanListener extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[(String, Double, Double)]
  def reset(): Unit = synchronized(buf.clear())
  def drain(): Seq[(String, Double, Double)] = synchronized {
    val out = buf.toSeq; buf.clear(); out
  }
  private def record(qe: QueryExecution): Unit = synchronized {
    for ((phase, p) <- qe.tracker.phases)
      buf += ((s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}
