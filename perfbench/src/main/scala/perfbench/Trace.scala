package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. Times are epoch microseconds. `op` is the
  * benchmark op the span belongs to (-1 outside ops); `parent` is the
  * span that caused it (-1 for an op). */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durS: Double = (endUs - startUs) / 1e6
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
}

/** In-memory span recorder for the traced run.
  *
  * The benchmark opens `op` spans and, inside them, spans around its
  * calls into the engine (query builders, TxTable calls, matmul
  * formulations). A SparkListener adds a span per job and per stage, the
  * stage carrying its tasks' metrics, and a QueryExecutionListener adds
  * one `plan` span per executed query with its Catalyst phase times and
  * the rows entering its aggregates. The innermost open benchmark span is
  * published as a Spark local property, so jobs (also those started from
  * helper threads, which inherit it) name their parent.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private val stack = mutable.Stack[(Long, Long)]() // (span id, op id)
  private val jobSpan = mutable.Map[Int, (Long, Long, Long, Long, String)]() // job -> (span, parent, op, startUs, desc)
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[(Int, Int), StageAcc]()

  private final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L; var input = 0L
    val runs = mutable.ArrayBuffer[Long]()
  }

  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  private var session: SparkSession = _

  /** Registers on the context and on `s`; call again for every
    * session the run creates (query listeners are per session). */
  def attach(s: SparkSession): Unit = {
    if (session == null) s.sparkContext.addSparkListener(this)
    session = s
    s.listenerManager.register(this)
  }

  private def publish(): Unit =
    session.sparkContext.setLocalProperty(Tracer.SpanProp,
      stack.headOption.map(t => s"${t._1}:${t._2}").orNull)

  /** Runs `body` inside a span; `kind == "op"` starts a new op. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = newId()
    val (parent, op) = stack.headOption match {
      case Some((p, o)) => (p, o)
      case None => (-1L, if (kind == "op") id else -1L)
    }
    stack.push((id, op))
    publish()
    val t0 = Clock.nowUs()
    try body
    finally {
      add(Span(id, parent, op, kind, name, t0, Clock.nowUs()))
      stack.pop()
      publish()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val (parent, op) = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map { v => val Array(a, b) = v.split(":"); (a.toLong, b.toLong) }
      .getOrElse((-1L, -1L))
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobSpan(e.jobId) = (newId(), parent, op, e.time * 1000L, desc)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, op, start, desc) =>
      add(Span(id, parent, op, "job", desc, start, e.time * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.runs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val acc = stageTasks.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
    val (parent, op) = stageJob.get(info.stageId).flatMap(jobSpan.get)
      .map(j => (j._1, j._3)).getOrElse((-1L, -1L))
    val runs = acc.runs.sorted
    val skew = if (runs.size >= 2 && runs(runs.size / 2) > 0) runs.last.toDouble / runs(runs.size / 2) else 0.0
    add(Span(newId(), parent, op, "stage", info.name,
      info.submissionTime.getOrElse(0L) * 1000L, info.completionTime.getOrElse(0L) * 1000L,
      Map("tasks" -> acc.tasks.toDouble, "task_s" -> acc.runMs / 1e3, "cpu_s" -> acc.cpuNs / 1e9,
        "gc_s" -> acc.gcMs / 1e3, "shuffle_write" -> acc.shWrite.toDouble,
        "shuffle_read" -> acc.shRead.toDouble, "spill" -> acc.spill.toDouble,
        "input" -> acc.input.toDouble, "skew" -> skew)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      add(Span(newId(), -1L, -1L, "plan", funcName,
        phases.map(_.startTimeMs).min * 1000L, phases.map(_.endTimeMs).max * 1000L,
        Map("plan_s" -> phases.map(_.durationMs).sum / 1e3,
          "agg_rows_in" -> Tracer.maxAggInput(qe.executedPlan).toDouble)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanProp = "perfbench.span"

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => nodes(w.child)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Rows entering the plan's largest aggregate: the `numOutputRows` of
    * the nearest node below each aggregate that counts its rows. */
  def maxAggInput(plan: SparkPlan): Long = {
    def rowsOut(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(p match {
        case a: org.apache.spark.sql.execution.adaptive.QueryStageExec => rowsOut(a.plan)
        case _ => p.children match {
          case Seq(c) => rowsOut(c)
          case _ => None
        }
      })
    nodes(plan).filter(_.getClass.getSimpleName.contains("Aggregate"))
      .flatMap(_.children.headOption).flatMap(rowsOut).maxOption.getOrElse(0L)
  }
}

/** Epoch-microsecond clock with nanoTime resolution. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}
