package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one span, summed over its calls. Written only by the
  * listener-bus thread; read once the bus is drained. */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var filesWritten = 0L; var bytesWritten = 0L
  /** Rows entering the per-query top-k (the scored candidates), read
    * from the SQL metrics of the executed plan. */
  var topkInputRows = 0L
}

/** One closed span: name, parent span id (-1 at top level), wall clock. */
final case class SpanRec(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Totals for every span of one name. */
final case class SpanTotals(calls: Int, wallS: Double, selfS: Double, work: SparkWork)

/** Listener-based span recorder. [[span]] tags every Spark job started
  * inside it (on the calling thread) with the span's id through a local
  * property; a [[SparkListener]] attributes jobs, stages and task
  * metrics to spans by that tag, and a [[QueryExecutionListener]] reads
  * operator metrics of each finished query plan, attributed through the
  * SQL execution id its jobs carried. Jobs started on threads that did
  * not inherit the property land in the `unattributed` bucket.
  *
  * Spans are kept in memory; the caller writes them out at the end. When
  * disabled, [[span]] only runs its body and no listener is registered;
  * [[totals]] ends recording. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val closed = mutable.ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil
  private var nextId = 0

  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val plans = new ConcurrentHashMap[Long, PlanWork]()
  @volatile private var pending: Option[PlanWork] = None

  private def workOf(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(Unattributed)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      workOf(s).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .foreach(id => execSpan.put(id.toLong, s))
    }
    // The session's execution-listener bus shares this listener's queue
    // and was registered first, so for one execution-end event it calls
    // Queries.onSuccess just before this runs, on the same thread.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        pending.foreach(plans.put(end.executionId, _))
        pending = None
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      workOf(spanOf(e.properties)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, Unattributed))
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending = Some(planWork(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)

    /** The first node at or below `p` that counts its output rows. */
    private def rowsOut(p: SparkPlan): Long = p match {
      case q: QueryStageExec => rowsOut(q.plan)
      case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
      case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
      case _ => p.children.headOption.map(rowsOut).getOrElse(0L)
    }

    private def isTopK(p: SparkPlan): Boolean = {
      val n = p.nodeName
      (n.contains("Aggregate") && p.toString.toLowerCase.contains("topkaggregator")) ||
        n == "WindowGroupLimit" || n == "Window"
    }

    def planWork(plan: SparkPlan): PlanWork = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      // the lowest top-k operator of each chain (partial aggregate or
      // partial window limit) sees every scored candidate
      val topkRows = nodes.filter(isTopK)
        .filterNot(p => p.children.exists(c => collect(c) { case q if isTopK(q) => q }.nonEmpty))
        .map(p => p.children.headOption.map(rowsOut).getOrElse(0L)).sum
      PlanWork(topkRows,
        nodes.map(metric(_, "numFiles")).sum,
        nodes.map(metric(_, "numOutputBytes")).sum)
    }
  }

  private var active = false
  def isActive: Boolean = active

  /** Register (true) or remove (false) the listeners; spans record only
    * while active. A traced run toggles this between timed batches so
    * that it can measure its own overhead. */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    if (on) {
      spark.listenerManager.register(Queries)
      sc.addSparkListener(Jobs)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(Jobs)
      spark.listenerManager.unregister(Queries)
    }
    active = on
  }
  setActive(true)

  /** Run `f` as a span named `name`, nested under the open span. */
  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        closed += SpanRec(id, name, parent, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  def spans: Seq[SpanRec] = closed.toSeq

  /** Per span name: calls, wall, self time (wall minus the wall of its
    * direct children; spans of one thread never overlap) and Spark work. */
  def totals(): Map[String, SpanTotals] = {
    setActive(false)
    plans.asScala.foreach { case (exec, pw) =>
      val w = workOf(execSpan.getOrDefault(exec, Unattributed))
      w.topkInputRows += pw.topkInputRows
      w.filesWritten += pw.filesWritten
      w.bytesWritten += pw.bytesWritten
    }
    plans.clear()
    val childWall = closed.groupBy(_.parent).view.mapValues(_.map(_.wallS).sum).toMap
    val byName = closed.groupBy(_.name).map { case (name, recs) =>
      val w = new SparkWork
      recs.foreach { r => Option(work.get(r.id)).foreach(add(w, _)) }
      name -> SpanTotals(recs.size, recs.map(_.wallS).sum,
        recs.map(r => r.wallS - childWall.getOrElse(r.id, 0.0)).sum, w)
    }
    val un = Option(work.get(Unattributed)).map(w => SpanTotals(0, 0, 0, w))
    byName ++ un.map(UnattributedName -> _)
  }

  private def add(into: SparkWork, w: SparkWork): Unit = {
    into.jobs += w.jobs; into.stages += w.stages; into.tasks += w.tasks
    into.cpuNs += w.cpuNs; into.gcMs += w.gcMs
    into.shuffleBytes += w.shuffleBytes; into.spillBytes += w.spillBytes
    into.filesWritten += w.filesWritten; into.bytesWritten += w.bytesWritten
    into.topkInputRows += w.topkInputRows
  }

}

final case class PlanWork(topkInputRows: Long, filesWritten: Long, bytesWritten: Long)

object Tracer {
  val Key = "perfbench.span"
  val ExecutionIdKey = "spark.sql.execution.id"
  val Unattributed: Int = -2
  val UnattributedName = "unattributed"
}
