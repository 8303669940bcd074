package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Spark work attributed to one span: what the scheduler and the executors
  * did for the jobs launched while the span's job group was set.
  */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write_b" -> shuffleWriteBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_b" -> spillBytes)
}

/** Counts scheduler and task events per job group. Job groups are the span
  * ids the [[Tracer]] sets, so every job, stage and task lands on the span
  * that caused it. Events are read on the listener bus thread; the tracer
  * reads the totals only after draining the bus at the end of the run.
  */
final class SpanListener extends SparkListener {
  val bySpan = new java.util.concurrent.ConcurrentHashMap[String, SparkCounts]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def counts(group: String): SparkCounts =
    bySpan.computeIfAbsent(group, _ => new SparkCounts)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach(g => counts(g).jobs += 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g =>
      stageSpan.put(e.stageInfo.stageId, g)
      counts(g).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counts(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
    }
  }
}

/** One timed interval around a call into an engine layer. `op` is the id
  * of the operation it belongs to (spans of one operation share it);
  * `marks` holds named phase boundaries inside the span (build/plan end).
  */
final case class Span(id: Long, op: Long, parent: Long, name: String, start: Long) {
  var end: Long = 0L
  val marks: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
}

/** In-memory span recorder. When disabled every call is a plain pass-through
  * (no job groups, no timestamps kept), so the untraced run measures the
  * program alone. Spans are single-threaded: the benchmark has one client.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String, op: Long, on: Boolean = true)(body: Span => T): T =
    if (!enabled || !on) body(null)
    else {
      nextId += 1
      val s = Span(nextId, op, stack.headOption.map(_.id).getOrElse(0L), name, System.nanoTime())
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body(s)
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        done += s
      }
    }

  /** Every recorded span with the Spark counts attributed to it. Drains the
    * listener bus first, so no event of a finished job is still queued.
    */
  def export(): Seq[Map[String, Any]] = {
    listener.foreach(_ => org.apache.spark.graftbench.Bus.drain(sc))
    done.sortBy(_.id).map { s =>
      val counts = listener.flatMap(l => Option(l.bySpan.get(Tracer.GroupPrefix + s.id)))
        .getOrElse(new SparkCounts)
      Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "marks" -> s.marks.toMap, "spark" -> counts.toMap)
    }.toSeq
  }
}

object Tracer {
  val GroupPrefix = "graftbench-span-"

  /** Shuffle exchanges in a plan — for an adaptive plan that has run, the
    * final plan's exchanges (each materialized query stage counts once;
    * a reused exchange does not count again), including those in the plans
    * of the cached frames it reads (each frame once), so a plan change
    * shows whether the frame was built in this operation or served from
    * the cache.
    */
  def exchanges(plan: SparkPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec        => count(q.plan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cachedPlan)) count(m.relation.cachedPlan) else 0
      case _: ReusedExchangeExec    => 0
      case e: ShuffleExchangeLike   => 1 + e.children.map(count).sum
      case other => other.children.map(count).sum + other.subqueries.map(count).sum
    }
    count(plan)
  }
}
