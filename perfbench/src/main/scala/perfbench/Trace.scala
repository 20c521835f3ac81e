package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanoTime resolution, so harness spans and
  * listener timestamps (epoch ms) share one time axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the enclosing span's id (-1 at the
  * root); `op` is the operation id shared by every span of one op. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

final case class JobRec(jobId: Int, startMs: Double, prop: Option[Int],
    stages: Seq[Int], var endMs: Double = Double.NaN)

final class StageAgg {
  var attempts, tasks = 0L
  var cpuNs, shuffleWrite, shuffleRead, input, spill = 0L
}

/** One executed query as the QueryExecutionListener saw it: Catalyst
  * phase intervals plus counts read from the executed (AQE-final) plan. */
final case class ExecRec(phases: Seq[(String, Double, Double)],
    exchanges: Int, reused: Int, broadcasts: Int, smjAnti: Int,
    bhjAnti: Int, targetScanBytes: Long)

/** Records Spark jobs, stages, tasks and executed queries in memory.
  * Registered only for traced passes. */
final class Tracer(targetMarker: String) extends SparkListener
    with QueryExecutionListener {

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageAgg]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.OpProperty))).map(_.toInt)
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, prop, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).attempts += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.input += m.inputMetrics.bytesRead
      a.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, s) =>
      (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
    val nodes = synchronized(this.nodes(qe.executedPlan))
    val rec = ExecRec(phases,
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      reused = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      smjAnti = nodes.count {
        case j: SortMergeJoinExec => j.joinType == LeftAnti
        case _ => false
      },
      bhjAnti = nodes.count {
        case j: BroadcastHashJoinExec => j.joinType == LeftAnti
        case _ => false
      },
      targetScanBytes = nodes.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(targetMarker)) =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum)
    synchronized { execs += rec }
  }

  /** Every node of an executed plan, looking through AQE wrappers, query
    * stages, command wrappers and subqueries, and into a cached relation's
    * plan the first time a query reads it (the query that fills the cache
    * runs that plan; later readers only scan the cached blocks). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec =>
      val cached = m.relation.cachedPlan
      m +: (if (seenCached.add(cached)) nodes(cached) else Nil)
    case other =>
      val inner = other.innerChildren.collect { case s: SparkPlan => s }
      other +: (other.children ++ inner ++ other.subqueries).flatMap(nodes)
  }
}

object Tracer {
  /** Local property carrying the operation id into every job it submits. */
  val OpProperty = "perfbench.op"
}

/** Interval arithmetic for layer self times. */
object Intervals {
  type I = (Double, Double)

  def union(xs: Seq[I]): Seq[I] = {
    val out = mutable.ArrayBuffer.empty[I]
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Seq[I]): Double = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Seq[I], lo: Double, hi: Double): Seq[I] =
    xs.map(x => (math.max(x._1, lo), math.min(x._2, hi))).filter(x => x._2 > x._1)

  /** Parts of `xs` that fall inside any interval of `within`. */
  def intersect(xs: Seq[I], within: Seq[I]): Seq[I] =
    union(within).flatMap(w => clip(xs, w._1, w._2))
}
