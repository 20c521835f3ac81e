package perfbench

import scala.collection.mutable

/** Turns the harness spans and the tracer's job and query records of the
  * traced passes into per-operation layer self times and per-pass layer
  * metrics.
  *
  * Every job and Catalyst phase is attributed to one operation: a job by
  * the op-id local property it was submitted under (falling back to the
  * operation whose interval holds its start, for jobs submitted from pool
  * threads that inherited a stale property), a query by the end of its
  * last planning phase. Within an operation, each instant belongs to the
  * innermost layer covering it, in the order Spark job > Catalyst >
  * `Tables.load` > construction call > the operation itself (driver
  * time). The self times therefore partition the operation's interval by
  * construction; what can go wrong is attribution, which [[problems]]
  * checks: every job of a traced pass belongs to an operation, and
  * clipping to the operation's interval drops at most 5 % of the job and
  * Catalyst time.
  */
final class Layers(r: Runner, t: Tracer, tracedPasses: Seq[Int]) {
  import Intervals._

  private val constructs = Seq("queries.construct", "cohort.construct", "jobs.load")
  private val ops = r.ops.filter(o => tracedPasses.contains(o.pass)).toSeq

  private def within(o: OpRec, ms: Double) = ms >= o.startMs - 1 && ms <= o.endMs + 1
  private def owner(ms: Double) = ops.find(within(_, ms))

  private val jobOwner: Seq[(JobRec, Option[OpRec])] = t.jobs.values.toSeq.map { j =>
    j -> j.prop.flatMap(id => ops.find(o => o.id == id && within(o, j.startMs)))
      .orElse(owner(j.startMs))
  }

  private val jobsByOp: Map[Int, Seq[JobRec]] = jobOwner.collect { case (j, Some(o)) => o.id -> j }
    .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private val execsByOp: Map[Int, Seq[ExecRec]] = t.execs.toSeq.flatMap { e =>
    e.phases.map(_._3).maxOption.flatMap(owner).map(_.id -> e)
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Stage aggregates per op; a stage counts once, for the first op whose
    * jobs list it. */
  private val stagesByOp: Map[Int, Seq[StageAgg]] = {
    val seen = mutable.Set.empty[Int]
    ops.map(o => o.id -> jobsByOp.getOrElse(o.id, Nil).flatMap(_.stages)
      .filter(seen.add).flatMap(t.stages.get)).toMap
  }

  private def jobInterval(j: JobRec, o: OpRec): I =
    (j.startMs, if (j.endMs.isNaN) o.endMs else j.endMs)

  private def spansOf(o: OpRec, name: String): Seq[I] =
    r.spans.toSeq.filter(s => s.op == o.id && s.name == name).map(s => (s.startMs, s.endMs))

  private def opMetrics(o: OpRec): Map[String, Double] = {
    val (s, e) = (o.startMs, o.endMs)
    val jobs = jobsByOp.getOrElse(o.id, Nil)
    val execs = execsByOp.getOrElse(o.id, Nil)
    val jobI = clip(jobs.map(jobInterval(_, o)), s, e)
    val catI = clip(execs.flatMap(_.phases.map(p => (p._2, p._3))), s, e)
    val tabI = clip(spansOf(o, "Tables.load"), s, e)
    val conI = clip(constructs.flatMap(spansOf(o, _)), s, e)
    val exec = length(jobI)
    val withCat = length(jobI ++ catI)
    val withTab = length(jobI ++ catI ++ tabI)
    val all = length(jobI ++ catI ++ tabI ++ conI)
    val self = Map(
      "self.spark_job_s" -> exec / 1e3,
      "self.catalyst_s" -> (withCat - exec) / 1e3,
      "self.tables_s" -> (withTab - withCat) / 1e3,
      "self.construct_s" -> (all - withTab) / 1e3,
      "self.driver_s" -> ((e - s) - all) / 1e3)
    val perConstruct = constructs.flatMap { name =>
      val spans = spansOf(o, name)
      val inside = jobs.count(j => spans.exists(sp => j.startMs >= sp._1 && j.startMs <= sp._2))
      Seq(s"$name.s" -> spans.map(x => x._2 - x._1).sum / 1e3,
        s"$name.jobs" -> inside.toDouble,
        s"$name.gap_s" -> (length(spans) - length(intersect(jobI, spans))) / 1e3)
    }
    val stages = stagesByOp.getOrElse(o.id, Nil)
    val tables = spansOf(o, "Tables.load")
    self ++ perConstruct ++ Map(
      "wall_s" -> o.wallS,
      "Tables.load_s" -> tables.map(x => x._2 - x._1).sum / 1e3,
      "Tables.load_calls" -> tables.size.toDouble,
      "spark.catalyst_s" -> execs.flatMap(_.phases.map(p => p._3 - p._2)).sum / 1e3,
      "spark.exec_s" -> exec / 1e3,
      "spark.driver_gap_s" -> ((e - s) - exec) / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.map(_.attempts).sum.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.input).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "plans.exchanges" -> execs.map(_.exchanges).sum.toDouble,
      "plans.reused_exchanges" -> execs.map(_.reused).sum.toDouble,
      "plans.broadcast_exchanges" -> execs.map(_.broadcasts).sum.toDouble,
      "etl.target_scan_bytes" -> execs.map(_.targetScanBytes).sum.toDouble,
      "etl.antijoin_smj_ops" -> (if (execs.exists(_.smjAnti > 0)) 1.0 else 0.0),
      "etl.antijoin_bhj_ops" -> (if (execs.exists(_.bhjAnti > 0)) 1.0 else 0.0))
  }

  private lazy val perOp: Seq[(OpRec, Map[String, Double])] = ops.map(o => o -> opMetrics(o))

  /** Share of the attributed job and Catalyst time left after clipping to
    * the operations' intervals. */
  private def clippedShare(of: OpRec => Seq[I]): Double = {
    val (kept, all) = ops.map { o =>
      val xs = of(o)
      (length(clip(xs, o.startMs, o.endMs)), length(xs))
    }.foldLeft((0.0, 0.0)) { case ((a, b), (x, y)) => (a + x, b + y) }
    if (all > 0) kept / all else 1.0
  }

  lazy val jobClippedShare: Double =
    clippedShare(o => jobsByOp.getOrElse(o.id, Nil).map(jobInterval(_, o)))
  lazy val catalystClippedShare: Double =
    clippedShare(o => execsByOp.getOrElse(o.id, Nil).flatMap(_.phases.map(p => (p._2, p._3))))
  lazy val unattributedJobs: Seq[Int] = jobOwner.collect { case (j, None) => j.jobId }
  /** Share of traced operation wall time that no layer below the operation covers. */
  lazy val driverShare: Double = {
    val wall = perOp.map(_._1.wallS).sum
    if (wall > 0) perOp.map(_._2("self.driver_s")).sum / wall else 0.0
  }

  /** Attribution failures; the run fails unless this is empty. */
  def problems: Seq[String] =
    (if (unattributedJobs.nonEmpty)
      Seq(s"jobs ${unattributedJobs.mkString(",")} belong to no operation") else Nil) ++
    (if (jobClippedShare < 0.95) Seq(f"only $jobClippedShare%.3f of job time lies inside its operation") else Nil) ++
    (if (catalystClippedShare < 0.95)
      Seq(f"only $catalystClippedShare%.3f of Catalyst time lies inside its operation") else Nil)

  def summary: Map[String, Any] = Map(
    "unattributed_jobs" -> unattributedJobs,
    "job_time_inside_ops" -> jobClippedShare,
    "catalyst_time_inside_ops" -> catalystClippedShare,
    "driver_share" -> driverShare,
    "problems" -> problems)

  /** One record per traced operation, with its self-time accounting error. */
  def opRecords: Seq[Map[String, Any]] = perOp.map { case (o, m) =>
    val selfSum = m.collect { case (k, v) if k.startsWith("self.") => v }.sum
    Map("op" -> o.id, "pass" -> o.pass, "name" -> o.name,
      "self_sum_s" -> selfSum,
      "self_err" -> (if (o.wallS > 0) math.abs(selfSum - o.wallS) / o.wallS else 0.0)) ++ m
  }

  /** Per-layer metrics: per-pass sums, then the median over traced passes. */
  def perPass(): Map[String, Double] = {
    val passes = tracedPasses.map { p =>
      val sums = perOp.filter(_._1.pass == p).map(_._2)
        .foldLeft(Map.empty[String, Double]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
        }
      def sum(k: String) = sums.getOrElse(k, 0.0)
      val c = r.counters.getOrElse(p, mutable.Map.empty[String, Double])
      def ctr(k: String) = c.getOrElse(k, 0.0)
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      Map(
        "Tables.load_s" -> sum("Tables.load_s"),
        "Tables.load_calls" -> sum("Tables.load_calls"),
        "queries.construct_s" -> sum("queries.construct.s"),
        "queries.construct_jobs" -> sum("queries.construct.jobs"),
        "queries.construct_gap_s" -> sum("queries.construct.gap_s"),
        "jobs.load_s" -> sum("jobs.load.s"),
        "jobs.load_spark_jobs" -> sum("jobs.load.jobs"),
        "cohort.construct_s" -> sum("cohort.construct.s"),
        "cohort.rows_out" -> ctr("cohort.rows_out"),
        "etl.rows_in" -> ctr("etl.rows_in"),
        "etl.rows_appended" -> ctr("etl.rows_appended"),
        "etl.appended_per_row_in" -> ratio(ctr("etl.rows_appended"), ctr("etl.rows_in")),
        "etl.target_scan_bytes" -> sum("etl.target_scan_bytes"),
        "etl.antijoin_smj_ops" -> sum("etl.antijoin_smj_ops"),
        "etl.write_bytes" -> ctr("etl.write_bytes"),
        "etl.files_written" -> ctr("etl.files_written"),
        "target_bytes_per_row" -> ratio(ctr("etl.write_bytes"), ctr("etl.target_rows"))) ++
        Seq("spark.catalyst_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
          "spark.input_bytes", "spark.spill_bytes", "spark.driver_gap_s",
          "plans.exchanges", "plans.reused_exchanges", "plans.broadcast_exchanges")
          .map(k => k -> sum(k))
    }
    passes.flatMap(_.keys).distinct.map(k => k -> Stats.median(passes.map(_(k)))).toMap
  }

  /** Spark-side spans (jobs and Catalyst phases), parented to the
    * construction span they started in, else to their operation's span. */
  def sparkSpans: Seq[Map[String, Any]] = {
    var id = r.spans.size
    val pass = r.spans.filter(_.name == "pass").map(_.id).toSet
    perOp.flatMap { case (o, _) =>
      val opSpan = r.spans.find(s => s.op == o.id && pass(s.parent)).map(_.id).getOrElse(-1)
      val cons = r.spans.filter(s => s.op == o.id && constructs.contains(s.name))
      def parent(ms: Double) =
        cons.find(c => ms >= c.startMs && ms <= c.endMs).map(_.id).getOrElse(opSpan)
      val jobs = jobsByOp.getOrElse(o.id, Nil).map { j =>
        val (s, e) = jobInterval(j, o)
        (s, e, s"job ${j.jobId}", Map[String, Any]("job_id" -> j.jobId, "stages" -> j.stages))
      }
      val phases = execsByOp.getOrElse(o.id, Nil).flatMap(_.phases.map { case (n, s, e) =>
        (s, e, s"catalyst.$n", Map.empty[String, Any])
      })
      (jobs ++ phases).sortBy(_._1).map { case (s, e, name, attrs) =>
        id += 1
        Map("id" -> id, "parent" -> parent(s), "name" -> name, "op" -> o.id,
          "start_ms" -> s, "end_ms" -> e) ++ attrs
      }
    }
  }
}
