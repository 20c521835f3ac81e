package perfbench

import java.io.File
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.cohort.ArtOutcomes
import graft.jobs.{Job, JobSpec, ReferenceJobs}

/** A workload runs its operations through the [[Runner]], which times
  * them; a failed output check throws, which fails the operation. Checks
  * of a whole pass's output go in `verify`, which runs after the pass is
  * timed and traced. */
trait Workload {
  def prepare(): Unit = ()
  def pass(p: Int, r: Runner): Unit
  def verify(p: Int, r: Runner): Unit = ()
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Workload {
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
      manifest: java.util.Map[String, AnyRef]): Workload = name match {
    case "ods_incremental" => new OdsIncremental(spark, inputs, work, manifest)
    // The ART cohort rides in the read-only workload as its execution-bound
    // control: one operation after the construction-heavy registry rows.
    case "construction_heavy" => new Workload {
      private val parts = Seq(new ConstructionHeavy(spark, inputs, manifest),
        new ArtCohort(spark, inputs, manifest))
      def pass(p: Int, r: Runner): Unit = parts.foreach(_.pass(p, r))
    }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def num(m: java.util.Map[String, AnyRef], k: String): Long =
    m.get(k).asInstanceOf[Number].longValue

  def sub(m: java.util.Map[String, AnyRef], k: String): java.util.Map[String, AnyRef] =
    m.get(k).asInstanceOf[java.util.Map[String, AnyRef]]

  def list(m: java.util.Map[String, AnyRef], k: String): Seq[AnyRef] =
    m.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
}

import Workload._

/** Staging -> ODS incremental loads: every pass loads each family's
  * seeded deltas, cycle by cycle, into a fresh parquet target. */
final class OdsIncremental(spark: SparkSession, inputs: String, work: String,
    manifest: java.util.Map[String, AnyRef]) extends Workload {

  private val today = LocalDate.of(2024, 7, 1)
  private val cycles = num(manifest, "cycles").toInt
  private val families = list(manifest, "families").map(_.toString)
  private val expected = sub(manifest, "expected_appended")
  private val rowsIn = sub(manifest, "rows")
  private val keysPerFamily = num(manifest, "keys_per_family")
  private var specs = Map.empty[String, JobSpec]

  override def prepare(): Unit = {
    val marital = Tables.load(spark, inputs, "lkp_marital")
    val education = Tables.load(spark, inputs, "lkp_education")
    specs = Map(
      "ct" -> ReferenceJobs.ctPatients(today, marital, education),
      "hts" -> ReferenceJobs.htsClients(today, marital),
      "prep" -> ReferenceJobs.prepPatient(today))
  }

  private def root(p: Int) = new File(s"$work/targets/pass$p")

  def pass(p: Int, r: Runner): Unit =
    for (c <- 1 to cycles; fam <- families) {
      val delta = s"${fam}_c$c"
      r.op(delta) {
        val src = r.span("Tables.load")(Tables.load(spark, inputs, delta))
        val n = r.span("jobs.load")(Job.load(spark, src, s"${root(p)}/$fam", specs(fam)))
        r.count("etl.rows_in", num(rowsIn, delta).toDouble)
        r.count("etl.rows_appended", n.toDouble)
        val want = num(expected, delta)
        check(n == want, s"$delta appended $n rows, expected $want")
      }
    }

  override def verify(p: Int, r: Runner): Unit = {
    r.check("target keys") {
      for (fam <- families) {
        val path = s"${root(p)}/$fam"
        val target = spark.read.parquet(path)
        val keys = specs(fam).keys.map(col)
        // groupBy treats null key components as equal: the <=> identity.
        val dups = target.groupBy(keys: _*).count().filter(col("count") > 1).count()
        val rows = target.count()
        check(dups == 0, s"$fam target holds $dups duplicate keys")
        check(rows == keysPerFamily, s"$fam target holds $rows rows, expected $keysPerFamily")
        val files = Option(new File(path).listFiles).getOrElse(Array.empty[File])
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        r.count("etl.write_bytes", files.map(_.length).sum.toDouble)
        r.count("etl.files_written", files.length.toDouble)
        r.count("etl.target_rows", rows.toDouble)
      }
    }
    Runner.deleteRecursively(root(p))
  }
}

/** As-of ART outcomes per reporting window of the manifest; one operation is
  * one cohort computation materialised with a noop write. */
final class ArtCohort(spark: SparkSession, inputs: String,
    manifest: java.util.Map[String, AnyRef]) extends Workload {

  private val patients = num(manifest, "patients")
  private val windows = list(manifest, "windows").map { w =>
    val m = w.asInstanceOf[java.util.Map[String, AnyRef]]
    (LocalDate.parse(m.get("from").toString), LocalDate.parse(m.get("to").toString),
      num(m, "months"))
  }
  private val codes = Seq("V", "NP", "D", "T", "L", "S", "uL", "NV")
  private val reference = scala.collection.mutable.Map.empty[LocalDate, Map[String, Any]]

  def pass(p: Int, r: Runner): Unit = windows.foreach { case (from, to, months) =>
    r.op(s"cohort_$from") {
      val Seq(pts, visits, pharmacy, exits, disc) =
        Seq("patients", "visits", "pharmacy", "exits", "disc")
          .map(t => r.span("Tables.load")(Tables.load(spark, inputs, t)))
      val out = r.span("cohort.construct") {
        val spine = ArtOutcomes.monthEndSpine(spark, from, to)
        ArtOutcomes.outcomes(pts, visits, pharmacy, exits, disc, spine,
          spineBounds = Some((from, to)))
      }
      val obs = Observation()
      val known = col("outcome").isin(codes: _*)
      val counts = codes.map(c => sum(when(col("outcome") === c, 1L).otherwise(0L)).as(c)) :+
        sum(when(known, 0L).otherwise(1L)).as("other")
      out.observe(obs, count(lit(1)).as("rows"), counts: _*)
        .write.format("noop").mode("overwrite").save()
      val got = obs.get
      val rows = got("rows").asInstanceOf[Long]
      r.count("cohort.rows_out", rows.toDouble)
      check(rows == patients * months,
        s"cohort $from..$to has $rows rows, expected $patients x $months")
      val prior = reference.getOrElseUpdate(from, got)
      check(prior == got, s"cohort $from..$to outcome counts changed: $prior -> $got")
    }
  }
}

/** Registry rows whose wall time is mostly eager construction; one
  * operation is one `SparkEntry.queries` call plus a noop write. */
final class ConstructionHeavy(spark: SparkSession, inputs: String,
    manifest: java.util.Map[String, AnyRef]) extends Workload {

  private val queries = list(manifest, "queries").map(_.toString)
  private val reference = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def pass(p: Int, r: Runner): Unit = queries.foreach { q =>
    r.op(q) {
      val df: DataFrame = r.span("queries.construct")(SparkEntry.queries(q)(spark, inputs))
      val obs = Observation()
      // Order-independent digest: row count and the wrapping sum of row hashes.
      df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(df.columns.map(col): _*)).as("h"))
        .write.format("noop").mode("overwrite").save()
      val got = obs.get
      val digest = (got("n").asInstanceOf[Long],
        Option(got("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
      val prior = reference.getOrElseUpdate(q, digest)
      check(prior == digest, s"$q digest changed across passes: $prior -> $digest")
    }
  }
}
