package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class OpRec(id: Int, pass: Int, name: String, startMs: Double,
    endMs: Double, wallS: Double, ok: Boolean, error: Option[String])

/** Times operations, keeps per-pass counters and, while tracing, the
  * harness-side spans (pass, operation, and the layer spans a workload
  * opens around its calls into the engine). */
final class Runner(spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  var checkFailures = 0
  private var pass = -1
  private var passSpan = -1
  private var tracing = false
  private var openOp: Option[(Int, Int)] = None // (op id, op span id)
  private var nextOp = 0

  private def nextSpanId: Int = spans.size

  def beginPass(p: Int, traced: Boolean): Unit = {
    pass = p
    tracing = traced
    counters(p) = mutable.Map.empty
    passSpan = -1
    if (traced) {
      passSpan = nextSpanId
      spans += Span(passSpan, -1, "pass", -1, Clock.nowMs, Double.NaN, Map("pass" -> p))
    }
  }

  def endPass(): Unit = if (passSpan >= 0)
    spans(passSpan) = spans(passSpan).copy(endMs = Clock.nowMs)

  def count(name: String, v: Double): Unit =
    counters(pass)(name) = counters(pass).getOrElse(name, 0.0) + v

  def op(name: String)(body: => Unit): Unit = {
    val id = nextOp
    nextOp += 1
    val spanId = if (tracing) nextSpanId else -1
    if (tracing) spans += Span(spanId, passSpan, name, id, Clock.nowMs, Double.NaN)
    openOp = Some((id, spanId))
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    val startMs = Clock.nowMs
    val t0 = System.nanoTime
    val error =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        Some(e.toString)
      }
    val wall = (System.nanoTime - t0) / 1e9
    val endMs = Clock.nowMs
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    openOp = None
    if (tracing) spans(spanId) = spans(spanId).copy(startMs = startMs, endMs = endMs)
    ops += OpRec(id, pass, name, startMs, endMs, wall, error.isEmpty, error)
  }

  /** A layer span inside the open operation (recorded only while tracing). */
  def span[T](name: String)(body: => T): T = openOp match {
    case Some((id, parent)) if tracing =>
      val s = Clock.nowMs
      try body
      finally spans += Span(nextSpanId, parent, name, id, s, Clock.nowMs)
    case _ => body
  }

  /** Output checks outside any operation; a failure counts as a failed op. */
  def check(what: String)(body: => Unit): Unit =
    try body
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] check $what failed: $e")
      checkFailures += 1
    }
}

object Runner {
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
