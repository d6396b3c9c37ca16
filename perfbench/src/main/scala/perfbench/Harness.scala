package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What one workload does. A pass is [[writePhase]] then [[readPhase]]; the
  * harness times the two phases and nothing else. Every call into a graft
  * module goes through [[Ctx.op]] (one counted operation) and [[Ctx.span]]
  * (one traced layer call).
  */
trait Workload {
  /** Inputs from the seed, index builds: everything before the first pass. */
  def setup(ctx: Ctx): Unit
  /** Untimed: bring the kept state back to where every pass starts. */
  def reset(ctx: Ctx): Unit
  def writePhase(ctx: Ctx): Unit
  /** Bytes on disk of the state the workload keeps, after a write phase. */
  def storedBytes: Long
  def readPhase(ctx: Ctx): Unit
  /** Untimed check of the last pass's outputs against computations made
    * apart from graft. Returns one message per failed check.
    */
  def check(ctx: Ctx): Seq[String]
  /** Per-layer counts only the workload can see (e.g. pairs found). */
  def passCounts: Map[String, Double] = Map.empty
  /** Per-layer values computed at check time (e.g. recall). */
  def checkValues: Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val work: Path, val scale: Double, val seed: Long) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Each op's output fingerprint per pass; every pass must agree. */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  val drift = mutable.ArrayBuffer.empty[String]

  def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  /** One counted operation. A failure is counted and the pass goes on. */
  def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    try span("op", name)(body)
    catch {
      case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  /** Record an op's output; a pass whose output differs from the first
    * pass's is a check failure (same inputs, same answer, every pass).
    */
  def output(name: String, rows: Seq[Row]): Unit = {
    val fp = rows.map(_.toString).mkString("\n")
    val h = Integer.toHexString(fp.hashCode) + ":" + rows.size
    outputs.get(name) match {
      case Some(prev) if prev != h => if (drift.size < 20) drift += s"$name changed between passes"
      case None => outputs(name) = h
      case _ => ()
    }
  }
}

/** Value comparison for checks: doubles within a relative tolerance, NaN
  * equal to NaN, nulls equal to nulls, sequences element by element.
  */
object Same {
  def apply(a: Any, b: Any, tol: Double = 1e-9): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Number, y: Number) if !x.isInstanceOf[Double] && !y.isInstanceOf[Double] =>
      x.longValue == y.longValue
    case (x: Number, y: Number) => apply(x.doubleValue, y.doubleValue, tol)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => apply(p, q, tol) }
    case (x, y) => x == y
  }

  /** Compare two tables row by row, in order; returns the first difference. */
  def rows(name: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"$name: ${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !apply(g, w) => s"$name row $i: got $g, expected $w"
    }
}
