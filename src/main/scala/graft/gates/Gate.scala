package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry gate: its name in the driver contract, the Spark builder
  * that answers it over a corpus directory, and the DuckDB oracle SQL whose
  * rows the builder's result must equal.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Gate {
  /** `gates` as given, after checking that no name occurs twice: a map
    * built from a list with a repeated name would silently keep only the
    * last gate of that name.
    */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"gate names declared twice: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }
}

/** A family file's gates in declaration order. Each `gate(...)` call sits
  * directly under the builder it names, so a gate's Spark side and its
  * oracle are read together.
  */
private[graft] abstract class GateFamily {
  private val declared = scala.collection.mutable.ListBuffer.empty[Gate]

  protected def gate(name: String, build: (SparkSession, String) => DataFrame, oracle: String): Unit =
    declared += Gate(name, build, oracle)

  final def gates: Seq[Gate] = declared.toList
}
