package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

/** The registry's shape: one [[graft.gates.Gate]] per driver-contract
  * name, from which `SparkEntry.queries` and `SparkEntry.oracleSql` are
  * derived. No Spark session — only the gate records are read.
  */
class GateSpec extends AnyFunSuite {
  private val names = SparkEntry.gates.map(_.name)

  test("221 gates, each name declared once") {
    assert(names.size == 221)
    assert(names.distinct.size == names.size)
  }

  test("a gate list that declares a name twice is refused") {
    val Seq(a, b) = SparkEntry.gates.take(2)
    val e = intercept[IllegalArgumentException](
      Gate.unique(Seq(a, b, a.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(a.name), e.getMessage)
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("no oracle is blank or interpolates an uninitialized string") {
    // A family-file string read before its own declaration interpolates
    // as the word `null`; the oracles spell SQL NULL in capitals.
    val bad = SparkEntry.gates.filter(g =>
      g.oracle.trim.isEmpty || "\\bnull\\b".r.findFirstIn(g.oracle).isDefined)
    assert(bad.isEmpty, bad.map(_.name).mkString(", "))
  }

  test("Bench's warm-up and watch lists name gates") {
    val orphans = (Bench.WarmupQueries ++ Bench.WatchClosely).filterNot(names.toSet)
    assert(orphans.isEmpty, orphans.mkString(", "))
  }
}
