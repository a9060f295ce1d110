package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the generated OPERATORS.md index to the live registry: every
  * registered query appears exactly once with the right oracle
  * marker, in the file that registers it, and no stale rows survive a
  * rename. Rows carry no line numbers, so edits that only move lines
  * never stale the index. Regenerate with
  * `python3 tools/gen_operator_index.py` when this fails. */
class OperatorIndexSpec extends AnyFunSuite {

  private val row = """\| (q\d+[a-z0-9_]*) \| `([^`]+)` \| (yes|—) \|""".r

  test("OPERATORS.md matches SparkEntry.queries / oracleSql") {
    val lines = scala.io.Source.fromFile("OPERATORS.md", "UTF-8").getLines().toSeq
    val rows = lines.collect {
      case row(name, file, oracle) => (name, file, oracle)
    }
    assert(rows.map(_._1).distinct.size == rows.size, "duplicate index rows")
    assert(rows.map(_._1).toSet == SparkEntry.queries.keySet,
      "index rows must be exactly the registered queries")
    rows.foreach { case (name, file, oracle) =>
      assert((oracle == "yes") == SparkEntry.oracleSql.contains(name),
        s"$name oracle marker stale")
      val src = scala.io.Source.fromFile(file, "UTF-8").mkString
      assert(("\"" + name + "\"\\s*->").r.findFirstIn(src).isDefined,
        s"$name is not registered in $file")
    }
  }
}
