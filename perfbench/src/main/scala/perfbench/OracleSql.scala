package perfbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Writes the DuckDB oracle SQL of the given registered queries as one JSON
  * object, so their answers can be computed before any run needs them.
  *
  * Arguments: <out.json> <op> [<op> ...] */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val ops = argv.tail.toSet
    Files.writeString(Paths.get(argv.head),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }))
  }
}
