package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the checker's side of the driver contract as JSON: every
  * `SparkEntry.oracleSql` entry and the `SparkEntry.rowsOnly` set.
  * Usage: OracleDump <out.json> */
object OracleDump {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Main.json.writeValueAsString(Map(
      "oracle_sql" -> SparkEntry.oracleSql,
      "rows_only" -> SparkEntry.rowsOnly.toSeq.sorted)) + "\n")
}
