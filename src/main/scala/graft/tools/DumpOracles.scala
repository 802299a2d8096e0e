package graft.tools

/** Dump SparkEntry.oracleSql to a JSON file without starting Spark —
  * lets scripts/check.py validate oracle SQL in DuckDB quickly. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    graft.Verify.writeOracleSql(out)
    println(s"wrote $out")
  }
}
