package layerbench

/** Writes the DuckDB oracle SQL of the catalog workload's queries
  * (`SparkEntry.oracleSql`) as one JSON object to the file named by the
  * first argument. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = Catalog.Queries.map(q => s"${Main.str(q)}: ${Main.str(sql(q))}").mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
