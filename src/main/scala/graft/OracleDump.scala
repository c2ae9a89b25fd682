package graft

/** Dump `SparkEntry.oracleSql` as `oracle_sql.json` into an existing
  * Verify output dir WITHOUT re-running the engine — for the case where
  * only the ORACLE text changed (e.g. adding MATERIALIZED hints to a
  * DuckDB mirror: same values, different evaluation strategy) and the
  * already-dumped Spark parquet results are still the results under
  * test. Same serializer as [[Verify]] ([[Verify.writeOracleSql]]). */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    Verify.writeOracleSql(outDir)
    println(s"[oracledump] wrote ${SparkEntry.oracleSql.size} oracle entries to $outDir/oracle_sql.json")
  }
}
