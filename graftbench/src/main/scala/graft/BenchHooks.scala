package graft

/** The one engine-internal setting the benchmark needs: which input
  * directory the oracle SQL of `SparkEntry.oracleSql` reads, which
  * `graft.Verify` sets the same way before it writes `oracle_sql.json`.
  */
object BenchHooks {
  def setOracleInputDir(dir: String): Unit = SparkEntry.verifySfDir = dir
}
