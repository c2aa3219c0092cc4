package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry gate: the Spark body Verify and Bench run on an sf
  * directory, and the DuckDB SQL its output must hash-match. The SQL is
  * built each time it is read, so SF-scoped dump paths resolve against
  * [[SparkEntry.verifySfDir]] as Verify has set it when it writes
  * `oracle_sql.json`.
  */
final class Gate private (val name: String,
    val run: (SparkSession, String) => DataFrame, sql: () => String) {
  def oracleSql: String = sql()
}

object Gate {
  def apply(name: String)(run: (SparkSession, String) => DataFrame)
      (oracleSql: => String): Gate =
    new Gate(name, run, () => oracleSql)

  /** `base` plus one `value` per gate. A name defined twice, among the
    * gates or in both, is an error: `++` would silently keep one body.
    */
  def merge[V](base: Map[String, V], gates: Seq[Gate])(value: Gate => V): Map[String, V] = {
    val names = gates.map(_.name)
    val twice = (names.diff(names.distinct) ++ names.filter(base.contains)).distinct.sorted
    require(twice.isEmpty, s"gate defined twice: ${twice.mkString(", ")}")
    base ++ gates.map(g => g.name -> value(g))
  }

  /** `names`, once each is in `known`; a dev tool (`tool`) fails on the
    * first call with every unknown one, before it builds a session, so a
    * misspelt gate is an error rather than a silently empty run.
    */
  def requireKnown(tool: String, names: Seq[String], known: String => Boolean): Seq[String] = {
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"$tool: unknown gates: ${unknown.mkString(", ")}")
    names
  }

  /** The comma-separated `SPARK_GRAFT_ONLY` subset, checked by
    * [[requireKnown]]; None (unset) selects every gate.
    */
  def onlyFromEnv(tool: String, known: String => Boolean): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(v =>
      requireKnown(tool, v.split(",").map(_.trim).filter(_.nonEmpty).toSeq, known).toSet)
}

/** A parquet Verify writes under `target/` before any gate runs, keyed
  * by the input directory, for the oracles of `gates` to read. `check`
  * runs after the write.
  */
final case class Dump(name: String, gates: Seq[String],
    frame: (SparkSession, String) => DataFrame,
    check: (SparkSession, String) => Unit = (_, _) => ()) {
  def dir(sfDir: String): String = SparkEntry.verifyDumpDir(name, sfDir)
}
