package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {
  private val body: (SparkSession, String) => DataFrame = (_, _) => null

  test("merge rejects a record whose name the map already defines") {
    val e = intercept[IllegalArgumentException](
      Gate.merge(Map("a" -> "x", "b" -> "y"), Seq(Gate("b")(body)("SELECT 1")))(_.oracleSql))
    assert(e.getMessage.contains("gate defined twice: b"))
  }

  test("merge rejects two records of one name") {
    val e = intercept[IllegalArgumentException](
      Gate.merge(Map.empty[String, String],
        Seq(Gate("c")(body)("SELECT 1"), Gate("c")(body)("SELECT 2")))(_.oracleSql))
    assert(e.getMessage.contains("gate defined twice: c"))
  }

  test("no moved gate is also left in SparkEntry, and the registry keeps its 298 names") {
    val ann = graft.ops.SimilarityGates.all.map(_.name)
    val streaming = graft.streaming.StreamGates.all.map(_.name)
    assert(ann.size == 21 && streaming.size == 35)
    assert(streaming.forall(_.startsWith("stream_")))
    val moved = ann ++ streaming
    assert(moved.distinct == moved)
    // the merge throws if SparkEntry's own map still defines a moved name
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    assert(queries.size == 298 && oracles.keySet == queries.keySet)
    assert(moved.forall(n => queries.contains(n) && oracles.contains(n)))
    // the whole streaming family is records, and each transformWithState
    // twin is checked against its legacy base's oracle
    assert(queries.keySet.filter(_.startsWith("stream_")) == streaming.toSet)
    val twins = streaming.filter(_.endsWith("_tws"))
    assert(twins.size == 9 && twins.forall(n => oracles(n) == oracles(n.stripSuffix("_tws"))))
  }

  test("a record's oracle SQL is built when read, against the current verifySfDir") {
    val prior = SparkEntry.verifySfDir
    val gate = graft.ops.SimilarityGates.all.find(_.name == "ann_pq").get
    try {
      SparkEntry.verifySfDir = "/data/a"
      val a = gate.oracleSql
      SparkEntry.verifySfDir = "/data/b"
      val b = gate.oracleSql
      assert(a.contains(graft.ops.SimilarityGates.PqDump.dir("/data/a")))
      assert(b.contains(graft.ops.SimilarityGates.PqDump.dir("/data/b")))
    } finally SparkEntry.verifySfDir = prior
  }
}
