package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * session startup is ~5 s, so suites must not each build their own),
  * built on the engine's session profile at a fixed `local[4]`, so the
  * suite exercises the same confs and optimizer rule as Verify and Bench.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // harness decision (not the library's): route embedded Derby's boot
    // log out of the repo root for the JDBC-sink suites (mkdirs first —
    // a runner whose CWD lacks target/ would leave Derby with an
    // uncreatable stream path and fall back to CWD litter)
    if (System.getProperty("derby.stream.error.file") == null) {
      new java.io.File("target").mkdirs()
      System.setProperty("derby.stream.error.file", "target/derby.log")
    }
    Bench.session(4)
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
