package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The k× copy the scale sweep benchmarks must be the 1× data k times
  * over: keys offset per replica (joins stay inside one), the parquet
  * layout the readers expect, and near-duplicate and cosine structure
  * repeated inside each replica rather than crossing between them.
  */
class ReplicateSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val k = 3
  private lazy val outDir: String = {
    val dir = TempRoots.create("graft_replicate_spec").toString
    Replicate.replicate(spark, sfDir, dir, k)
    dir
  }
  private def read(dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
  private def present = assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")

  test("row counts grow k× (nation and region once) and keys stay unique") {
    present
    val keyed = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id", "customer" -> "c_custkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey")
    keyed.foreach { case (t, key) =>
      val rep = read(outDir, t)
      assert(rep.count() == k * read(sfDir, t).count(), t)
      val keys = rep.select(key).na.drop()
      assert(keys.distinct().count() == keys.count(), s"duplicate $key in $t")
    }
    assert(read(outDir, "lineitem").count() == k * read(sfDir, "lineitem").count())
    Seq("nation", "region").foreach(t =>
      assert(read(outDir, t).count() == read(sfDir, t).count(), t))
  }

  test("orders⋈customer and lineitem⋈orders join counts grow k×") {
    present
    def joins(dir: String): (Long, Long) = {
      val o = read(dir, "orders")
      (o.join(read(dir, "customer"), col("o_custkey") === col("c_custkey")).count(),
        read(dir, "lineitem").join(o, col("l_orderkey") === col("o_orderkey")).count())
    }
    val (oc, lo) = joins(sfDir)
    assert(oc > 0 && lo > 0)
    assert(joins(outDir) == (k * oc, k * lo))
  }

  test("each table is one parquet file with the 1× column names and physical types") {
    present
    def columns(dir: String, table: String): Seq[String] = {
      val in = HadoopInputFile.fromPath(new Path(s"$dir/$table.parquet"), new Configuration())
      val reader = ParquetFileReader.open(in)
      try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.toSeq.map { c =>
        val p = c.getPrimitiveType
        s"${c.getPath.mkString(".")} ${p.getPrimitiveTypeName} ${p.getLogicalTypeAnnotation}"
      } finally reader.close()
    }
    val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
    assert(tables.contains("events") && tables.contains("documents"))
    tables.foreach { t =>
      assert(new java.io.File(outDir, s"$t.parquet").isFile, s"$t.parquet is not one file")
      assert(columns(outDir, t) == columns(sfDir, t), t)
    }
    assert(columns(outDir, "events").contains("ts INT64 TIMESTAMP(MICROS,false)"))
  }

  test("near-dup pair count grows k×, not k²") {
    present
    def pairs(dir: String): Long =
      graft.ops.Dedup.ngramJaccardPairs(read(dir, "documents"), "text", "doc_id").count()
    val one = pairs(sfDir)
    assert(one > 0, "the 1× corpus must hold near-dup pairs for this check to mean anything")
    assert(pairs(outDir) == k * one)
  }

  test("within-replica embedding cosines equal the 1× ones") {
    present
    def vectors(dir: String): Seq[Array[Double]] =
      read(dir, "embeddings").filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .orderBy("vec_id")
        .select("embedding").collect().toSeq
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val base = vectors(sfDir)
    // replica i's ids are the 1× ids plus i×C, so sorted by id the copy is
    // k blocks in 1× order
    val blocks = vectors(outDir).grouped(base.size).toSeq
    assert(blocks.size == k)
    val n = math.min(base.size, 40)
    for (b <- blocks.tail; i <- 0 until n; j <- i + 1 until n)
      assert(math.abs(cos(b(i), b(j)) - cos(base(i), base(j))) < 1e-9)
    assert(blocks(1).zip(base).exists { case (a, b) => !a.sameElements(b) },
      "replica 1 must not copy the 1× vectors verbatim")
  }
}
