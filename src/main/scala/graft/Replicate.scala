package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes a k× copy of an sf directory, so a scale sweep runs the
  * registry through [[Bench]] at 1× and k× on the same code path
  * (`scripts/scale_sweep.py`). Replica `i` (0 ≤ i < k):
  *
  *  - adds i×C to every key and to every foreign key that refers to it,
  *    with C the smallest power of ten above the key's 1× maximum, so
  *    keys stay unique and joins stay within a replica;
  *  - rotates the letters of `text` by i: lengths, token counts and
  *    near-duplicate structure inside a replica are unchanged, and no
  *    pair across replicas is a near-duplicate, so pair counts grow k×;
  *  - applies a fixed signed permutation to the embedding dimensions:
  *    cosines inside a replica are unchanged, and vectors of different
  *    replicas are not neighbours;
  *  - copies every other column unchanged.
  *
  * `nation` and `region` are copied once. Each table is written as ONE
  * file, `<table>.parquet`, directly in the out dir (the streaming
  * readers select their input by that file name), keeping the 1× column
  * names and parquet physical types.
  *
  * Usage: `scripts/run_main.sh graft.Replicate <sfDir> <outDir> <k>`
  */
object Replicate {
  /** Each key with the foreign keys that refer to it, as (table, column). */
  private val keyFamilies: Seq[Seq[(String, String)]] = Seq(
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"),
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"))
  private val copiedOnce = Set("nation", "region")
  // the letter rotation repeats after 26 replicas
  private val MaxK = 26

  def main(args: Array[String]): Unit = {
    require(args.length == 3 && args(2).toIntOption.isDefined,
      "usage: graft.Replicate <sfDir> <outDir> <k>")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try replicate(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }

  def replicate(spark: SparkSession, sfDir: String, outDir: String, k: Int): Unit = {
    require(k >= 1 && k <= MaxK, s"k must be in 1..$MaxK, got $k")
    require(new java.io.File(outDir).getCanonicalPath != new java.io.File(sfDir).getCanonicalPath,
      s"out dir must differ from the input dir $sfDir")
    val tables = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    require(tables.nonEmpty, s"no <table>.parquet files in $sfDir")
    val read = tables.map(t => t -> spark.read.parquet(s"$sfDir/$t.parquet")).toMap
    // one C per key family, from the largest key any of its columns holds
    val offsets: Map[(String, String), Long] = keyFamilies.flatMap { fam =>
      val present = fam.filter { case (t, c) => read.get(t).exists(_.columns.contains(c)) }
      val (lo, hi) = present.map { case (t, c) =>
        val r = read(t).agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
        (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }.foldLeft((0L, 0L)) { case ((l, h), (a, b)) => (l min a, h max b) }
      require(lo >= 0, s"negative key in $present; offsets assume keys >= 0")
      val c = Iterator.iterate(10L)(_ * 10).find(_ > hi).get
      present.map(_ -> c)
    }.toMap
    val out = new java.io.File(outDir)
    out.mkdirs()
    tables.foreach { t =>
      val df = read(t)
      val dim = if (!df.columns.contains("embedding")) 0
        else df.agg(max(size(col("embedding")))).head().getInt(0)
      val copies = if (copiedOnce(t)) Seq(df)
        else (0 until k).map(i => replica(df, t, i, dim, offsets))
      writeOneFile(copies.reduce(_.unionByName(_)), new java.io.File(out, s"$t.parquet"))
    }
  }

  private def replica(df: DataFrame, table: String, i: Int, dim: Int,
      offsets: Map[(String, String), Long]): DataFrame = {
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val v: Column = (f.name, offsets.get(table -> f.name)) match {
        case _ if i == 0 => c
        case (_, Some(off)) => c + lit(i * off)
        case ("text", _) =>
          val az = "abcdefghijklmnopqrstuvwxyz"
          translate(c, az, az.drop(i) + az.take(i))
        case ("embedding", _) =>
          val rnd = new scala.util.Random(i)
          val perm = typedLit(rnd.shuffle(Seq.range(0, dim)))
          val flip = typedLit(Seq.fill(dim)(rnd.nextBoolean()))
          transform(c, (_, j) => {
            val x = get(c, get(perm, j))
            when(get(flip, j), -x).otherwise(x)
          })
        case _ => c
      }
      v.cast(f.dataType).as(f.name)
    }: _*)
  }

  /** `df` as the single parquet file `dst` (Spark writes a directory of
    * part files; this moves the one part out of it). */
  private def writeOneFile(df: DataFrame, dst: java.io.File): Unit = {
    val tmp = new java.io.File(dst.getParentFile, s"_tmp_${dst.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val Array(part) = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    TempRoots.deleteRecursively(tmp)
  }
}
