package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session(4)
    val df = SparkEntry.entry(spark)
    df.show(20, false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
