package graft

/** Mirrors the driver's smoke check: run [[SparkEntry.entry]] on sf0.001
  * and print the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder().getOrCreate()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"""{"smoke_rows":$n}""")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
