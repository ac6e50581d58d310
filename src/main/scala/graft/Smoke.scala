package graft

/** Dev utility: runs the driver's smoke contract (SparkEntry.entry) exactly
  * as the harness does — flagship query on sf0.001, expects rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session(8)
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"entry rows=${df.count()}")
    spark.stop()
  }
}
