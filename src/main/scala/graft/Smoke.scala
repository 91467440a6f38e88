package graft

/** Dev smoke driver: runs the flagship `SparkEntry.entry` the way the
  * round driver does (rows>0 check) and prints the shard counts. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    df.show(20, false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
