package graft
/** Formatted physical plans: `graft.Explain <sfDir> <query>...`, the data
  * directory first as in `graft.Verify`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val d = args(0)
    for (q <- args.drop(1)) {
      println(s"================ $q ================")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
