package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"================ $q ================")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
