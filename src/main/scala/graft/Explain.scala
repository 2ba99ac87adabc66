package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.001"
    for (n <- args) {
      println(s"===== $n =====")
      SparkEntry.benchQueries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
