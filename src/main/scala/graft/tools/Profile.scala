package graft.tools

/** Dev-only: time + explain a single named query. Usage:
  * runMain graft.tools.Profile <queryName> [sfDir] [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.length > 2 && args(2) == "explain"
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
    val fn = graft.SparkEntry.queries(name)
    if (doExplain) fn(spark, dir).explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
