package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: dump `.explain("formatted")` for named queries to files —
  * the before/after plan evidence for optimization rounds. Usage:
  *   runMain graft.tools.Plans <outDir> <suffix> <q1,q2,...> [sfDir]
  * writes <outDir>/<queryName>_<suffix>.txt per query.
  *
  * Streaming-protocol queries (their `fn` runs a stream to completion and
  * returns a memory-sink read) would explain as a LocalTableScan — for
  * those the dump is still written (it shows the post-stream shape) but
  * the interesting evidence lives in bench_full.json's stream_split.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Files.createDirectories(outDir)
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plans] wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
