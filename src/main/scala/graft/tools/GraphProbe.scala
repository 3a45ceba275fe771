package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: print the physical plan of ONE LPA/BFS round against a
  * pre-partitioned checkpointed adjacency — the structural evidence for
  * whether the per-round join re-exchanges the invariant relation.
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.t(spark, dir, "documents")
    val edges = docs.select((col("doc_id") % 4000).as("src"),
      (col("doc_id") % 3999).as("dst"))
    val shufParts = spark.sessionState.conf.numShufflePartitions
    val b = edges.select(col("src").as("u"), col("dst").as("v")).distinct()
    val nodes = b.select(col("u").as("node"))
      .union(b.select(col("v").as("node"))).distinct()
    val adj = b
      .union(b.select(col("v").as("u"), col("u").as("v")))
      .union(nodes.select(col("node").as("u"), col("node").as("v")))
      .distinct()
      .repartition(shufParts, col("v"))
      .persist()
    println("== adj count " + adj.count())
    println("== adj queryExecution.executedPlan outputPartitioning:")
    println(adj.queryExecution.executedPlan.outputPartitioning)
    val lab = nodes.select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    // force the scale-shape join (no broadcast) to show whether the adj
    // side re-exchanges above the cached relation
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val round = adj
      .join(lab.select(col("node").as("v"), col("lab")), "v")
      .groupBy("u", "lab").agg(count(lit(1)).as("c"))
      .groupBy("u")
      .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
      .select(col("u").as("node"), (-col("m.nl")).as("lab"))
    round.write.format("noop").mode("overwrite").save()
    println("== round plan (final, post-AQE, broadcast off):")
    println(round.queryExecution.executedPlan.toString.take(8000))
    spark.stop()
  }
}
