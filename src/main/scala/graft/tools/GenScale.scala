package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: materialize an N×-scaled copy of a testdata directory for
  * scale soaks (PLANS.md "sf1 soak": run the heavy queries at 10× sf0.1
  * and check per-query scaling exponents — anything super-linear is a
  * plan defect to chase BEFORE it becomes a 100 TB incident).
  *
  * Scaling rule: each fact/dimension table becomes `copies` key-shifted
  * replicas unioned together — every key column shifts by
  * `i * (max_key + 1)` with the SAME stride used for the foreign-key side
  * (orders.o_custkey shifts by the CUSTOMER stride, lineitem.l_orderkey
  * by the ORDERS stride, …), so referential structure, join fan-outs and
  * per-key densities survive the scale-up — matching how the driver's own
  * sf0.01 → sf0.1 step grows users, customers and documents ~10×
  * together. `region`/`nation` stay constant (they are constant across
  * driver sf levels); `embeddings` grows 4× (its observed sf0.01 → sf0.1
  * growth is ~4×, sublinear by design).
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [outDir] [copies]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def stride(table: String, key: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(key))).first().getLong(0) + 1L

    /** Union `n` replicas of `df`, shifting each column in `shifts` by
      * i * its stride; preserves the original column order and types.
      */
    def replicate(df: DataFrame, n: Int, shifts: Map[String, Long]): DataFrame = {
      val cols = df.columns
      (0 until n).map { i =>
        df.select(cols.map { c =>
          shifts.get(c) match {
            case Some(st) if i > 0 => (col(c) + lit(i * st)).as(c)
            case _ => col(c)
          }
        }.toIndexedSeq: _*)
      }.reduce(_ unionAll _)
    }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def write(name: String, df: DataFrame): Unit = {
      df.repartition(8).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val custStride = stride("customer", "c_custkey")
    val suppStride = stride("supplier", "s_suppkey")
    val partStride = stride("part", "p_partkey")
    val ordStride = stride("orders", "o_orderkey")
    val evStride = stride("events", "event_id")
    val userStride = stride("events", "user_id")
    val docStride = stride("documents", "doc_id")
    val vecStride = stride("embeddings", "vec_id")

    def t(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")

    write("region", t("region"))
    write("nation", t("nation"))
    write("customer", replicate(t("customer"), copies, Map("c_custkey" -> custStride)))
    write("supplier", replicate(t("supplier"), copies, Map("s_suppkey" -> suppStride)))
    write("part", replicate(t("part"), copies, Map("p_partkey" -> partStride)))
    write("orders", replicate(t("orders"), copies,
      Map("o_orderkey" -> ordStride, "o_custkey" -> custStride)))
    write("lineitem", replicate(t("lineitem"), copies,
      Map("l_orderkey" -> ordStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)))
    write("events", replicate(t("events"), copies,
      Map("event_id" -> evStride, "user_id" -> userStride)))
    write("documents", replicate(t("documents"), copies,
      Map("doc_id" -> docStride)))
    write("embeddings", replicate(t("embeddings"), math.max(copies * 2 / 5, 1),
      Map("vec_id" -> vecStride)))
    spark.stop()
  }
}
