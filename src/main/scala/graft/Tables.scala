package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All relational tables are plain parquet scans — Catalyst pushes filters
  * and prunes columns into the scan, so no caching/materialization here.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exchange barrier PINNED to the session's shuffle parallelism.
    *
    * The ops modules place a keyed repartition before 1→k generators
    * (explodes of shingles/tokens/salts/spans) for two reasons: it stops
    * CollapseProject from re-inlining the expensive array-building
    * expression per element, and it spreads the k-fold generated span
    * across tasks. A BARE `repartition(col)` silently defeats the second
    * purpose: AQE coalesces the exchange to 1-2 partitions at fixture
    * sizes (the pre-explode side is small by construction), so the whole
    * generated span — the expensive stage — runs on one or two of the
    * session's cores (r22 per-job evidence: q77's shingle explode ran 2
    * of 32 tasks). An explicit count (REPARTITION_BY_NUM) is exempt from
    * coalescing; the session conf keeps it scale-adaptive, never a local
    * constant.
    */
  def barrier(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Runs `f` with each `key -> value` set on the session conf, then, on
    * return or throw, puts back each key's previous session value, or
    * unsets a key the session had not set. A query function must not leave
    * process-visible conf changes behind, so every query-scoped conf goes
    * through here. "Previous" is what the session set, not the default
    * `conf.getOption` reports: restoring a default would pin it.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prior = s.conf.getAll
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally kvs.foreach { case (k, _) =>
      prior.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }

  /** `events.parquet` has shipped with `ts` as either TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) across testdata generations, so the loader adapts to
    * the unit actually on disk instead of assuming one:
    *
    *   - NANOS: Spark's parquet reader surfaces it as a raw nanos `long`
    *     (under `spark.sql.legacy.parquet.nanosAsLong=true`, set at session
    *     construction in Verify/Bench/tests — harmless for µs files, so it
    *     stays on unconditionally). Floor to microseconds — identical to
    *     DuckDB's ns→µs cast, so oracle comparisons line up.
    *   - MICROS: arrives as a timestamp already; just normalize to
    *     TIMESTAMP_NTZ.
    *
    * The conf is deliberately NOT set here: mutating session conf as a read
    * side effect would leak the legacy behavior into every later parquet
    * read in the session.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}
