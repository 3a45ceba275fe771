package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-22 hardening: the r21 driver verify produced an EMPTY artifact
  * (entry_ok=false, 0 queries) — almost certainly a driver-side timeout on
  * a contended host — which voided the whole round's correctness gate. Two
  * defenses now guarantee a partial run still yields a usable artifact:
  *   1. `oracle_sql.json` and `_errors.json` are written FIRST and
  *      `_errors.json` is rewritten after every failure, so even a killed
  *      run leaves the oracle map plus every completed query's parquet;
  *   2. every query runs under a per-query watchdog (its own job group,
  *      `SPARK_GRAFT_VERIFY_TIMEOUT_S` per query, default 300 s — the
  *      slowest query at sf0.01 measures ~10 s): on expiry the job group
  *      is cancelled, active streams stopped, an `_error` marker recorded,
  *      and the run MOVES ON instead of stalling the entire surface.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so its runs always cover the full surface.
    // A set-but-empty value parses to an empty prefix list; treat that as
    // "no filter" (full surface), never as "select nothing".
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Write the oracle map and an empty error map BEFORE any query runs:
    // a run killed mid-surface must still leave a parseable artifact set
    // (oracle map + the parquets completed so far), never an empty dir.
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A throwing query must be first-class in the correctness artifact, not
    // a silently-missing key (the r11 failure mode: 21 errors surfaced only
    // on stderr). Collect errors and dump them as _errors.json alongside
    // the result parquets; also leave a per-query <name>._error marker so a
    // breakage is visible even to a plain directory listing.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def flushErrors(): Unit = {
      val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    }
    flushErrors()
    val timeoutS =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_S", "300").toLong.max(1L)
    val t0 = System.nanoTime()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // Each query runs in its own daemon thread under its own job group so
      // a hang is cancellable; the main thread owns the timeout and always
      // advances to the next query.
      @volatile var failure: Option[Throwable] = None
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(name, s"verify:$name", interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable => failure = Some(e) }
        finally spark.sparkContext.clearJobGroup()
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutS * 1000)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(name)
        // a stuck streaming trigger holds no cancellable job between
        // batches — stop any stream the query left running
        try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
        worker.join(15000)
        if (worker.isAlive) {
          worker.interrupt()
          worker.join(5000)
        }
        // the cancel usually makes the worker throw and record its own
        // failure; only synthesize one if it neither finished nor threw
        if (worker.isAlive || failure.isEmpty)
          failure = Some(new RuntimeException(
            s"watchdog: no completion within ${timeoutS}s; job group cancelled"))
      }
      failure.foreach { e =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        e.printStackTrace()
        errors(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name._error"), msg)
        flushErrors()
      }
      System.err.println(
        f"[verify] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    flushErrors()
    spark.stop()
  }
}
