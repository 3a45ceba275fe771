package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark client. One process, one closed-loop client thread:
  * repeated set-ups, untimed settle passes, then the run's quota of whole
  * passes, ops one after another, then the run-log commits. Writes the
  * raw run record under `--work`; `run.py` checks outputs and turns the
  * record into metrics.
  *
  * Usage: Main --workload W --input DIR --work DIR --seed N --seconds S
  *             --trace 0|1 --setups K --cores C
  *        Main --selftest
  */
object Main {
  /** The session configuration of `graft.Bench`, plus the benchmark's own
    * local directories and the catalog plugin. `run.py` checks the
    * recorded effective values against `Bench.scala`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val benchConfKeys: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.constraintPropagation.enabled", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled", "spark.sql.streaming.checkpoint.fileChecksum.enabled",
    "spark.sql.session.timeZone", "spark.ui.enabled")

  /** Untimed run-log commits in each set-up. */
  val RunlogWarmups = 5

  /** The timed action of every op. */
  def materialize(df: DataFrame): Array[Row] = df.collect()

  /** Whether the physical plan of the action that ran outputs every column
    * of the DataFrame. `count()` fails this: Catalyst prunes the
    * projections it does not need, so a count-timed op skips work the
    * query declares. `SelfTest` checks `materialize` against it.
    */
  def materializesAll(df: DataFrame, action: org.apache.spark.sql.execution.QueryExecution): Boolean =
    action.executedPlan.output.map(_.name) == df.schema.fieldNames.toSeq

  /** Order-insensitive fingerprint of a result. */
  def fingerprint(rows: Array[Row]): Long =
    rows.foldLeft(rows.length.toLong * 0x9E3779B97F4A7C15L) { (acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001")).toLong * 0x100000001B3L
    }

  private def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Throwable => (0L, 0L) }

  private def dirBytes(dir: String): (Long, Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L, 0L)
    val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val (meta, data) = files.partition(f => f.getFileName.toString.startsWith("_"))
    (data.map(Files.size).sum, meta.map(Files.size).sum, data.size.toLong)
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) { SelfTest.run(); return }
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val wl = Workload(opt("workload"), opt("input"), work, opt("seed").toLong)
    Files.createDirectories(Paths.get(work, "tables"))

    // ---- set-up, repeated; the last session runs the measured phase
    val setups = opt("setups").toInt
    val setupMs = mutable.Buffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 1 to setups) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val ts = System.nanoTime()
      wl.setup(spark, round)
      if (wl.logsRuns) {
        spark.sql(s"CREATE TABLE graft.ns.runlog_r$round (op_id BIGINT, op STRING, n_rows BIGINT) " +
          s"USING graft_evolve TBLPROPERTIES ('path'='$work/tables/runlog_r$round')").collect()
        // warm-up commits, so the timed run-log commits do not start cold
        for (k <- 1 to RunlogWarmups)
          spark.sql(s"INSERT INTO graft.ns.runlog_r$round VALUES (${-k}L, 'warmup', 0L)").collect()
      }
      val t1 = System.nanoTime()
      setupMs += (t1 - t0) / 1e6
      System.err.println(
        f"perfbench: set-up $round: session ${(ts - t0) / 1e9}%.2f s, calls ${(t1 - ts) / 1e9}%.2f s")
      if (round < setups) {
        wl.teardown(spark, round)
        if (wl.logsRuns) spark.sql(s"DROP TABLE graft.ns.runlog_r$round").collect()
        spark.stop()
      }
    }
    val runlog = s"graft.ns.runlog_r$setups"
    val runlogDir = s"$work/tables/runlog_r$setups"

    // ---- settle: untimed passes after the set-ups, so the measured phase
    // starts past the steep start of the JIT warm-up curve
    val settle0 = System.nanoTime()
    for (_ <- 1 to wl.settlePasses) wl.pass(spark, -1).foreach(op => materialize(op.call(spark)))
    val settleS = (System.nanoTime() - settle0) / 1e9

    // ---- measured phase
    val tracer = if (traced) { val t = new Tracer(spark); t.register(); Some(t) } else None
    // executor CPU against run time, in every run: a contention signal
    val execCpuNs = new java.util.concurrent.atomic.AtomicLong()
    val execRunMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          execCpuNs.addAndGet(m.executorCpuTime); execRunMs.addAndGet(m.executorRunTime)
        }
    })
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6

    val records = mutable.Buffer.empty[String]
    val spans = mutable.Buffer.empty[String]
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], Long, StructType)]
    val reads = mutable.Buffer.empty[String]
    var userBytes = if (wl.logsRuns) RunlogWarmups * (16L + "warmup".length) else 0L
    var opNo = 0

    def runOp(op: Op, passNo: Int): Option[Array[Row]] = {
      val i = opNo
      opNo += 1
      val (gc0, jit0) = if (traced) Tracer.jvmMs() else (0L, 0L)
      val t0 = System.nanoTime()
      var c1 = t0
      var df: DataFrame = null
      val res = try {
        df = op.call(spark)
        c1 = System.nanoTime()
        Right(materialize(df))
      } catch { case e: Throwable =>
        if (c1 == t0) c1 = System.nanoTime()
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t1 = System.nanoTime()
      val rec = mutable.LinkedHashMap[String, Any]("i" -> i, "pass" -> passNo,
        "name" -> op.name, "kind" -> op.kind, "layer" -> op.layer,
        "t0" -> epochMs(t0), "t1" -> epochMs(t1), "ms" -> (t1 - t0) / 1e6,
        "call_ms" -> (c1 - t0) / 1e6)
      res.foreach { rows =>
        rec("rows") = rows.length
        op.layer match {
          case "actuarial.call" => rec("value") = rows.head.getDouble(0)
          case "ops.call" =>
            val fp = fingerprint(rows)
            firstRows.get(op.name) match {
              case None => firstRows(op.name) = (rows, fp, df.schema)
              case Some((_, fp0, _)) if fp0 != fp =>
                rec("wrong") = "result differs from the first run of this query"
              case _ =>
            }
          case "sources.sql" if op.kind == "read" =>
            reads += Json(Map("i" -> i, "rows" ->
              rows.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2)))))
          case _ =>
        }
      }
      rec("ok") = res.isRight
      res.left.foreach(e => rec("err") = e)
      tracer.foreach { tr =>
        val (gc1, jit1) = Tracer.jvmMs()
        val (jobSpans, counts) = tr.drain()
        val phases = Option(df).map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
        rec("counts") = counts ++ Map("jvm_gc_ms" -> (gc1 - gc0).toDouble,
          "jvm_jit_ms" -> (jit1 - jit0).toDouble)
        val opSpans = Span("op", epochMs(t0), epochMs(t1)) +: Span(op.layer, epochMs(t0), epochMs(c1)) +:
          (phases.toSeq.map { case (k, p) => Span(s"plan.$k", p.startTimeMs.toDouble, p.endTimeMs.toDouble) } ++
            jobSpans)
        opSpans.foreach(s => spans += s.json(i))
      }
      records += Json(rec)
      res.toOption
    }

    val (steal0, jif0) = cpuJiffies()
    val phase0 = System.nanoTime()
    val quota = math.max(1L, math.round(seconds / wl.nominalPassS)).toInt
    var passes = 0
    var done = false
    // (op index, pass, name, result rows) of every read op, for the run log
    val logged = mutable.Buffer.empty[(Int, Int, String, Long)]
    val passS = mutable.Buffer.empty[Double]
    while (!done && passes < quota) {
      val p0 = System.nanoTime()
      val ops = wl.pass(spark, passes)
      done = ops.isEmpty
      ops.foreach { op =>
        val rows = runOp(op, passes)
        logged += ((opNo - 1, passes, op.name, rows.map(_.length.toLong).getOrElse(-1L)))
      }
      if (!done) { passes += 1; passS += (System.nanoTime() - p0) / 1e9 }
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9
    val (steal1, jif1) = cpuJiffies()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, jif1 - jif0)
    // the run log: one commit per read op, after the read phase, so the
    // read ops and wall_s hold no commit time
    if (wl.logsRuns) logged.foreach { case (i, passNo, name, n) =>
      runOp(Op("runlog.insert", "commit", "sources.sql",
        s => s.sql(s"INSERT INTO $runlog VALUES (${i}L, '$name', ${n}L)")), passNo)
      userBytes += 16 + name.length
    }

    // ---- end-of-run state: live heap, stored bytes
    // Full GCs until the live set has not shrunk for two rounds: Spark's
    // ContextCleaner frees broadcast and shuffle state only after a GC has
    // found their handles unreachable. The heap in use is read per pool
    // right after each collection, so allocation by background threads
    // after the GC does not count.
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    def used(): Seq[(String, Long)] = {
      System.gc(); Thread.sleep(100); pools.map(p => p.getName -> p.getCollectionUsage.getUsed)
    }
    var live = used()
    var flat = 0
    var rounds = 1
    while (flat < 2 && rounds < 10) {
      val next = used()
      rounds += 1
      if (next.map(_._2).sum < live.map(_._2).sum * 0.99) flat = 0 else flat += 1
      if (next.map(_._2).sum < live.map(_._2).sum) live = next
    }
    val liveHeapMb = live.map(_._2).sum / 1048576.0
    val dirs = wl.tableDirs ++ (if (wl.logsRuns) Seq(runlogDir) else Nil)
    val stored = dirs.map(dirBytes)

    val conf = benchConfKeys.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap

    // ---- outputs for the checks in run.py
    Files.writeString(Paths.get(work, "oracle.json"),
      Json(graft.SparkEntry.oracleSql.filter(kv => firstRows.contains(kv._1))))
    firstRows.foreach { case (name, (rows, _, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$name")
    }
    val inserted = wl match {
      case d: LakehouseDml =>
        Files.writeString(Paths.get(work, "reads.jsonl"), reads.mkString("", "\n", "\n"))
        spark.stop()
        val fresh = session(cores, work)
        val back = d.readBack(fresh)
        back.foreach { case (f, rows) =>
          Files.writeString(Paths.get(work, s"final_$f.json"),
            Json(rows.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2)))))
        }
        spark = fresh
        0L
      case _ => userBytes
    }

    val result = Map(
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong, "traced" -> traced,
      "setup_ms" -> setupMs, "settle_s" -> settleS, "phase_s" -> phaseS, "pass_s" -> passS,
      "passes" -> passes, "ops" -> opNo, "live_heap_mb" -> liveHeapMb,
      "live_heap_pools_mb" -> live.map(kv => kv._1 -> kv._2 / 1048576.0).toMap,
      "live_heap_gcs" -> rounds, "steal_pct" -> stealPct,
      "exec_cpu_per_run" -> execCpuNs.get / 1e6 / math.max(1L, execRunMs.get),
      "data_bytes" -> stored.map(_._1).sum, "meta_bytes" -> stored.map(_._2).sum,
      "data_files" -> stored.map(_._3).sum, "runlog_user_bytes" -> inserted,
      "conf" -> conf, "cores" -> cores, "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"))
    Files.writeString(Paths.get(work, "ops.jsonl"), records.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(work, "spans.jsonl"), spans.mkString("", "\n", if (spans.isEmpty) "" else "\n"))
    Files.writeString(Paths.get(work, "run.json"), Json(result))
    spark.stop()
  }
}
