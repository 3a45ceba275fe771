package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * BUILD ACCOUNTING — one rule: a timed rep pays every build its query
  * consumes. Before each rep `SessionCache.invalidate` drops every
  * per-session memo (the near-dup pair index, k-means, BPE merges, CC
  * clusters) and every staged index build (`TempDirs.stagedBuild`: the
  * persisted ANN indexes of q137/q141/q143/q144), outside the timed
  * region, so no rep reads a build that an earlier rep or an earlier
  * query paid for.
  *
  * RATCHET — one rule: on a quiet host at sf0.1 with min-of-3 reps, the
  * total over the ROUND-18 FINAL QUERY SET (all 276 queries, q1–q279)
  * must stay ≤ 191 s (1.3 × the 146.84 s round-18 final anchor —
  * min-of-3 full-set runs of 154.78 / 154.87 / 146.84 s on the FINAL
  * round-18 build, zero failures, zero flaky — PLANS.md "Round 18
  * final anchor (re-take including q279)"; the fastest full-set run of
  * any round, 17.7 s under the r17 anchor WITH eight more queries. A
  * mid-round 275-query anchor read 151.22 s min-of-3 of
  * 156.48/164.54/151.22 before q279 landed). The eight round-18
  * additions (q272–q279: column pruning, branch tags, declared-schema
  * lakehouse, rollback, incremental MV, z-order, bloom filters ×2)
  * cost ~1.0 s together, and the round showed ZERO >1.3× movers vs the
  * r17 driver bench across its compact top-150 — the r17 driver spikes
  * re-read at quiet values (q138 7.53→4.42, q184 6.99→4.31, q157
  * 6.27→3.80, q198 3.92→1.39, q169 1.30→0.99 — the two r17
  * monitor-flagged drifts resolved ambient). Prior anchors: r17
  * 164.53 s / 268 (ceiling 214 s), r16 166.49 s / 262 (216 s), r15
  * 174.87 s / 257 (227 s), r14 154.45 s / 247 (201 s). The streaming
  * trigger-latency swing story (q184 26.7 s → 5.69 s targeted) is in
  * PLANS.md "Round 14 final anchor" and is exactly why the exemption
  * bands below exist — and since round 16, bench_full.json's
  * "stream_split" decomposes every streaming query into data_s
  * (addBatch wall), proto_s (trigger wall, stable 0.2–1.1 s across the
  * family), and state_commit_s (task-summed checkpoint I/O): a data_s
  * spike whose state_commit_s spikes proportionally is checkpoint I/O,
  * not a compute regression (q209 read 14.4 s with state_commit 254
  * vs 3.5 s with 40 on the same code — PLANS.md round 16). Queries
  * added after this anchor are excluded from the ratchet until it is
  * re-taken on a quiet run that includes them.
  * A quiet-host total past the ceiling is a
  * regression to fix, not variance to wave at — EXCEPT (a) the stateful
  * streaming family (q75/q119/q132/q138/q142/q176, now also
  * q184/q194/q206/q208/q209), whose RocksDB/checkpoint I/O and
  * wall-clock trigger protocols swing ±50% between back-to-back quiet
  * runs (PLANS.md round 12), and (b) iterative graph queries inside a
  * FULL 210-query run, which read up to ~1.5× their targeted-run cost
  * from same-JVM GC pressure (q150: 5.6 s in the anchor run, 3.7 s
  * min-of-3 targeted immediately after — PLANS.md round 13). Judge both
  * families per-query against their own band, not the sum.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm up the session (codegen, shuffle machinery, broadcast env) so
    // the first timed query isn't charged JVM start-up costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    import org.apache.spark.sql.functions.broadcast
    val wr = spark.range(1000)
    wr.join(broadcast(spark.range(100)), "id").count()
    // (time, Option[error]) per query — a failing query must NOT read as a
    // fast success: it is reported as -1 in `queries` and named in `failures`.
    // Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and the
    // MINIMUM is reported: round 3's only perf signal was poisoned by
    // machine contention during a single-shot run (untouched queries "slowed"
    // 3-7×), and min-of-N is the standard defense — the minimum is the run
    // least disturbed by external load. Default raised 2→3 after round 5:
    // even min-of-2 read 160 s on the contended driver host for a surface
    // that measures 56 s quiet (q36 42.5 s vs 4.1 s, q55 17.1 s vs 0.3 s) —
    // both reps landed under load; a third rep buys another chance.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // SPARK_GRAFT_ONLY="q91,q17" (same contract as Verify) times just those
    // queries — for targeted noise-vs-regression checks. A filtered total is
    // partial by construction and never re-anchors the ratchet.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.toSeq.filter { case (name, _) =>
        ks(name) || ks(name.takeWhile(_ != '_')) }
      case None => SparkEntry.queries.toSeq
    }
    // STREAMING SPLIT (round-16): the stateful-streaming family's bench
    // numbers are dominated by trigger-protocol wall-clock (micro-batch
    // scheduling, RocksDB/checkpoint I/O, wall-clock waits) that swings
    // ±50% between quiet runs and has drowned the COMPUTE signal in every
    // round's regression triage. A StreamingQueryListener splits each
    // query's streaming time into data_s (addBatch — the actual compute)
    // and proto_s (triggerExecution minus addBatch, plus offset/commit
    // bookkeeping): regressions should be judged on data_s; proto_s is
    // the documented variance band. Reported per query (for the min-wall
    // rep) in bench_full.json as "stream_split" — the compact driver line
    // stays unchanged (its 2000-char parse window is load-bearing).
    val streamDataMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val streamProtoMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val streamStateCommitMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs
          def ms(k: String): Long =
            Option(d.get(k)).map(_.longValue()).getOrElse(0L)
          val add = ms("addBatch")
          streamDataMs.addAndGet(add)
          streamProtoMs.addAndGet(math.max(0L, ms("triggerExecution") - add))
          // state-store checkpoint commits run INSIDE addBatch but are
          // TASK-summed (32 parallel tasks sum to ≫ wall-clock — they
          // cannot be subtracted from the wall split; the round-16 first
          // refinement tried and read proto_s=141 s on an 8.8 s query).
          // Reported as its own metric: when data_s moves between runs
          // and state_commit_s moves with it, the swing is checkpoint
          // I/O, not a compute regression.
          streamStateCommitMs.addAndGet(
            e.progress.stateOperators.map(_.commitTimeMs).sum)
        }
      })
    // Contention self-report (r22): the r21 driver bench was contaminated
    // by hypervisor CPU steal (untouched queries "regressed" 7-78x, the
    // 8-core companion run beat the 32-core one) and the damage was only
    // forensically inferable. Two machine-readable signals now ship with
    // every run so a contaminated run is detectable, not debatable:
    //   * steal_pct — CPU-steal share of total jiffies over the run
    //     (/proc/stat col 8); a quiet host reads ~0, the r21 host ~4% avg
    //     with bursts;
    //   * per-query rep spread (max/min over successful reps) in
    //     bench_full.json, with the median and p90 on the compact line —
    //     min-of-N absorbs bursts, but a spread median far above ~1.3
    //     means even the minima are suspect.
    def cpuJiffies(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }
    val (steal0, jif0) = cpuJiffies()
    val results = selected.map { case (name, fn) =>
      val attempts = (1 to reps).map { _ =>
        // BUILD ACCOUNTING (scaladoc above): without this drop, reps
        // 2..N and every later query sharing a build would read it back
        // instead of paying for it. The drop is outside the timed region.
        SessionCache.invalidate(spark)
        val d0 = streamDataMs.get()
        val p0 = streamProtoMs.get()
        val c0 = streamStateCommitMs.get()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
        ((System.nanoTime() - t0) / 1e9, err,
          ((streamDataMs.get() - d0) / 1e3, (streamProtoMs.get() - p0) / 1e3,
            (streamStateCommitMs.get() - c0) / 1e3))
      }
      val ok = attempts.collect { case (secs, None, split) => (secs, split) }
      // A query that fails some reps but succeeds others must not read as a
      // clean success: keep the min of the good reps (the perf signal) but
      // surface the first failing rep's error as "flaky".
      val flakyErr = if (ok.nonEmpty) attempts.collectFirst { case (_, Some(e), _) => e } else None
      val spread = if (ok.size >= 2) ok.map(_._1).max / math.max(1e-9, ok.map(_._1).min) else 1.0
      if (ok.nonEmpty) {
        val best = ok.minBy(_._1)
        (name, best._1, None, flakyErr, best._2, spread)
      } else (name, -1.0, attempts.head._2, None, (0.0, 0.0, 0.0), 1.0)
    }
    val (steal1, jif1) = cpuJiffies()
    val stealPct =
      math.rint(10000.0 * (steal1 - steal0) / math.max(1L, jif1 - jif0)) / 100
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _, _, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fails = results.collect { case (k, _, Some(e), _, _, _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val flaky = results.collect { case (k, _, None, Some(e), _, _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None, _, _, _) => v }.sum
    val spreads = results.collect { case (_, v, None, _, _, sp) if v >= 0 => sp }.sorted
    def pct(p: Double): Double =
      if (spreads.isEmpty) 1.0
      else math.rint(100 * spreads(((spreads.size - 1) * p).toInt)) / 100
    val (spreadMed, spreadP90) = (pct(0.5), pct(0.9))
    val repSpread = results.collect { case (k, v, None, _, _, sp) if v >= 0 =>
      jstr(k) + ":" + (math.rint(sp * 100) / 100)
    }.mkString("{", ",", "}")
    // per-query streaming split (only queries that ran micro-batches):
    // data_s = addBatch wall (includes in-task state commits), proto_s =
    // trigger protocol wall, state_commit_s = TASK-summed checkpoint
    // commit time (not wall — 32 tasks sum past the clock; use it to
    // attribute data_s swings to checkpoint I/O, not to compare to wall)
    val split = results.collect { case (k, _, None, _, (ds, ps, cs), _) if ds + ps > 0.005 =>
      jstr(k) + ":{\"data_s\":" + (math.rint(ds * 1000) / 1000) +
        ",\"proto_s\":" + (math.rint(ps * 1000) / 1000) +
        ",\"state_commit_s\":" + (math.rint(cs * 1000) / 1000) + "}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${results.count(_._3.nonEmpty)},"failures":$fails,"flaky":$flaky,"stream_split":$split,"steal_pct":$stealPct,"spread_med":$spreadMed,"spread_p90":$spreadP90,"rep_spread":$repSpread,"sf":"$sfDir"}"""
    // Full-precision, full-name JSON goes to files (and an early stdout
    // line for humans). The driver, however, captures only the LAST 2000
    // chars of the build log and parses the JSON line it finds there —
    // BENCH_r01/r02 both came back "parsed": null because the full line
    // (~2.6 KB at 73 queries) overflowed that window from the front. So
    // the FINAL stdout line is a compact variant guaranteed to fit: query
    // keys shortened to their "qNN" prefix, times rounded to 10 ms.
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench_full.json"), json)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
    }
    println(json)
    spark.stop()
    def short(k: String): String = k.indexOf('_') match {
      case -1 => k
      case i  => k.substring(0, i)
    }
    val collide = results.groupBy(r => short(r._1)).collect { case (_, g) if g.size > 1 => g }
      .flatten.map(_._1).toSet
    def key(k: String): String = if (collide(k)) k else short(k)
    def r2(v: Double): String = if (v < 0) "-1" else (math.rint(v * 100) / 100).toString
    val failShort = results.collect { case (k, _, Some(_), _, _, _) => jstr(key(k)) }
      .mkString("[", ",", "]")
    val flakyShort = results.collect { case (k, _, None, Some(_), _, _) => jstr(key(k)) }
      .mkString("[", ",", "]")
    // The final line must stay under the driver's 2000-char log-tail parse
    // window NO MATTER how many queries exist (at 175+ queries the full
    // map alone is ~2.1 KB — the r01/r02 overflow failure mode returning).
    // Budget the queries map explicitly: slowest-first (the informative
    // end), stop before the line can exceed ~1900 chars, and say how many
    // were omitted; full per-query data is always in bench_full.json.
    def compactLine(entries: Seq[String], omitted: Int): String = {
      val qs = entries.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs,"omitted":$omitted,"failed":${results.count(_._3.nonEmpty)},"failures":$failShort,"flaky":$flakyShort,"steal_pct":$stealPct,"spread_med":$spreadMed,"spread_p90":$spreadP90,"sf":"$sfDir","full":"target/bench_full.json"}"""
    }
    val bySlowest = results.sortBy { case (_, v, _, _, _, _) => -v }
      .map { case (k, v, _, _, _, _) => jstr(key(k)) + ":" + r2(v) }
    val budget = 1900 - compactLine(Seq.empty, results.size).length
    val kept = {
      var used = 0
      bySlowest.takeWhile { e => used += e.length + 1; used <= budget }
    }
    println(compactLine(kept, results.size - kept.size))
  }

  /** The one session configuration of every main, tool and spec:
    * `local[cpus]` with `cpus` shuffle partitions.
    */
  def session(cpus: String): SparkSession =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // expensive lambda exprs must not be re-inlined into scan filters
      .config("spark.sql.constraintPropagation.enabled", "false")
      // events.parquet ts unit has drifted across testdata generations (ns/µs);
      // the loader adapts (Tables.events). nanosAsLong stays on: required for
      // ns files, harmless for µs ones.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark 4.1 writes + verifies a checksum COMPANION FILE for every
      // streaming-checkpoint file (offset/commit logs, every state-store
      // delta of every partition of every batch) through a per-manager
      // thread pool. For run-to-completion streams that
      // doubles tiny-file checkpoint I/O, and the pool construction runs
      // inside the global state-store provider-load lock — thread dumps
      // during q208 show 31/32 task threads serialized behind it and 600+
      // live ChecksumCheckpointFileManager threads. Scale-independent to
      // disable: HDFS/S3 already checksum at the filesystem layer (r21).
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the DSv2 catalog of sources/: `graft.ns.<table>` resolves in every
      // session built here and in every newSession() of it
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
}
