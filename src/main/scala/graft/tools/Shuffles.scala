package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Dev-only: run named queries once and print NOISE-FREE structural
  * metrics per query — total shuffle write bytes, task count, job count,
  * summed executor run/CPU time. Wall time on this sandbox swings 4×
  * between runs; shuffle bytes and task counts are deterministic, so
  * before/after optimization claims are checked against these. Usage:
  *   runMain graft.tools.Shuffles <q1,q2,...> [sfDir]
  * With SHUFFLES_PER_JOB=1, additionally prints one line per Spark job
  * (shuffle read/write bytes, tasks) — the per-round evidence for
  * iterative queries (LPA/BFS): a removed per-round exchange shows up as
  * the round jobs' shuffle bytes dropping from |adjacency| to |labels|.
  */
object Shuffles {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val perJob = sys.env.get("SHUFFLES_PER_JOB").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val tasks = new AtomicLong(0L)
    val jobs = new AtomicLong(0L)
    val runMs = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    // per-job breakdown (stageId → jobId from job-start; task metrics
    // accumulated per job) — printed only under SHUFFLES_PER_JOB=1
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    case class JobAgg(w: AtomicLong = new AtomicLong, r: AtomicLong = new AtomicLong,
      t: AtomicLong = new AtomicLong)
    val byJob = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          runMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          val jid = stageToJob.getOrDefault(t.stageId, -1)
          val agg = byJob.computeIfAbsent(jid, _ => JobAgg())
          agg.w.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          agg.r.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          agg.t.incrementAndGet()
        }
        tasks.incrementAndGet()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
    Thread.sleep(500)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      Seq(shufWrite, shufRead, tasks, jobs, runMs, cpuNs).foreach(_.set(0L))
      byJob.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a beat to drain before reading
      Thread.sleep(800)
      println(f"[shuffles] $name rows=$n wall=$wall%.2f jobs=${jobs.get} " +
        f"tasks=${tasks.get} shufWriteMB=${shufWrite.get / 1e6}%.1f " +
        f"shufReadMB=${shufRead.get / 1e6}%.1f runTimeS=${runMs.get / 1e3}%.1f " +
        f"cpuS=${cpuNs.get / 1e9}%.1f")
      if (perJob) {
        import scala.jdk.CollectionConverters._
        byJob.asScala.toSeq.sortBy(_._1).foreach { case (jid, a) =>
          println(f"[shuffles]   $name job=$jid tasks=${a.t.get} " +
            f"shufWriteMB=${a.w.get / 1e6}%.3f shufReadMB=${a.r.get / 1e6}%.3f")
        }
      }
    }
    spark.stop()
  }
}
