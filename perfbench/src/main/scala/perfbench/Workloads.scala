package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.SparkEntry
import graft.actuarial.Actuarial

/** One closed-loop operation: `call` is the timed call into the program;
  * the client then materializes every output column with `collect()`.
  * `kind` is "read" or "commit"; `layer` names the module the call enters.
  */
final case class Op(name: String, kind: String, layer: String, call: SparkSession => DataFrame)

/** A workload: its set-up calls and the op list of one pass. A run's
  * measured phase is a fixed number of whole passes: the run's seconds
  * divided by `nominalPassS`, the pass time on 4 cores when the workload
  * was defined, so every run measures the same op mix for about the
  * requested time.
  */
abstract class Workload(val input: String, val work: String, val seed: Long) {
  def nominalPassS: Double
  /** Untimed passes between the last set-up and the measured phase. */
  def settlePasses: Int = 0
  /** Set-up calls into the program after the session is built. `round`
    * numbers the repeated set-ups of one run; each uses fresh tables.
    */
  def setup(spark: SparkSession, round: Int): Unit = ()
  def teardown(spark: SparkSession, round: Int): Unit = ()
  def pass(spark: SparkSession, passNo: Int): Seq[Op]
  /** Whether every read op gets a run-log commit after the read phase. */
  def logsRuns: Boolean = true
  def tableDirs: Seq[String] = Nil
}

object Workload {
  def apply(name: String, input: String, work: String, seed: Long): Workload = name match {
    case "reserve_mc" => new ReserveMc(input, work, seed)
    case "near_dup" => new NearDup(input, work, seed)
    case "lakehouse_dml" => new LakehouseDml(input, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The `SparkEntry.queries` entry whose key starts with `prefix`_, as an op. */
  def queryOp(prefix: String, input: String): Op =
    SparkEntry.queries.collectFirst { case (k, fn) if k.startsWith(prefix + "_") =>
      Op(k, "read", "ops.call", s => fn(s, input))
    }.getOrElse(throw new IllegalArgumentException(s"no query $prefix"))
}

/** The paper's pipeline: scan the policy CSVs, run the per-row stochastic
  * explode, gather SUM of per-type averages. One op is one reserve job.
  */
final class ReserveMc(input: String, work: String, seed: Long) extends Workload(input, work, seed) {
  val nominalPassS = 0.8
  override val settlePasses = 6
  val nSims = 10000
  /** The run's seed drives every job, so jobs after the first reuse its
    * generated code, as reruns of one reserve run do.
    */
  private def job(s: SparkSession, sims: Int): DataFrame = {
    val p = Actuarial.readPolicies(s, s"$input/policies").toDF()
    Actuarial.simulateReserves(p, sims, seed).agg(sum("mc_reserves").as("reserve"))
  }
  /** Warm-up: one job at a tenth of the trials. */
  override def setup(spark: SparkSession, round: Int): Unit = {
    job(spark, nSims / 10).collect(); ()
  }
  override def pass(spark: SparkSession, passNo: Int): Seq[Op] =
    Seq(Op("reserve_job", "read", "actuarial.call", job(_, nSims)))
}

/** A curation pass over a corpus with planted near-duplicates. The memo
  * cache is invalidated once per pass, so the pair-index build is paid
  * once per pass and shared by the ops after it, as in a user's run.
  */
final class NearDup(input: String, work: String, seed: Long) extends Workload(input, work, seed) {
  val nominalPassS = 2.2
  override val settlePasses = 1
  val names: Seq[String] = Seq("q41", "q135", "q149", "q127")
  /** Warm-up: one pass, so the measured passes run compiled plans. */
  override def setup(spark: SparkSession, round: Int): Unit =
    pass(spark, 0).foreach(_.call(spark).collect())
  override def pass(spark: SparkSession, passNo: Int): Seq[Op] = {
    graft.SessionCache.invalidate(spark)
    names.map(Workload.queryOp(_, input))
  }
}

/** One seeded statement stream against a merge-on-read digest table and a
  * declared-schema evolve table. `statements.tsv` holds, per statement,
  * its kind and the SQL for each flavor (`-` where the flavor does not
  * support it), with `{T}` for the table name. The first statement is the
  * initial load, run in set-up.
  */
final class LakehouseDml(input: String, work: String, seed: Long) extends Workload(input, work, seed) {
  val nominalPassS = 2.0
  private val stmts: Vector[Array[String]] = {
    val src = scala.io.Source.fromFile(s"$input/statements.tsv")
    try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
  }
  val flavors: Seq[String] = Seq("digest", "evolve")
  private var round = 0
  private def sql(spark: SparkSession, s: String): Unit = { spark.sql(s).collect(); () }
  private def tableDir(name: String, r: Int): String = s"$work/tables/${name}_r$r"
  def table(flavor: String, r: Int = round): String = s"graft.ns.dml_${flavor}_r$r"
  override def logsRuns: Boolean = false
  override def tableDirs: Seq[String] = flavors.map(f => tableDir(s"dml_$f", round))

  private def ddl(flavor: String, r: Int): String = {
    val props = flavor match {
      case "digest" => s"USING graft_digest TBLPROPERTIES ('path'='${tableDir("dml_digest", r)}', 'delta'='true')"
      case "evolve" => s"USING graft_evolve TBLPROPERTIES ('path'='${tableDir("dml_evolve", r)}')"
    }
    s"CREATE TABLE ${table(flavor, r)} (doc_id BIGINT, lang STRING, n_chars BIGINT) $props"
  }

  private def render(stmt: Array[String], flavor: String, r: Int): Option[String] = {
    val s = stmt(if (flavor == "digest") 1 else 2)
    if (s == "-") None
    else Some(s.replace("{T}", table(flavor, r)).replace("{S}", table(flavor, r).stripPrefix("graft.")))
  }

  /** DDL, the initial load, and the first compaction cycle as warm-up;
    * the measured passes continue the stream from the second cycle.
    */
  override def setup(spark: SparkSession, r: Int): Unit = {
    round = r
    flavors.foreach { f =>
      sql(spark, ddl(f, r))
      render(stmts(0), f, r).foreach(sql(spark, _))
    }
    cycles(0).foreach { case (st, _) => flavors.foreach(f => render(st, f, r).foreach(sql(spark, _))) }
  }

  override def teardown(spark: SparkSession, r: Int): Unit =
    flavors.foreach(f => sql(spark, s"DROP TABLE ${table(f, r)}"))

  /** Statements after the initial load, cut into compaction cycles: a
    * pass ends with the digest table's compaction.
    */
  private lazy val cycles: Vector[Vector[(Array[String], Int)]] = {
    val body = stmts.zipWithIndex.drop(1)
    val cuts = body.zipWithIndex.collect { case ((st, _), j) if st(0) == "compact" => j + 1 }
    (0 +: cuts).zip(cuts :+ body.size).map { case (a, b) => body.slice(a, b) }
      .filter(_.nonEmpty).toVector
  }

  override def pass(spark: SparkSession, passNo: Int): Seq[Op] =
    cycles.lift(passNo + 1).getOrElse(Vector.empty).flatMap { case (st, k) =>
      val kind = if (Set("insert", "merge", "delete", "compact")(st(0))) "commit" else "read"
      flavors.flatMap(f => render(st, f, round).map(q =>
        Op(s"$f.${st(0)}#$k", kind, "sources.sql", s => s.sql(q))))
    }

  /** Re-registers both tables in a fresh session under another catalog
    * name and reads them back from their paths.
    */
  def readBack(spark: SparkSession): Map[String, Array[org.apache.spark.sql.Row]] = {
    spark.conf.set("spark.sql.catalog.graft_check", "graft.sources.GraftCatalog")
    flavors.map { f =>
      val t = s"graft_check.ns.dml_$f"
      sql(spark, ddl(f, round).replace(table(f, round), t))
      f -> spark.sql(s"SELECT doc_id, lang, n_chars FROM $t").collect()
    }.toMap
  }
}
