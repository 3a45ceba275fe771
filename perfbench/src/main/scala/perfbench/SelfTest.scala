package perfbench

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Self-test of the materialization guard, on the plans Spark reports for
  * the actions that actually ran: the ops' timed action (`Main.materialize`)
  * outputs every column, and the plan `count()` runs instead is caught.
  */
object SelfTest {
  def run(): Unit = {
    val work = Files.createTempDirectory(java.nio.file.Paths.get("."), "selftest").toString
    val spark = Main.session(2, work)
    try {
      val seen = new LinkedBlockingQueue[QueryExecution]()
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      def ran(action: => Any): QueryExecution = {
        seen.clear()
        action
        Option(seen.poll(60, TimeUnit.SECONDS)).getOrElse(sys.error("no action was reported"))
      }
      val df = spark.range(1000)
        .selectExpr("id", "id * 2 AS twice", "sha2(cast(id AS string), 256) AS h")
      require(Main.materializesAll(df, ran(Main.materialize(df))),
        "the ops' timed action must pass the materialization guard")
      val counted = ran(df.count())
      require(!Main.materializesAll(df, counted),
        "the plan count() runs prunes columns and must fail the guard")
      val pruned = counted.executedPlan.toString
      require(!pruned.contains("sha2"),
        s"expected count() to prune the projection the guard protects:\n$pruned")
      println("selftest: materialization guard ok")
    } finally spark.stop()
  }
}
