package graft

/** Session configuration has one owner per decision: `Bench.session`
  * registers the `graft` catalog for every session of the JVM, and
  * `Tables.withConf` is the one scope a query sets conf through. No query
  * may leave a process-visible conf change behind.
  */
class SessionConfSpec extends SparkSpec {

  test("withConf restores a prior value and unsets an absent key, on return and on throw") {
    val present = "graft.spec.present"
    val absent = "graft.spec.absent"
    spark.conf.set(present, "before")
    try {
      val seen = Tables.withConf(spark, present -> "during", absent -> "during") {
        (spark.conf.get(present), spark.conf.get(absent))
      }
      assert(seen == ("during", "during"))
      assert(spark.conf.get(present) == "before")
      assert(spark.conf.getOption(absent).isEmpty)

      val boom = intercept[IllegalStateException] {
        Tables.withConf(spark, present -> "during", absent -> "during") {
          throw new IllegalStateException("boom")
        }
      }
      assert(boom.getMessage == "boom")
      assert(spark.conf.get(present) == "before")
      assert(spark.conf.getOption(absent).isEmpty)
    } finally spark.conf.unset(present)
  }

  test("withConf does not pin a registered default the session never set") {
    val key = "spark.sql.cbo.enabled"
    assert(!spark.conf.getAll.contains(key), s"$key is set on the spec session")
    Tables.withConf(spark, key -> "true")(())
    assert(!spark.conf.getAll.contains(key),
      s"$key is pinned to ${spark.conf.getAll.get(key)} after the scope")
  }

  test("a new session already names the graft catalog, and q185 leaves its conf alone") {
    val fresh = spark.newSession()
    assert(fresh.conf.getOption("spark.sql.catalog.graft")
      .contains("graft.sources.GraftCatalog"))
    val before = fresh.conf.getAll
    SparkEntry.queries("q185_catalog_table")(fresh, sf).collect()
    assert(fresh.conf.getAll == before)
  }

  test("the queries that scope conf leave the session's conf as they found it") {
    def diff(a: Map[String, String], b: Map[String, String]): Set[String] =
      (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    val keys = Seq("q177_aqe_skew_join", "q179_runtime_bloom_join",
      "q238_storage_partitioned_join", "q239_ordered_spj_join", "q245_scan_metrics",
      "q248_join_pushdown", "q249_variant_shredding", "q258_zone_broadcast")
    keys.foreach { q =>
      val before = spark.conf.getAll
      SparkEntry.queries(q)(spark, sf).collect()
      val changed = diff(before, spark.conf.getAll)
      assert(changed.isEmpty, s"$q changed session conf keys $changed")
    }
    Seq(false, true).foreach { cbo =>
      val before = spark.conf.getAll
      ops.Analytics.q178Under(spark, sf, cbo, execute = true)
      val changed = diff(before, spark.conf.getAll)
      assert(changed.isEmpty, s"q178Under(cbo=$cbo) changed session conf keys $changed")
    }
  }

  test("q238, q239 and q248 return the rows of the plan they prove, not a lazy re-plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val aqe = new AdaptiveSparkPlanHelper {}
    def joins(plan: SparkPlan): Seq[SparkPlan] = aqe.collect(plan) { case j: BaseJoinExec => j }
    // re-plan each returned frame the way Verify and Bench do, outside the
    // query's conf scope
    def replanned(q: String): SparkPlan = {
      val df = SparkEntry.queries(q)(spark, sf).coalesce(1)
      df.collect()
      df.queryExecution.executedPlan
    }
    val pushed = replanned("q248_join_pushdown")
    assert(joins(pushed).isEmpty, s"q248: a join survives the re-plan:\n$pushed")
    Seq("q238_storage_partitioned_join", "q239_ordered_spj_join").foreach { q =>
      val plan = replanned(q)
      joins(plan).foreach { j =>
        assert(aqe.collect(j) { case e: Exchange => e }.isEmpty,
          s"$q: the re-planned join exchanges its input:\n$plan")
      }
    }
  }
}
