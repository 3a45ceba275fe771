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
}
