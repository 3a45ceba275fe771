package graft

/** Plan-shape regression specs: the physical plans the engine is designed
  * to produce (pushdown, broadcast dims, top-k without global sort, no
  * accidental cartesian products) must not silently regress.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The inverted-index pair build q41 (and q135/q149) read through the
    * shared memo — its locks read the plan that runs the build.
    */
  private def pairBuildPlan: String =
    ops.Dedup.pairCounts(spark, sf).queryExecution.executedPlan.toString

  /** Slice of the plan strictly below a Window EXEC node (its children).
    * Anchors on the operator line `Window [` — a bare "Window" substring
    * also matches WindowGroupLimit and window-spec text, which would start
    * the slice at the wrong token and weaken below-the-window assertions.
    * `first` = slice below the first (topmost) Window; otherwise below the
    * last (bottom-most) one.
    */
  private def belowWindowExec(plan: String, first: Boolean = false): String = {
    val parts = plan.split("Window \\[")
    assert(parts.length > 1, "expected a Window operator in the plan")
    if (first) parts.drop(1).mkString("Window [") else parts.last
  }

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q2: all predicates pushed, projection pruned") {
    val p = planOf("q2_filter_project")
    // plan strings truncate long PushedFilters lists — check the data
    // filters (same predicates, attribute-id suffixed) instead
    assert(p.contains("> 0.05)") && p.contains("< 25.0)")
      && p.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate"), p.take(2000))
    assert(!p.contains("l_partkey"), "scan must not read unprojected columns")
  }

  test("q3/q4: dimension sides are broadcast, top-k avoids a global sort") {
    assert(planOf("q3_top_revenue").contains("TakeOrderedAndProject"))
    assert(planOf("q4_region_agg").contains("BroadcastHashJoin"))
  }

  test("q12: global top-k is TakeOrderedAndProject") {
    assert(planOf("q12_top_k").contains("TakeOrderedAndProject"))
  }

  test("no dedup/similarity query degenerates to a cartesian product") {
    // q55 is excluded from the NLJ check: its query→centroid routing is an
    // intentional broadcast cross against ~|cells| rows. q41 and q127 read
    // materialized pair relations, so theirs are the plans of the builds.
    val plans = Seq(
      "q41_ngram_jaccard" -> pairBuildPlan,
      "q127_winnowing" ->
        ops.Dedup.winnowPairs(spark, sf).queryExecution.executedPlan.toString) ++
      Seq("q42_minhash_lsh", "q43_simhash", "q52_ann_lsh", "q53_embed_dedup")
        .map(q => q -> planOf(q))
    plans.foreach { case (q, p) =>
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    assert(!planOf("q55_ivf_ann").contains("CartesianProduct"))
  }

  test("q41: serves from the shared checkpointed pair memo, not its own join") {
    // q41 runs first in a curation pass, so it pays the one memo build
    // inside its call; the plan it returns reads the checkpointed leaf
    val p = planOf("q41_ngram_jaccard")
    assert(p.contains("Scan ExistingRDD"),
      "q41 must read the checkpointed pair memo, not rebuild the join")
    assert(!p.contains("Join"), "q41 must be join-free")
  }

  test("q127: the output sort reads the materialized pair relation") {
    // a range sort straight over the join → aggregate pipeline runs the
    // whole fingerprint self-join twice: once in the range partitioner's
    // sampling job, once in the sort's shuffle
    val p = planOf("q127_winnowing")
    assert(p.contains("Scan ExistingRDD"),
      "q127's sort must read a materialized leaf")
    assert(!p.contains("Join"), "q127's sort must not re-run the self-join")
  }

  test("q135: serves from the shared checkpointed pair memo, not its own join") {
    // the actual invariant after the shared-memo refactor: q135's plan is
    // a checkpoint-leaf scan (the one expensive inverted-index build is
    // paid once, by the memo; the build's own plan keeps that join locked)
    val p = planOf("q135_containment")
    assert(p.contains("Scan ExistingRDD"),
      "q135 must read the checkpointed pair memo, not rebuild the join")
  }

  test("q149: the leakage audit serves from the shared pair memo, join-free") {
    // split labels are md5 expressions of the pair ids, so the whole audit
    // must be a scan of the checkpointed memo leaf — any join means it
    // rebuilt the inverted index or fetched splits from the corpus
    val p = planOf("q149_split_leakage")
    assert(p.contains("Scan ExistingRDD"),
      "q149 must read the checkpointed pair memo, not rebuild the join")
    assert(!p.contains("Join"), "q149 must be join-free")
  }

  test("q47: the bucketed join needs no exchange on either side") {
    // both sides bucketed+sorted on the join key → the only exchanges in
    // the plan belong to the FINAL agg/sort, never to the join inputs.
    // Unbucketed, this plan carries two extra hashpartitioning exchanges
    // (one per join side).
    val p = planOf("q47_bucketed_join")
    val joinSide = p.split("SortMergeJoin|ShuffledHashJoin")
    assert(joinSide.length > 1, "expected a non-broadcast equi join")
    // everything below the join operator (its children) must be
    // exchange-free; plan strings indent children after the join node
    val belowJoin = joinSide.last
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      "bucketed join sides must not reshuffle")
  }

  test("q76: the custom per-group top-k physical operator is planned") {
    // no Window/Sort-of-everything: the injected TopKStrategy must map the
    // logical node to TopKPerGroupExec (bounded heap state per group)
    val p = planOf("q76_topk_custom")
    assert(p.contains("TopKPerGroup"), "custom operator not planned")
    assert(!p.contains("Window"), "must not fall back to a window sort")
  }

  test("q49: the scan prunes to the selected partition directory") {
    val p = planOf("q49_partition_pruning")
    assert(p.contains("PartitionFilters") && p.contains("o_orderstatus"),
      "status filter must prune partitions, not scan rows")
  }

  test("curation and chunking stay free of degenerate joins") {
    Seq("q45_curate_corpus", "q46_chunk_documents").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q41: stop-shingle df is a partial-agg groupBy, not a window") {
    // A COUNT window over partitionBy(shingle) ships every occurrence of a
    // hot shingle to one task before the df filter can drop it — the exact
    // skew the filter defends against. The de-skewed plan computes df with
    // a (map-side partial) HashAggregate and anti-joins the tiny hot list.
    val p = pairBuildPlan
    assert(!p.contains("Window"), "df must not be computed as a window")
    assert(p.contains("HashAggregate"), "df needs a partial hash aggregate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "hot stop-shingles must be broadcast-anti-joined away")
  }

  test("q42: no corpus-derived relation is forced broadcast") {
    // candDocs/cand grow with the corpus; an explicit broadcast() hint
    // would OOM at scale and blocks AQE's shuffle-join fallback. (AQE may
    // still choose a broadcast at runtime from actual sizes — that's fine
    // and invisible in this pre-execution plan string.)
    val p = planOf("q42_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q77: the eval shingle set is AQE-decided, never hint-forced broadcast") {
    // the eval set is small TODAY, but a broadcast() hint would hard-code
    // that assumption and block AQE's shuffle fallback if a benchmark
    // suite ever grows; the hint marker must not appear in the plan
    val df = SparkEntry.queries("q77_decontaminate")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"), "eval-set join is hint-forced")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q79: the packing window is per-shard, never a global token stream") {
    // a window without the source partition key serializes the whole
    // corpus's running offset into ONE task — the packing anti-pattern
    val p = planOf("q79_pack_sequences")
    assert(p.contains("windowspecdefinition(source"),
      "running offset must partition by source")
  }

  test("q80/q84: per-stratum rank windows need no global sort below them") {
    // the only global Sort allowed is the bounded final output ordering
    // ABOVE the window; below it, sorts are per-partition (global=false)
    Seq("q80_stratified_sample", "q84_weighted_sample").foreach { q =>
      val below = belowWindowExec(planOf(q), first = true)
      assert(!below.contains("], true, "), s"$q: global sort below the rank window")
    }
  }

  test("q89/q90: merge is a keyed full-outer, SCD2 windows are per-user") {
    val merge = planOf("q89_merge_upsert")
    assert(!merge.contains("CartesianProduct") && !merge.contains("BroadcastNestedLoopJoin"),
      "merge must stay a keyed join")
    val scd2 = planOf("q90_scd2_intervals")
    assert(scd2.contains("windowspecdefinition(user_id"),
      "SCD2 windows must partition by the dimension key")
    val belowWindow = belowWindowExec(scd2, first = true)
    assert(!belowWindow.contains("], true, "), "global sort below the SCD2 windows")
  }

  test("q91: the HOF composition is rewritten to the codegen DotProduct") {
    // RewriteDotProduct must fire on the real query — the user writes
    // zip_with+aggregate, the plan runs the native expression
    val p = planOf("q91_hof_cosine")
    assert(p.contains("dotproduct("),
      "optimizer rule did not rewrite the HOF composition")
    assert(!p.contains("zip_with"), "interpreted HOF survived in the plan")
  }

  test("q92: the bloom probe is a narrow filter below the exact semi join") {
    val p = planOf("q92_bloom_prefilter")
    assert(p.contains("might_contain"), "bloom prefilter missing from the plan")
    // the filter must sit on the feed side BELOW the join: everything
    // after the join operator (its children) includes the probe filter
    val below = p.split("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin").last
    assert(below.contains("might_contain"), "bloom probe must run before the join")
  }

  test("q83: incremental dedup joins stay indexed, hot shingles pruned") {
    val p = planOf("q83_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftAnti"), "stop-shingle anti-join missing")
  }

  test("q98/q101: blocked edit-distance and salted join stay equi-joins") {
    // both queries exist to demonstrate bounded join shapes — a cartesian
    // or nested-loop fallback would defeat their 100 TB point
    Seq("q98_edit_distance", "q101_salted_join").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q98: the block key carries the MinHash sub-band") {
    // the widened key is the 100 TB bound: without `sub` in the candidate
    // join, (lang, length-band) blocks grow linearly with the corpus and
    // pair count quadratically. The key must reach the join itself, not
    // just exist as a column.
    val p = planOf("q98_edit_distance")
    val joined = p.split("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin")
    assert(joined.length > 1, "expected an equi join in the q98 plan")
    assert(p.contains("sub#"), "MinHash sub-band column missing from the plan")
    // the candidate join's key list mentions lang, band, j and sub together
    assert("\\[(lang|band|j|sub)#\\d+L?(, (lang|band|j|sub)#\\d+L?){3}\\]".r
        .findFirstIn(p).isDefined,
      "candidate join must key on (lang, band, j, sub)")
  }

  test("q130/q131: snapshot diff and view maintenance stay keyed joins") {
    // the diff must be ONE full-outer equi join on the key; the view fold
    // must touch only the changelog + the view — a cartesian or
    // nested-loop anywhere defeats the incremental point
    Seq("q130_snapshot_diff", "q131_incremental_view").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
      assert(p.contains("FullOuter"), s"$q lost its full-outer merge shape")
    }
  }

  test("q125: the predicate is pushed into the JDBC source") {
    // the n_chars filter must travel into the remote WHERE clause — a
    // JDBC scan that ships the whole table and filters in Spark defeats
    // the source; the scan must also be range-partitioned (4 concurrent
    // stride queries), not one connection
    val p = planOf("q125_jdbc_roundtrip").toLowerCase
    assert(p.contains("pushedfilters") && p.contains("greaterthan(n_chars"),
      "n_chars predicate not pushed to the JDBC scan")
    assert(p.contains("numpartitions=4"),
      "JDBC read must be range-partitioned")
  }

  test("q96: the range window needs exactly one exchange (by user)") {
    // a value-range frame must not change the window's shuffle shape:
    // one hashpartitioning exchange on user_id below the window, and the
    // window sort is per-partition (no global Sort before the final
    // orderBy's range exchange)
    val p = planOf("q96_range_window")
    val belowWindow = belowWindowExec(p)
    assert(belowWindow.split("Exchange hashpartitioning").length <= 2,
      "window input should carry at most the single user_id exchange")
  }

  test("q102: the analytic suite shares one window shuffle") {
    // ntile/percent_rank/cume_dist/lag/lead may split into several Window
    // execs (different frame classes) but must all reuse the SINGLE
    // hashpartitioning exchange on o_custkey — adding analytic columns
    // must never add exchanges
    val p = planOf("q102_window_suite")
    assert(p.split("Exchange hashpartitioning").length == 2,
      "expected exactly one hash exchange feeding the window suite")
  }

  test("q103: heavy hitters confirm by semi join, sketch in the plan") {
    val p = planOf("q103_heavy_hitters")
    assert(p.toLowerCase.contains("misragries"), "MG sketch aggregate not planned")
    assert(p.contains("LeftSemi"), "candidate prune must be a left-semi join")
  }

  test("q104: keyword search ends in a bounded top-k, filter before agg") {
    val p = planOf("q104_keyword_search")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(p.contains("tok#") && p.contains("INSET") || p.contains("tok#"),
      "query-term filter missing")
  }

  test("q105: the compaction offset window is per-source") {
    val p = planOf("q105_compaction_plan")
    assert(p.contains("windowspecdefinition(source"),
      "running offset must partition by source, never a global stream")
  }

  test("q107: the wedge join never degenerates to a cartesian product") {
    // the one-row stat combiner is a broadcast nested-loop BY DESIGN
    // (scalar-subquery shape); the edge/wedge joins must stay keyed
    assert(!planOf("q107_triangle_count").contains("CartesianProduct"))
  }

  test("q113: the winner-pick window partitions by segment text") {
    // corpus-wide segment dedup must shuffle ON THE SEGMENT KEY (content-
    // partitioned, unbounded parallelism) — a global window or a self-join
    // here would serialize or square the corpus
    val p = planOf("q113_paragraph_dedup")
    assert(p.contains("windowspecdefinition(seg_text"),
      "winner pick must partition by the segment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q114/q118: curation scoring stays a narrow map (no joins)") {
    // both are per-row transforms + (for q114) one keyed agg: any join in
    // these plans means the synthetic decoration leaked a shuffle
    Seq("q114_url_normalize", "q118_quality_classifier").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q must not join")
    }
    // q118 in particular needs no hash exchange at all — the model weights
    // ride as plan literals; only the output sort repartitions
    assert(!planOf("q118_quality_classifier").contains("Exchange hashpartitioning"),
      "q118 must be shuffle-free up to the output sort")
  }

  test("q116: the eval-gram join stays keyed, never a cross") {
    val p = planOf("q116_substring_contam")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "train grams must join eval grams on the gram key")
  }

  test("q117: both CDC windows share one user_id exchange") {
    // latest-pick row_number and the per-key change count partition
    // identically — adding the count column must not add a shuffle
    val p = planOf("q117_cdc_apply")
    assert(p.contains("windowspecdefinition(user_id"))
    assert(p.split("Exchange hashpartitioning").length == 2,
      "expected exactly one hash exchange feeding both CDC windows")
  }

  test("q120: the quantile window runs over the reduced key relation") {
    // the rank-pick must consume the |keys|-row groupBy output, never the
    // raw fact rows — the aggregate has to sit BELOW the window
    val p = planOf("q120_skew_profile")
    val below = belowWindowExec(p)
    assert(below.contains("HashAggregate"),
      "key-count aggregate must reduce the input before the window")
  }

  test("q121/q122: PQ codebook and LUT are the provably-small broadcasts") {
    // codebook (k·m = 128 rows) and ADC LUT (same bound) are
    // corpus-independent by construction, so broadcasting them is safe;
    // the corpus side must never cross-join, and the ADC top-10 must be a
    // bounded TakeOrderedAndProject, not a global sort
    Seq("q121_pq_codes", "q122_pq_adc").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: codebook/LUT join must broadcast")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a cross")
    }
    assert(planOf("q122_pq_adc").contains("TakeOrderedAndProject"),
      "ADC top-k must not be a global sort")
  }

  test("q137: the serve path scans the index parquet, not the corpus") {
    // the entire point of the persisted index: after the one-time build,
    // a search reads the staged artifacts (pq_codebook + pq_codes) and
    // touches the embeddings table ONLY for the one-row query vector
    // (pushed-down vec_id = 0) — never a corpus rescan
    val p = planOf("q137_ann_index_serve")
    assert(p.contains("graft_staged_"),
      "serve plan must scan the staged index artifacts")
    val scans = p.split("Scan parquet|FileScan parquet").drop(1)
    val embScans = scans.filter(_.contains("embeddings"))
    assert(embScans.length == 1,
      s"expected exactly one embeddings scan (the query vector), got ${embScans.length}")
    assert(embScans.head.contains("EqualTo(vec_id,0)"),
      "query-vector scan must push vec_id = 0 down to the reader")
  }

  test("q140: the z-ordered layout prunes decoded rows on BOTH dimensions") {
    // the write-side proof behind q106's key computation: after
    // repartitionByRange(zval) + local sort, a predicate on EITHER
    // clustered column must reach the parquet reader (PushedFilters) and
    // the reader must skip most row groups via footer min/max — decoded
    // rows (the scan's numOutputRows) land well under the full table. A
    // single-column sort prunes one dimension perfectly and the other not
    // at all; z-order buys partial pruning on both.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val zpath = ops.Analytics.zorderDir(spark, sf).resolve("customer_z").toString
    val total = spark.read.parquet(zpath).count()
    def decodedRows(c: org.apache.spark.sql.Column, pushed: String): Long = {
      val df = spark.read.parquet(zpath).filter(c)
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.toString.contains(s"EqualTo($pushed,"),
        s"$pushed predicate must be pushed to the parquet reader")
      val scan = plan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec in the q140 probe plan"))
      scan.metrics("numOutputRows").value
    }
    val byNation = decodedRows(col("nation") === 7, "nation")
    val byBal = decodedRows(col("bal_bucket") === 12L, "bal_bucket")
    assert(byNation * 5 <= total * 2,
      s"nation=7 decoded $byNation of $total rows — no row-group pruning")
    assert(byBal * 5 <= total * 2,
      s"bal_bucket=12 decoded $byBal of $total rows — no row-group pruning")
  }

  test("q141: the IVFPQ serve scans index artifacts; corpus reads are query-vector only") {
    // the composed serve path (route → probe → ADC) must run off the
    // persisted index: every embeddings scan is the one-row query vector
    // (pushed vec_id = 0), never a corpus rescan — the postings, codes,
    // and codebook all come from the staged parquet
    val p = planOf("q141_ivfpq_serve")
    assert(p.contains("graft_staged_"), "serve must read the staged index")
    val embScans = p.split("Scan parquet|FileScan parquet").drop(1)
      .filter(_.contains("embeddings"))
    assert(embScans.nonEmpty, "expected the query-vector read")
    embScans.foreach(sc =>
      assert(sc.contains("EqualTo(vec_id,0)"),
        "an embeddings scan without the query-vector pushdown: corpus rescan"))
    assert(p.contains("TakeOrderedAndProject"), "ADC top-k must stay bounded")
  }

  test("q144: batched serve reads the query slice only; per-query state is broadcast") {
    // the batch claim: corpus cost is paid once through the staged index
    // (postings/codes/codebook), and every per-query structure (probe set,
    // LUT) is a bounded broadcast — embeddings scans are the 50-row query
    // slice (pushed vec_id < 50), and the per-query top-10 is rank-limited
    // inside the window (WindowGroupLimit), never a global sort
    val p = planOf("q144_batched_ivfpq_serve")
    assert(p.contains("graft_staged_"), "serve must read the staged index")
    val embScans = p.split("Scan parquet|FileScan parquet").drop(1)
      .filter(_.contains("embeddings"))
    assert(embScans.nonEmpty, "expected the query-slice reads")
    embScans.foreach(sc =>
      assert(sc.contains("LessThan(vec_id,50)"),
        "an embeddings scan without the query-slice pushdown: corpus rescan"))
    assert(p.contains("BroadcastHashJoin"),
      "probe set and LUT must broadcast against the index scans")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-10 must be group-limited, not fully sorted")
    assert(!p.contains("CartesianProduct"), "q144 has a cartesian product")
  }

  test("q145: the corpus prefix sum is sharded, never a single global window") {
    // the scale claim: the per-doc running offset windows PARTITIONED BY
    // shard (parallel across shards); the only unpartitioned window runs
    // over the |shards|-row aggregate, whose base offsets come back via a
    // broadcast join — a global `SUM OVER (ORDER BY doc_id)` of the whole
    // corpus would show as a window partitioned on nothing over the scan
    val p = planOf("q145_pack_blocks")
    assert("""\[shard#\d+""".r.findFirstIn(
      belowWindowExec(p, first = true)).isDefined
      || """windowspecdefinition\(shard#""".r.findFirstIn(p).isDefined,
      "per-doc cumsum must partition by shard")
    assert(p.contains("BroadcastHashJoin"),
      "shard base offsets must broadcast back onto the docs")
    assert(!p.contains("CartesianProduct"), "q145 has a cartesian product")
  }

  test("q156: permutation positions rank within hash buckets, never globally") {
    // same scale claim as q145: the per-block rank windows PARTITIONED BY
    // the hash-prefix bucket; bucket bases come back via broadcast join
    val p = planOf("q156_epoch_shuffle")
    assert("""windowspecdefinition\(bkt#""".r.findFirstIn(p).isDefined
      || """\[bkt#\d+L?\], \[h#""".r.findFirstIn(p).isDefined,
      "per-block rank must partition by the hash bucket")
    assert(p.contains("BroadcastHashJoin"),
      "bucket base offsets must broadcast back onto the blocks")
    assert(!p.contains("CartesianProduct"), "q156 has a cartesian product")
  }

  test("q161: the skyline sweep over the scan partitions by shard") {
    // phase 1's dominance sweep must run per shard (parallel); only the
    // phase-2 re-sweep over the shard frontiers — a candidate set sized
    // O(frontier × shards), not O(rows) — may use an unpartitioned window
    val p = planOf("q161_skyline")
    assert("""windowspecdefinition\(shard#""".r.findFirstIn(p).isDefined,
      "phase-1 sweep must partition by shard")
    assert("""\[shard#\d+""".r.findFirstIn(belowWindowExec(p, first = false))
      .isDefined || belowWindowExec(p, first = false).contains("Scan parquet"),
      "the window adjacent to the scan must be the sharded one")
    assert(!p.contains("CartesianProduct"), "q161 has a cartesian product")
  }

  test("q163: V2 pushdown reaches the source — range narrowed, id pruned") {
    // the scan description is printed by BatchScan in the executed plan;
    // if Catalyst ever stops delivering the range predicates or the
    // column pruning, the served range/cols widen and this fails loudly
    val p = planOf("q163_dsv2_source")
    assert(p.contains("range=[1000,60000)"),
      s"filter pushdown did not narrow the source range:\n$p")
    assert(p.contains("cols=h,v"),
      s"column pruning did not drop the id column:\n$p")
    assert(!p.contains("pushed=[]"), "no filters were pushed at all")
    // the default read path is VECTORIZED: the scan must enter the query
    // through ColumnarToRow (the parquet-reader execution shape), not
    // per-row readers. The ColumnarToRow boundary only materializes in the
    // FINAL adaptive plan, so execute before inspecting.
    assert(p.contains("mode=columnar"),
      s"q163 scan did not take the columnar read path:\n$p")
    val df = SparkEntry.queries("q163_dsv2_source")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ColumnarToRow"),
      s"columnar scan did not surface a ColumnarToRow boundary:\n$executed")
  }

  test("q177: AQE OptimizeSkewedJoin splits the planted hot key at runtime") {
    import org.apache.spark.sql.functions._
    // q177 materializes inside its conf scope and keeps the FINAL adaptive
    // plan; the lock is on that executed plan: the sort-merge join must be
    // marked skew-handled (OptimizeSkewedJoin split the hot partition) —
    // if the thresholds or the skew planting rot, the marker disappears
    // and this fails loudly rather than the skew silently serializing on
    // one task
    val out = SparkEntry.queries("q177_aqe_skew_join")(spark, sf)
    val p = ops.Relational.lastSkewJoinPlan
    assert(p.contains("skew=true"),
      s"no skew-handled join in the final adaptive plan:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"q177 must exercise the sort-merge path (broadcast hides skew):\n$p")
    // equality with the MANUAL defense: the q101-style salted join over
    // the same planted-skew fact must produce the identical aggregate
    val nSalts = 8
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(expr("CASE WHEN l_orderkey % 10 < 6 THEN 7 ELSE l_orderkey END").as("jk"),
        col("l_extendedprice"), col("l_linenumber"))
      .withColumn("salt", pmod(xxhash64(col("jk"), col("l_linenumber")), lit(nSalts)).cast("int"))
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
    val salted = fact.join(dim,
        fact("jk") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg((sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")) * 100).cast("long")
        .as("price_cents"), count(lit(1)).as("n"))
    assert(out.exceptAll(salted).isEmpty && salted.exceptAll(out).isEmpty,
      "AQE skew join diverged from the hand-salted twin")
  }

  test("q181: aggregates fold into the V2 source — no data row materialized") {
    // the scan description must carry the pushed aggregate list AND the
    // closed-form answers must be exact (the oracle re-checks at sf0.01;
    // this pins the split-merge arithmetic at spec scale): slices serve
    // partial (count, min, max) rows and Spark's final merge reassembles
    // the global aggregate
    val df = SparkEntry.queries("q181_dsv2_agg_pushdown")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pushedAgg=[count,min_id,max_id]"),
      s"aggregates were not pushed into the source:\n$p")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (75000L, 2500L, 77499L),
      s"pushed-aggregate merge arithmetic wrong: $r")
  }

  test("q183: top-n folds into the V2 source and reported stats drive broadcast") {
    // (a) ORDER BY id LIMIT 20 must reach the scan (pushedLimit in the
    // description — no row beyond the prefix is built) and the result must
    // be exactly ids 5000..5019
    val df = SparkEntry.queries("q183_dsv2_topn")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pushedLimit=20"),
      s"top-n was not pushed into the source:\n$p")
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids == (5000L until 5020L), s"top-n result wrong: $ids")
    // (b) the scan REPORTS statistics, so a small narrowed connector scan
    // is sized as broadcastable with no ANALYZE step: joining a 500-row
    // seq relation to lineitem must broadcast the connector side
    import org.apache.spark.sql.functions.col
    val small = spark.read.format("graft.sources.SeqSource")
      .option("rows", "500").option("slices", "2").load()
      .select(col("id"), col("v"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select(col("l_orderkey"))
    val j = li.join(small, li("l_orderkey") === small("id"))
      .groupBy().count()
    j.collect()
    val jp = j.queryExecution.executedPlan.toString
    assert(jp.contains("BroadcastHashJoin"),
      s"reported statistics did not make the small V2 scan a broadcast side:\n$jp")
  }

  test("q182: the V2 scan receives a runtime join filter and narrows itself") {
    // the BatchScan line must list a dynamicpruning runtime filter (Spark
    // delivered the dim's key set to the scan), and the narrowed scan must
    // plan fewer input partitions than the full range would — proof the
    // envelope narrowing actually reached partition planning
    val df = SparkEntry.queries("q182_dsv2_runtime_filter")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("runtimefilters: [dynamicpruning"),
      s"no runtime filter was delivered to the V2 scan:\n$p")
    val r = df.collect().head
    // flagged ids: k∈{0,2,4,6,8} → ids 7, 16007, 32007, 48007, 64007
    assert(r.getLong(0) == 5L && r.getLong(2) == 7L && r.getLong(3) == 64007L,
      s"runtime-filtered join result wrong: $r")
  }

  test("q184: micro-batch offsets progress in admission-sized strides to the end") {
    import org.apache.spark.sql.functions._
    // drive the streaming connector directly with a pinned tag and assert
    // the offset PROGRESSION, not just the final answer: AvailableNow over
    // 5000 rows at 800/batch must PLAN strictly-increasing ends with
    // stride ≤ 800, across ⌈5000/800⌉ = 7 batches, landing exactly on 5000
    // — proof the admission control throttled each batch and the drain
    // terminated at the prepare-time target. The engine confirms each
    // batch when the next one starts, so committed = planned minus the
    // final batch (none follows it under AvailableNow).
    val rows = 5000L; val per = 800L
    val tag = "plan_spec_q184"
    sources.SeqStreamRegistry.clear(tag)
    val q = spark.readStream.format("graft.sources.SeqSource")
      .option("rows", rows.toString).option("slices", "3")
      .option("columnar", "false")
      .option("rowsPerBatch", per.toString).option("streamTag", tag)
      .load()
      .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .writeStream.outputMode("complete").format("memory").queryName(tag)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val plan = sources.SeqStreamRegistry.plannedOffsets(tag)
    val offs = sources.SeqStreamRegistry.committedOffsets(tag)
    sources.SeqStreamRegistry.clear(tag)
    assert(plan.size == 7, s"expected 7 planned micro-batches, got $plan")
    assert(plan == plan.sorted && plan.distinct == plan,
      s"planned ends must strictly increase: $plan")
    assert(plan.last == rows, s"drain must land exactly on $rows: $plan")
    val strides = (0L +: plan).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(strides.forall(s => s > 0 && s <= per),
      s"every stride must be in (0, $per]: $strides")
    assert(offs == plan.dropRight(1),
      s"engine-committed offsets must be the planned prefix: $offs vs $plan")
    // and the streamed complete-mode state equals the batch read — same
    // reader factory, different batching
    val r = spark.table(tag).collect().head
    val b = spark.read.format("graft.sources.SeqSource")
      .option("rows", rows.toString).option("slices", "3").load()
      .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == (b.getLong(0), b.getLong(1)),
      s"streamed drain diverged from batch read: streamed=$r batch=$b")
  }

  test("q185: catalog-qualified reads resolve through the V2 catalog with pushdown") {
    // (a) the read plan must carry the CATALOG-RESOLVED identifier (a V2
    // relation named graft.ns.seq100k), not a path-based relation, and the
    // pushdowns must survive the identifier route: range narrowed + id
    // kept only as needed
    val df = SparkEntry.queries("q185_catalog_table")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("range=[3000,90000)"),
      s"pushdown did not reach the catalog-resolved scan:\n$p")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft.ns.seq100k"),
      s"read did not resolve through the catalog identifier:\n$analyzed")
    // (b) DDL lifecycle against the catalog: create → list → rename → drop
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ns.scratch (id BIGINT) " +
      "USING graft_seq TBLPROPERTIES ('rows'='10')")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val ns = Array("ns")
    assert(cat.tableExists(Identifier.of(ns, "scratch")), "created table missing")
    assert(cat.listTables(ns).map(_.name()).contains("scratch"))
    // the RENAME target is parsed relative to the source's catalog — a
    // catalog-qualified target would read as a 2-level namespace
    spark.sql("ALTER TABLE graft.ns.scratch RENAME TO ns.scratch2")
    assert(!cat.tableExists(Identifier.of(ns, "scratch")) &&
      cat.tableExists(Identifier.of(ns, "scratch2")), "rename did not move the entry")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ns.scratch2")
      .collect().head.getLong(0) == 10L, "renamed table must stay readable")
    spark.sql("DROP TABLE graft.ns.scratch2")
    assert(!cat.tableExists(Identifier.of(ns, "scratch2")), "drop left the entry")
  }

  test("q203/q204: row-level SQL rewrites plan as ReplaceData; the non-RLO table refuses") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = java.nio.file.Files.createTempDirectory("graft_rlo_spec_")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ns.rlospec " +
      s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_digest " +
      s"TBLPROPERTIES ('path'='$d', 'rowlevel'='true')")
    import spark.implicits._
    Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("doc_id", "lang", "n_chars")
      .writeTo("graft.ns.rlospec").append()
    // (a) plan lock WITHOUT executing (commands run eagerly otherwise):
    // UPDATE must analyze to the group-based ReplaceData rewrite
    val parsed = spark.sessionState.sqlParser.parsePlan(
      "UPDATE graft.ns.rlospec SET n_chars = n_chars + 1 WHERE lang = 'de'")
    val qe = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], parsed,
      mode = org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
    val analyzed = qe.analyzed.toString
    assert(analyzed.contains("ReplaceData"),
      s"UPDATE did not rewrite to the group-based ReplaceData plan:\n$analyzed")
    // (b) executing it must carry the unmatched row through unchanged
    spark.sql("UPDATE graft.ns.rlospec SET n_chars = n_chars + 1 WHERE lang = 'de'")
    assert(spark.sql("SELECT lang, n_chars FROM graft.ns.rlospec ORDER BY doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("en", 10L), ("de", 21L)), "update/carry-through wrong")
    spark.sql("DROP TABLE graft.ns.rlospec")
    // (c) a table that did NOT declare row-level support refuses UPDATE
    // outright instead of silently full-rewriting
    val d2 = java.nio.file.Files.createTempDirectory("graft_rlo_spec2_")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ns.norlo " +
      s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_digest " +
      s"TBLPROPERTIES ('path'='$d2')")
    val e = intercept[Throwable] {
      spark.sql("UPDATE graft.ns.norlo SET n_chars = 0 WHERE lang = 'de'")
    }
    assert(e.getMessage != null && e.getMessage.toUpperCase.contains("UPDATE"),
      s"wrong refusal: $e")
    spark.sql("DROP TABLE graft.ns.norlo")
  }

  test("q207: delta MERGE plans as WriteDelta with the doc_id row id; verbs fold " +
      "latest-wins") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = java.nio.file.Files.createTempDirectory("graft_delta_spec_")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ns.deltaspec " +
      s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_digest " +
      s"TBLPROPERTIES ('path'='$d', 'delta'='true')")
    import spark.implicits._
    Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("doc_id", "lang", "n_chars")
      .writeTo("graft.ns.deltaspec").append()
    // (a) plan lock without executing: the MERGE must analyze to the
    // DELTA strategy (WriteDelta), not the group-based ReplaceData
    val parsed = spark.sessionState.sqlParser.parsePlan(
      "MERGE INTO graft.ns.deltaspec t USING (SELECT 1L AS doc_id, 'en' AS lang, " +
        "99L AS n_chars) u ON t.doc_id = u.doc_id " +
        "WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars")
    val qe = new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], parsed,
      mode = org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
    val analyzed = qe.analyzed.toString
    assert(analyzed.contains("WriteDelta"),
      s"delta table's MERGE did not plan as WriteDelta:\n$analyzed")
    assert(!analyzed.contains("ReplaceData"),
      s"delta table fell back to the group-based rewrite:\n$analyzed")
    // (b) the DeltaFold intent algebra: I→U collapses to insert-with-new-
    // payload, I→D annihilates, U→D on a base row deletes, bare U replaces
    val (ov, ins) = graft.sources.DeltaFold.fold(Seq(
      "I,10,fr,5", "U,10,fr,6",   // insert then update → one insert, payload 6
      "I,11,es,7", "D,11",        // insert then delete → nothing
      "U,1,en,99", "D,1",         // update then delete of a base row → delete
      "U,2,de,21",                // plain base replace
      "D,3", "I,3,zh,8",          // delete then re-insert (q271): base stays
                                  // MASKED and the insert serves — one row
      "D,4", "I,4,es,9", "D,4"))  // ...and a second delete annihilates the
                                  // re-insert while the base mask holds
    assert(ov == Map(1L -> None, 2L -> Some((2L, "de", 21L)),
      3L -> None, 4L -> None), s"overrides: $ov")
    assert(ins == Seq((10L, "fr", 6L), (3L, "zh", 8L)), s"inserts: $ins")
    spark.sql("DROP TABLE graft.ns.deltaspec")
  }

  test("q193: requesting metadata columns keeps pushdown and the columnar path") {
    val df = SparkEntry.queries("q193_metadata_columns")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("range=[30000,100000)"),
      s"filter pushdown lost when metadata columns are requested:\n$p")
    assert(p.contains("_slice") && p.contains("_pos"),
      s"metadata columns missing from the scan:\n$p")
    assert(p.contains("ColumnarToRow"),
      s"metadata columns knocked the scan off the columnar path:\n$p")
    // hidden-by-default contract: SELECT * must NOT surface them
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val star = spark.sql("SELECT * FROM graft.ns.seq100k LIMIT 1")
    assert(star.columns.toSeq == Seq("id", "h", "v"),
      s"metadata columns leaked into SELECT *: ${star.columns.mkString(",")}")
  }

  test("q189: catalog functions run the magic-Invoke path and a V2 partial/final aggregate") {
    val df = SparkEntry.queries("q189_function_catalog")(spark, sf)
    df.collect()
    val analyzed = df.queryExecution.analyzed.toString
    // scalar: analysis must have picked the MAGIC method (an Invoke on
    // PolyMixBound.invoke), not the row-boxing ApplyFunctionExpression
    assert(analyzed.contains("invoke") && analyzed.contains("PolyMixBound"),
      s"poly_mix did not resolve to the magic Invoke path:\n$analyzed")
    assert(!analyzed.contains("ApplyFunctionExpression"),
      s"poly_mix fell back to the produceResult row path:\n$analyzed")
    val p = df.queryExecution.executedPlan.toString
    // aggregate: the V2 aggregator must split map-side partial + final
    // merge across the exchange (the distributed-aggregate contract)
    assert(p.contains("partial_v2aggregator") && p.contains("v2aggregator"),
      s"lsum is not planned as a partial/final V2 aggregate:\n$p")
    // the function route must not cost the table route anything: filter
    // pushdown and column pruning still reach the connector scan
    assert(p.contains("range=[0,50000)") && p.contains("cols=id,v"),
      s"pushdown/pruning lost on the function-using scan:\n$p")
  }

  test("q187: the engine injects the sink-declared exchange and sort into the write plan") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // the query hands the sink an unorganized frame; the Write declares
    // clustered(lang) + order(lang, doc_id), so the WRITE plan must carry
    // an engine-injected shuffle on lang and a sort — captured via a
    // QueryExecutionListener (the write's QueryExecution isn't otherwise
    // reachable from the DataFrameWriter API)
    @volatile var captured: String = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("graft_digest_sink") || p.contains("AppendData")) captured = p
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import org.apache.spark.sql.functions.col
      val dir = java.nio.file.Files.createTempDirectory("graft_dist_spec_")
      Tables.t(spark, sf, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("requireDistribution", "true")
        .mode("append").save()
      // listener delivery is async on the listener bus
      val deadline = System.currentTimeMillis() + 10000L
      while (captured == null && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(captured != null, "no write QueryExecution captured")
      assert(captured.contains("Exchange hashpartitioning(lang"),
        s"engine did not inject the sink-declared clustering exchange:\n$captured")
      assert(captured.contains("Sort [lang") && captured.contains("doc_id"),
        s"engine did not inject the sink-declared ordering:\n$captured")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q188: native WITH RECURSIVE equals the DataFrame BFS fixpoint loop") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q188_recursive_cte")(spark, sf)
    out.collect()
    // (a) the recursion must be NATIVE — the plan carries Spark's
    // UnionLoop recursion node, not some rewritten self-join chain
    val p = out.queryExecution.optimizedPlan.toString
    assert(p.contains("UnionLoop"),
      s"q188 did not plan a native recursive union:\n$p")
    // (b) equivalence with the generic frontier-expansion loop over the
    // SAME derived tree: Graph.bfsDistances from the same root must
    // produce the identical (node, dist) set — the native fixpoint and
    // the hand-rolled level-synchronous loop agree row-for-row
    val ck = Tables.t(spark, sf, "customer").select(col("c_custkey"))
    val minKey = ck.agg(min("c_custkey")).first().getLong(0)
    val edges = ck.as("c").join(ck.as("p"),
        col("p.c_custkey") === expr("c.c_custkey DIV 2"))
      .filter(col("c.c_custkey") > minKey)
      .select(col("p.c_custkey").as("u"), col("c.c_custkey").as("v"))
    val loop = ops.Graph.bfsDistances(edges, minKey)
      .select(col("node"), col("dist").cast("int").as("dist"))
    assert(out.exceptAll(loop).isEmpty && loop.exceptAll(out).isEmpty,
      s"native recursion diverged from the DataFrame loop " +
        s"(cte=${out.count()}, loop=${loop.count()})")
    assert(out.count() > 100L, "q188 walked a trivial tree")
  }

  test("q179: the planner injects a runtime bloom filter on the fact side") {
    // the lock is on the executed plan kept by q179: the fact scan must
    // carry a planner-injected BloomFilterMightContain fed by a
    // bloom_filter_agg subquery over the filtered dim — the automatic twin
    // of q92's hand-built bloom. If the injection conditions rot (conf
    // names, thresholds, selective-predicate detection) the plan silently
    // reverts to a full fact shuffle and this fails loudly.
    val out = SparkEntry.queries("q179_runtime_bloom_join")(spark, sf)
    assert(out.count() > 0)
    val p = ops.Relational.lastBloomJoinPlan
    assert(p.toLowerCase.contains("mightcontain") || p.contains("might_contain"),
      s"no runtime bloom filter on the fact side:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"q179 must exercise the shuffle-join path (broadcast needs no runtime filter):\n$p")
  }

  test("q180: the fact scan carries a dynamic partition-pruning filter") {
    // no literal partition value exists in the query — the month predicate
    // arrives through the dim join, so the fact scan's PartitionFilters
    // must hold a planner-inserted dynamicpruningexpression (fed by the
    // dim broadcast). A plain PartitionFilters literal (q49's shape) or an
    // empty filter list means DPP regressed to a full directory listing.
    val df = SparkEntry.queries("q180_dynamic_partition_pruning")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition-pruning filter on the fact scan:\n$p")
  }

  test("q178: CBO column stats flip the filtered-dim join to broadcast") {
    // same query, same catalog stats, same 16 KB threshold, AQE off — the
    // ONLY difference is spark.sql.cbo.enabled. Off: the filter's size
    // estimate is the full scan (36 KB+ here) and the join sort-merges.
    // On: FilterEstimation shrinks the dim through the ANALYZEd column
    // stats and the planner broadcasts it. Both directions are locked so
    // the flip can't silently become "always broadcast" (threshold rot) or
    // "never broadcast" (stats not reaching the planner).
    val (_, without) = ops.Analytics.q178Under(spark, sf, cbo = false, execute = false)
    assert(without.contains("SortMergeJoin") && !without.contains("BroadcastHashJoin"),
      s"without CBO the dim should NOT broadcast under the 16 KB threshold:\n$without")
    val (_, withCbo) = ops.Analytics.q178Under(spark, sf, cbo = true, execute = false)
    assert(withCbo.contains("BroadcastHashJoin"),
      s"CBO stats did not flip the join to broadcast:\n$withCbo")
  }

  test("q170: exact quantiles never globally sort the data") {
    // the scale claim: the only window over row data partitions by pct
    // (the few target-bucket survivors), and the bucket filter rides a
    // broadcast — an O(n log n) global sort would show an unpartitioned
    // ranking window directly over the scan
    val p = planOf("q170_exact_quantiles")
    assert("""windowspecdefinition\(pct#""".r.findFirstIn(p).isDefined,
      "phase-2 ranking must partition by pct")
    assert(p.contains("BroadcastHashJoin"),
      "target buckets must broadcast onto the value scan")
    assert(!p.contains("CartesianProduct"), "q170 has a cartesian product")
  }

  test("q152: BM25 top-20 is bounded; df and corpus stats broadcast") {
    val p = planOf("q152_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "BM25 top-k must never be a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "the 4-row df relation must broadcast")
  }

  test("q148: repetition metrics shuffle nothing but the lambda barrier") {
    // all three metrics are per-row lambda scans: the only exchanges are
    // the round-robin materialization barrier and the output sort — a
    // hashpartitioning exchange would mean a groupBy/join crept in
    val p = planOf("q148_repetition_filter")
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    // REPARTITION_BY_NUM since r22: the barrier pins the session's shuffle
    // parallelism so AQE cannot coalesce the pre-explode exchange to one
    // task (Tables.barrier)
    assert(hashEx.size == 1 && hashEx.head.contains("REPARTITION_BY_NUM"),
      s"expected only the explicit barrier exchange, got: $hashEx")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin")
      && !p.contains("BroadcastHashJoin"), "q148 must be join-free")
  }

  test("q143: append reads only the new batch; serve reads only index artifacts") {
    // the incremental claim is O(batch), not O(corpus): both append-pass
    // plans must filter embeddings to the vec_id % 10 == 9 batch and scan
    // it exactly once; the assign routes on centroid LITERALS (no staged
    // read at all), the encode joins only the 128-row codebook artifact
    val (asg, codes) = ops.Similarity.incrAppendPlans(spark, sf)
    val pa = asg.queryExecution.executedPlan.toString
    assert(pa.contains("% 10"), "append assign must filter to the new batch")
    assert(pa.split("Scan parquet|FileScan parquet").drop(1)
      .count(_.contains("embeddings")) == 1,
      "append assign must scan embeddings exactly once")
    assert(!pa.contains("graft_staged_"),
      "assign routes on centroid literals, never a staged-artifact join")
    val pc = codes.queryExecution.executedPlan.toString
    assert(pc.contains("% 10"), "append encode must filter to the new batch")
    val codeScans = pc.split("Scan parquet|FileScan parquet").drop(1)
    assert(codeScans.count(_.contains("embeddings")) == 1,
      "append encode must scan embeddings exactly once")
    assert(codeScans.exists(_.contains("graft_staged_")),
      "append encode must read the FROZEN reloaded codebook artifact")
    // the serve path is q141's, unchanged, over the appended index
    val p = planOf("q143_incr_index_serve")
    assert(p.contains("graft_staged_"), "serve must read the staged index")
    val embScans = p.split("Scan parquet|FileScan parquet").drop(1)
      .filter(_.contains("embeddings"))
    assert(embScans.nonEmpty, "expected the query-vector read")
    embScans.foreach(sc =>
      assert(sc.contains("EqualTo(vec_id,0)"),
        "an embeddings scan without the query-vector pushdown: corpus rescan"))
    assert(p.contains("TakeOrderedAndProject"), "ADC top-k must stay bounded")
  }

  test("q123/q124: masking plan is shuffle-free; LM counts end in bounded top-k") {
    // q123 is a pure 1→k generator — any hash exchange means the plan
    // grew a shuffle it does not need
    assert(!planOf("q123_span_corruption").contains("Exchange hashpartitioning"),
      "span plan must be shuffle-free up to the output sort")
    val lm = planOf("q124_bigram_lm")
    assert(lm.contains("TakeOrderedAndProject"), "top-200 must not be a global sort")
    assert(!lm.contains("CartesianProduct") && !lm.contains("BroadcastNestedLoopJoin"))
  }

  test("q41: the lambda-built shingle expression stays out of scan filters") {
    val p = pairBuildPlan
    val scanSection = p.split("Scan parquet").drop(1).mkString
    assert(!p.contains("lambdafunction") ||
      !p.split("\\+- (?:\\*\\(\\d+\\) )?Filter").exists(s =>
        s.contains("lambdafunction") && s.contains("Scan parquet")),
      "shingle lambda re-inlined below the exchange")
    assert(scanSection.nonEmpty)
  }

  // ---- q278: BloomCodec algebra — the properties the skipping rests on ----

  test("q278: BloomCodec has no false negatives at ANY fold size, an empty " +
      "filter excludes everything, and absent probes mostly miss") {
    import graft.sources.BloomCodec
    // rows counts chosen to land every fold rung between the 1024-bit
    // floor and the 16384-bit build ceiling
    for (n <- Seq(1, 7, 100, 128, 500, 2048, 10000)) {
      val b = BloomCodec.newBuild()
      val vals = (0 until n).map(i => i.toLong * 2654435761L % 1000003L)
      vals.foreach(BloomCodec.add(b, _))
      val enc = BloomCodec.encode(b, n)
      val bits = enc.split(";")(0).toInt
      assert(Integer.bitCount(bits) == 1 && bits >= 1024 && bits <= BloomCodec.BuildBits,
        s"n=$n bits=$bits")
      // NO false negative, whatever the fold folded
      assert(vals.forall(BloomCodec.mayContain(enc, _)),
        s"n=$n: a committed value fell out of the folded filter")
      // absent values: mostly excluded while the filter is SIZED for its
      // rows (n ≤ ceiling/BitsPerRow). Past that the capped filter
      // saturates — it stops PRUNING but never lies (the no-false-negative
      // row above still holds), which is exactly the safe failure mode a
      // bounded manifest-resident filter must have; production files
      // bigger than the cap would spill the filter to the file footer.
      val ghosts = (0 until 1000).map(i => 2000000L + i * 7919L)
        .filterNot(vals.contains)
      val kept = ghosts.count(BloomCodec.mayContain(enc, _))
      if (n <= BloomCodec.BuildBits / BloomCodec.BitsPerRow)
        assert(kept <= ghosts.size / 5,
          s"n=$n bits=$bits: absent-probe fpp ${kept}/${ghosts.size} is useless")
      // …and the entry bloat stays bounded whatever the row count
      // structural max: 256 words x ~21 chars sparse-encoded
      assert(enc.length <= 5500, s"n=$n: bloom attr ${enc.length}B too big")
    }
    // empty filter: contains nothing
    val empty = BloomCodec.encode(BloomCodec.newBuild(), 0)
    assert(!BloomCodec.mayContain(empty, 0L) && !BloomCodec.mayContain(empty, 42L))
    // malformed encodings are corruption — loud, not lenient
    intercept[Exception] { BloomCodec.mayContain("1000;0:ff", 1L) } // not 2^j
    intercept[Exception] { BloomCodec.mayContain("1024;broken", 1L) }
  }

  test("q278: a bloom-pruned probe composes with lang pruning and stays " +
      "exact under a false-positive-free fixture") {
    import graft.sources.{BloomCodec, DigestManifest}
    // fold-halving preserves mod-2^j probe semantics: a filter built at
    // the ceiling then folded twice answers exactly like one built small
    val big = BloomCodec.newBuild()
    (0L until 64L).foreach(BloomCodec.add(big, _))
    val enc = BloomCodec.encode(big, 64) // folds to the 1024-bit floor
    assert(enc.split(";")(0).toInt == 1024)
    (0L until 64L).foreach(v => assert(BloomCodec.mayContain(enc, v)))
  }

  test("reserve MC: one hash exchange below the per-type kernel, no chunk shuffle") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = graft.actuarial.Actuarial
      .simulateReserves(graft.actuarial.Actuarial.policiesFromOrders(spark, sf), 500, 7L)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // no round-robin spread of trial chunks and no trial explode
    assert(!plan.toString.contains("RoundRobinPartitioning"), plan)
    assert(plan.collect { case g: GenerateExec => g }.isEmpty, plan)
    val kernel = plan.collect {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[graft.functions.ReserveMean])) => n
    }
    assert(kernel.size == 1, plan)
    // the only exchange is the hash exchange on policy_type below the kernel
    val below = kernel.head.collect { case e: ShuffleExchangeExec => e }
    assert(below.size == 1 && below.head.outputPartitioning.isInstanceOf[HashPartitioning] &&
      plan.collect { case e: ShuffleExchangeExec => e }.size == 1, plan)
  }
}
