package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY.md §6.2): the scale-critical properties —
  * broadcast vs shuffle join choice, projection/predicate pushdown into the
  * parquet scan, top-k via TakeOrderedAndProject, subquery→semi-join
  * rewrite. Asserted on the pre-AQE physical plan (deterministic). */
class PlanSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, TestSpark.sf).queryExecution.sparkPlan.toString

  test("c2 broadcasts the dim side (distributed_join=False analog)") {
    assert(plan("c2_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("c3 merge hint yields a sort-merge join (distributed_join=True analog)") {
    assert(plan("c3_join_shuffle").contains("SortMergeJoin"))
  }

  test("a2 projection reaches the parquet ReadSchema (3 columns only)") {
    val p = plan("a2_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("a3 td_time_range expands to pushed long-range filters on ts") {
    val p = plan("a3_scan_time_range")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ts"), p)
  }

  test("h3 SQL-registered td_time_range pushes to the lineitem scan") {
    val p = plan("h3_td_time_range")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("f2 global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("f2_topk_global").contains("TakeOrderedAndProject"))
  }
  test("j35 pipeline: lang/quality filters push to the scans under the dedup shuffles") {
    val p = plan("j35_corpus_pipeline")
    // every documents scan in the composed plan carries the pushed
    // lang IN (...) + n_chars filter — the cross-stage optimization that
    // justifies keeping all five stages in one lazy plan
    val scans = "PushedFilters: \\[[^\\]]*n_chars".r.findAllIn(p).length
    assert(scans >= 2, s"expected pushed filters on the pipeline's scans\n${p.take(400)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("c15 workload join: filtered dims broadcast, top-10 is TakeOrderedAndProject") {
    val p = plan("c15_join_multiway")
    assert(p.contains("BroadcastHashJoin"), "filtered customer side should broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    // all three single-table predicates reach their scans
    assert("PushedFilters: \\[[^\\]]".r.findAllIn(p).length >= 3, p.take(400))
  }

  test("b4 IN-subquery rewrites to a semi join") {
    assert(plan("b4_filter_in_subquery").contains("LeftSemi"))
  }

  test("c7 NOT EXISTS plans an anti join") {
    assert(plan("c7_join_anti").contains("LeftAnti"))
  }

  test("d1 aggregation is two-phase hash (partial + final)") {
    val p = plan("d1_agg_groupby")
    assert(p.contains("HashAggregate") && p.contains("partial_"), p)
  }

  test("sessionize plans one shuffle: both window passes share the sort") {
    // executedPlan (post-EnsureRequirements) carries the exchanges;
    // sparkPlan is pre-placement and would count zero
    val df = SparkEntry.queries("h10_sessionize")(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single hash exchange, plan:\n$p")
  }

  test("native cosine_similarity compiles into whole-stage codegen") {
    val df = SparkEntry.queries("j3c_sim_native")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_similarity"), p)
    assert(p.contains("*("), p) // inside a codegen stage
  }

  test("bucketed tables join without any shuffle (co-located join)") {
    // the 100 TB fact-fact pattern: pre-bucket both sides on the join key →
    // the join needs no Exchange at query time
    // (writes to the default ./spark-warehouse — warehouse.dir is static;
    // tables are dropped in the finally)
    val o = Tables.t(spark, TestSpark.sf, "orders")
    val c = Tables.t(spark, TestSpark.sf, "customer")
    o.write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    c.write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bkt")
    try {
      val j = spark.table("orders_bkt").hint("merge")
        .join(spark.table("customer_bkt"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("custom interval-join operator plans one exchange+sort per side, no SMJ") {
    val df = SparkEntry.queries("c12_join_interval")(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("IntervalJoin"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"one hash exchange per side expected:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("PruneIntervalJoin prunes unused columns down to both scans") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, TestSpark.sf) // carries props etc.
    val l = ev.select(col("event_id"), col("user_id"),
      col("ts_ms").as("l_s"), (col("ts_ms") + 1000L).as("l_e"), col("props"))
    val r = ev.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts_ms").as("r_s"), (col("ts_ms") + 1000L).as("r_e"),
      col("props").as("b_props"))
    val out = graft.plans.IntervalJoin.join(l, r,
        "user_id", "b_user", "l_s", "l_e", "r_s", "r_e")
      .select("event_id", "b_id")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("props"), s"scans must not read props:\n$p")
  }

  test("custom as-of operator plans one exchange+sort per side, no window") {
    val df = SparkEntry.queries("c10c_join_asof_native")(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p) // nodeName strips the Exec suffix
    // EnsureRequirements satisfied the declared contracts: clustering + sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"one hash exchange per side expected:\n$p")
    assert(!p.contains("Window"), "the native form must not fall back to window")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("PruneAsOfJoin rule prunes full-width children down to the scan") {
    import org.apache.spark.sql.functions._
    // full-width inputs, narrow projection — without the injected rule the
    // custom node would force both scans to read every column
    val ev = Tables.events(spark, TestSpark.sf) // 6 source cols + derived
    val ord = Tables.t(spark, TestSpark.sf, "orders")
      .withColumn("odate_ms", expr("unix_millis(cast(o_orderdate as timestamp))"))
    val out = graft.plans.AsOf.join(ev, ord,
        "user_id", "o_custkey", "ts_ms", "odate_ms", "o_orderkey")
      .select("event_id", "o_orderkey")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("props"), s"events scan must not read props:\n$p")
    assert(!p.contains("o_orderpriority"), "orders scan must not read o_orderpriority")
    assert(out.count() > 0)
  }

  test("j17 materializes the bigram occurrence stream exactly once") {
    // the r6 re-plan: one shuffle compresses occurrences into the per-doc
    // distinct-bigram relation dg; c2/c1 and the score join all derive
    // from dg, whose exchange subtree is shared → ReuseExchange leaves a
    // single Generate over the full stream (the r5 shape had three)
    val df = SparkEntry.queries("j17_doc_likelihood")(spark, TestSpark.sf)
    df.collect()
    // AQE's toString appends an "== Initial Plan ==" section that repeats
    // the tree pre-reuse — assert on the final plan only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens == 1, s"occurrence stream must materialize once, saw $gens:\n$p")
    assert(p.contains("ReusedExchange"), s"dg exchange must be shared:\n$p")
  }

  test("j37 plans two hash exchanges: digest window + doc regroup") {
    // the one-pass shape: n_blocks and the kept set fold into a single
    // doc_id aggregation after the digest window — a regression to the
    // regroup-and-left-join form would add a third exchange + second scan
    val df = SparkEntry.queries("j37_paragraph_dedup")(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 hash exchanges:\n$p")
  }

  test("j39/j40 candidates come from the bucket equi-join, never a cartesian") {
    for (k <- Seq("j39_knn_graph", "j40_semantic_clusters")) {
      val p = SparkEntry.queries(k)(spark, TestSpark.sf)
        .queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
      // the only legitimate nested-loop join is the 1-row hyperplane
      // weight-array carrier (lshProject's broadcast(wrow) — planes × dim
      // doubles, bounded by embedding dim, never by data volume); the
      // bucket self-join plans that shared subtree once per side, so at
      // most TWO carrier NLJs appear. The bucket candidate join itself
      // must remain an equi-join.
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnl <= 2, s"$k plans $bnl NLJs (only the weight carrier is allowed):\n$p")
      // j40's edge pipeline executes eagerly inside CC.cluster (bounded
      // probe + union-find), so its FINAL plan is just the label join —
      // the bucket-join shape is only visible in j39's lazy plan
      if (k == "j39_knn_graph")
        assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[bucket".r
          .findFirstIn(p).isDefined,
          s"$k bucket candidate join is not an equi-join:\n$p")
    }
  }

  test("j42/j43: retrieval top-k is TakeOrderedAndProject, stats sides broadcast") {
    // BM25's (N, avgdl) row and the per-term df relation must broadcast
    // (both bounded by construction), and no retrieval key may plan a
    // global sort for its top-k
    for (k <- Seq("j42_bm25", "j43_rrf_fusion")) {
      val p = SparkEntry.queries(k)(spark, TestSpark.sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"$k top-k is a global sort:\n$p")
      assert("BroadcastExchange".r.findAllIn(p).length >= 2,
        s"$k stats/df sides must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
    }
    // dl rides through the tf aggregation, so BM25 scoring must plan NO
    // shuffle join at all — its only joins are the broadcast fan-ins
    // (the corpus-sized dl join was ADVICE r8's scale finding)
    val pj42 = SparkEntry.queries("j42_bm25")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!pj42.contains("SortMergeJoin") && !pj42.contains("ShuffledHashJoin"),
      s"j42 plans a shuffle join (dl must ride the tf agg):\n$pj42")
  }

  test("j41 hybrid retrieval: top-10 is TakeOrderedAndProject, probe broadcasts") {
    val p = plan("j41_hybrid_retrieval")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe must broadcast:\n$p")
  }

  test("j2 emits candidate pairs from grouped postings, not a self-join") {
    // the light path (everything at fixture df) is: ONE hash aggregate
    // groups postings into arrays, a Generate explodes the in-array pair
    // expansion, and the (d1, d2) count aggregates the result. The shingle
    // equi-join that remains in the plan text belongs to the heavy-df
    // fallback branch (statically present, empty at any fixture df) and
    // must sit behind its size(ds) > cap filter.
    val p = plan("j2_dedup_near")
    assert(p.contains("Generate explode(flatten(transform("), p)
    assert(p.toLowerCase.contains("cappedlonglist"),
      s"capped postings aggregate missing:\n$p")
    assert(p.contains("> 256)"), s"heavy-branch guard missing:\n$p")
  }

  test("j2c verifies off checkpointed candidates that carry their own sizes") {
    // the candidate relation is an eager localCheckpoint (the r9 contention
    // fix), so the final plan starts from lineage-truncated RDD scans whose
    // row IS (d1, d2, n1, n2) — the PPJoin doc sizes ride the candidates
    // and no bare doc_id-count relation is joined downstream. The prefix
    // explode ran once, pre-checkpoint, and cannot reappear in any branch.
    val p = plan("j2c_dedup_prefix")
    assert(p.contains("sort_array"), p)     // verify arrays, map-side
    assert("Scan ExistingRDD\\[d1#\\d+L,d2#\\d+L,n1#\\d+L,n2#\\d+L\\]".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("Generate explode"), p) // pre-checkpoint, by construction
    assert(!p.contains("count("), p)           // no count-relation join remains
  }

  test("e11 top-k runs heap-wise: partial below final, pruned scan, no sort/window") {
    val p = plan("e11_topk_native")
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"), p)
    // column pruning reached the scan THROUGH the custom node
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,value:double>"), p)
    // the subtree below FinalTopK (partial + scan) sorts and windows nothing;
    // the only Sort in the whole plan is the query's global orderBy ABOVE it
    val below = p.substring(p.indexOf("FinalTopK"))
    assert(!below.contains("Sort") && !below.contains("Window"), p)
    // and the executed plan inserts exactly one hash exchange between phases
    val ex = SparkEntry.queries("e11_topk_native")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ex).length == 1, ex)
  }

  test("j45 builds sketches in one partial+final pass; pairs join only the sketch relation") {
    val p = plan("j45_corpus_overlap")
    // HLL sketches aggregate two-phase (map-side partials touch the
    // corpus; the merge sees |sources| sketch rows)
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_hll_sketch_agg"), p)
    // the pairwise stage is the nested-loop on the sketch relation — it
    // must sit ABOVE the aggregates, i.e. no corpus-side scan feeds it
    // directly (documents scans appear only under aggregate subtrees)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d22 rolls hour sketches into days by merging, never rescanning events") {
    val p = plan("d22_hll_time_rollup")
    assert(p.contains("partial_hll_sketch_agg"), p)
    assert(p.contains("hll_union_agg"), p)
    // the day-level union aggregates SKETCH rows: its input subtree is the
    // hour aggregate, not a second events scan — the whole plan reads the
    // events relation exactly twice (sketch chain + the exact_users rail)
    val scans = "Relation.*events".r.findAllIn(p).length
    assert(scans <= 2, s"expected at most 2 events scans, got $scans:\n$p")
  }

  test("d26 combines hour top-k sketches into days, never rescanning events") {
    val p = plan("d26_topk_time_rollup")
    assert(p.contains("approx_top_k_accumulate") || p.contains("ApproxTopKAccumulate"), p)
    assert(p.contains("approx_top_k_combine") || p.contains("ApproxTopKCombine"), p)
    // the day-level combine aggregates SKETCH rows — one events scan total
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 events scan, got $scans:\n$p")
  }

  test("whole-stage codegen covers the flagship pipeline") {
    val df = SparkEntry.queries("d1_agg_groupby")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan — codegen stages appear after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // "*(n)" marks a WholeStageCodegen stage
  }

  test("h27 sessionizes in ONE Window exec (vs the lag+sum idiom's two)") {
    val p = plan("h27_td_sessionize_window")
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(p).length == 1, p)
    assert(p.contains("td_sessionize_window"), p)
  }

  // the window-required SortExecs appear only in the prepared plan; on the
  // pre-AQE sparkPlan the single-sort property shows as both Window nodes
  // carrying the IDENTICAL partition/order spec (EnsureRequirements then
  // satisfies the second window from the first's ordering)
  private def windowSpecs(p: String): Seq[String] =
    "(?m)^\\s*(?:\\+- |:- )?Window .*".r.findAllIn(p)
      .map(_.replaceAll(".*\\], (\\[[^\\]]*\\], \\[[^\\]]*\\])$", "$1")).toSeq

  test("h30's two bracketing frames share one window sort") {
    val p = plan("h30_interpolate_linear")
    val specs = windowSpecs(p)
    assert(specs.length == 2, p)
    assert(specs.distinct.length == 1, s"windows disagree on partition/order:\n$p")
  }

  test("h31 retention cohorts build with no join and one user-keyed aggregate") {
    val p = plan("h31_retention_cohort")
    assert(!p.contains("Join"), p)
    assert(p.contains("collect_set"), p)
  }

  test("a29's SCD2 lag and lead share one window sort (filter preserves order)") {
    val p = plan("a29_scd2_history")
    val specs = windowSpecs(p)
    assert(specs.length == 2, p)
    assert(specs.distinct.length == 1, s"windows disagree on partition/order:\n$p")
  }

  test("j51 candidates come from an equi-join on the gram, never a cartesian") {
    val p = plan("j51_dedup_editdist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("j51 re-attaches txt by plain joins the planner broadcasts at fixture scale") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
    val df = SparkEntry.queries("j51_dedup_editdist")(spark, TestSpark.sf)
    // the corpus grows with `part`: no hint may force its broadcast
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, df.queryExecution.analyzed)
    df.collect()
    // the AQE-final plan, descending into query stages
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = df.queryExecution.executedPlan
    def onIds(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.flatMap(_.references.map(_.name)).exists(Set("id_a", "id_b"))
    val bhj = helper.collect(executed) {
      case j: BroadcastHashJoinExec if onIds(j.leftKeys) => j
    }
    val shuffled = helper.collect(executed) {
      case j: ShuffledJoin if onIds(j.leftKeys) => j
    }
    assert(bhj.size == 2 && shuffled.isEmpty, executed)
  }

  test("h34 geo lookup is a broadcast EQUI-join on the grid cell, not a box NLJ") {
    val p = plan("h34_lat_long_to_country")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("j52 probes the bloom BEFORE the bench join (map-only prune under the join)") {
    val p = plan("j52_decontam_bloom")
    assert(p.contains("might_contain"), p)
    // the probe must sit below the join: the Filter's position in the
    // tree string precedes (is deeper than) the BroadcastHashJoin only if
    // the join consumes already-filtered grams — assert no scan feeds the
    // join without passing a might_contain Filter on the train side
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe should be under (printed after) the join:\n$p")
  }

  test("k12 merges the stored sketch relation for the ALL row, never re-reading events") {
    val p = plan("k12_presto_dialect_hll")
    // one events scan feeds BOTH union arms: hll_union_agg re-aggregates
    // the 6-row sketch relation (d22's algebra through Presto spellings)
    assert("FileScan parquet".r.findAllIn(p).length <= 2, p)
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"), p)
    assert(p.contains("hll_sketch_agg") || p.contains("HllSketchAgg"), p)
  }

  test("k13 hive text pushes the TD_TIME_RANGE bounds to the events scan") {
    // the dialect layer must stay pushdown-transparent through the Hive
    // route too: TdTimeRange expands to plain comparisons BEFORE
    // analysis, so the time filter reaches PushedFilters on the raw scan
    val p = plan("k13_hive_dialect")
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThanOrEqual(ts") || p.contains("IsNotNull(ts")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c17 LATERAL decorrelates to WindowGroupLimit, never per-row re-execution") {
    val p = plan("c17_join_lateral")
    // the ORDER BY … LIMIT 2 lateral must plan as the partial top-k
    // window (k rows per partition pre-shuffle), with the outer filter
    // derived onto the orders side — not a correlated loop or cartesian
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("o_custkey") && "Filter.*o_custkey.* < 300".r.findFirstIn(p).nonEmpty,
      s"outer predicate must derive onto the lateral side:\n$p")
  }

  test("k15 SQL UDFs inline into the plan: no UDF node, UDTF becomes Generate") {
    // CREATE FUNCTION ... RETURN is parse-time substitution — the scalar
    // body lands verbatim in the Project (codegen'd, pushdown-transparent)
    // and the table function is a plain Generate; an opaque-UDF regression
    // would show a ScalaUDF/eval node and break both properties
    val p = plan("k15_sql_udf")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // the UDTF body now routes through Ngrams.seqAsc, so the Generate
    // carries the guarded `explode(if(.. sequence ..))` form — still a
    // plain inlined Generate over builtin expressions
    assert(p.contains("Generate explode(") && p.contains("sequence("), p)
    assert(p.contains("LessThan(l_orderkey,100)"), p)
  }

  test("j56 shuffles hashes only: no string gram ever enters an exchange") {
    // the j2 device carried over: xxhash64 runs inside the transform, so
    // the gram window's exchange partitions 8-byte longs — a regression
    // that grouped the gram STRINGS would shuffle ~50-char keys (6x the
    // bytes) and show a string-typed hashpartitioning column here
    val df = SparkEntry.queries("j56_substring_dedup")(spark, TestSpark.sf)
    val p = df.queryExecution.sparkPlan.toString
    assert(!"hashpartitioning\\(g#\\d+[^L]".r.findFirstIn(p).exists(_.nonEmpty) ||
      "hashpartitioning\\(g#\\d+L".r.findFirstIn(p).nonEmpty,
      s"gram exchange must partition LONG hashes:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c18 binned range join is a pure equi-join on (user, bin)") {
    // the binning exists to REPLACE the per-key quadratic SMJ post-filter
    // regime with bucket-local groups; the join itself must stay a
    // shuffle equi-join — a NLJ/cartesian here means the bin key fell out
    // of the equi-clause and the whole point is lost
    val p = plan("c18_join_range_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the bin must sit IN the equi-key list (hash/sort-merge all fine —
    // broadcast at test SF, SMJ at scale; the graded property is the
    // composite key, which is what bounds per-group quadratic cost)
    assert(("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) """ +
      """\[user_id#\d+L?, bin#\d+L?\], \[b_user#\d+L?, b_bin#\d+L?\]""").r
      .findFirstIn(p).nonEmpty,
      s"join must equi-key on the composite (user, bin):\n${p.take(600)}")
  }

  test("j60 weighted-Jaccard postings join shuffles 8-byte shingle hashes") {
    val p = plan("j60_dedup_weighted")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the j2 device: the postings join keys on xxhash64 LONGS (the L
    // suffix), never the shingle strings — and the tf pre-aggregation
    // partitions on the same 8-byte key
    assert(("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[sh#\d+L\]""").r
      .findFirstIn(p).nonEmpty,
      s"postings join must key on LONG shingle hashes:\n${p.take(600)}")
    assert("HashAggregate\\(keys=\\[doc_id#\\d+L, sh#\\d+L\\]".r.findFirstIn(p).nonEmpty,
      s"tf aggregation must group on the LONG hash:\n${p.take(600)}")
  }
}
