package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression net: the scale properties we rely on (pushdown,
  * pruning, join selection, top-k without global sort) must survive future
  * edits — a correctness-preserving change that loses one of these is a
  * 100x regression at real scale. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  test("q_filter_range pushes every predicate into the parquet scan") {
    val p = plan("q_filter_range")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity,24.0)"), "range predicates must reach the scan")
  }

  test("q_scan_project prunes to exactly the projected columns") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
      p.take(2000))
  }

  test("a literal range on events.ts pushes through the reader's LTZ cast") {
    // Tables.events normalizes ts to TIMESTAMP via a cast over the scan
    // column; under the UTC session Catalyst unwraps that cast, so literal
    // time-range predicates still reach the parquet reader as scan-level
    // NTZ filters. This is what makes time-sliced reads of a full-size
    // events table cheap — pin it.
    val p = Tables.events(spark, sf001)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .groupBy("event_type").count()
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"),
      "ts range must reach the scan despite the normalization cast:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("metadata-only queries never read the heavy payload columns") {
    // documents.text and embeddings.embedding dominate their tables' bytes;
    // a metadata query that drags one through the scan is a full-scale cost
    // invisible at test SF. Pin the two canonical cases.
    val strat = plan("q_sample_stratified")
    assert(strat.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      "stratified sampling must scan only the stratum metadata, not text")
    val cov = plan("q_embedding_coverage")
    assert(!cov.contains("embedding:array"),
      "coverage audit joins on vec_id only — the vector payload must prune away")
  }

  test("q_join_broadcast builds a broadcast hash join (no shuffle of the fact side)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_join_semi / q_join_anti plan as semi/anti joins, not materialized joins") {
    assert(plan("q_join_semi").contains("LeftSemi"), "semi join type lost")
    assert(plan("q_join_anti").contains("LeftAnti"), "anti join type lost")
  }

  test("q_sort_limit uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("bounded-sample and bigram-DF top-k avoid global sorts too") {
    assert(plan("q_sample_bottomk").contains("TakeOrderedAndProject"),
      "bottom-k sample must be per-partition top-k, not a corpus sort")
    assert(plan("q_text_bigram_df").contains("TakeOrderedAndProject"),
      "bigram top-30 must be per-partition top-k over the aggregated DFs")
  }

  test("q_agg_q1 aggregates in two phases (partial before the exchange)") {
    val p = plan("q_agg_q1")
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0, p.take(2000))
    assert(p.lastIndexOf("HashAggregate") != firstHashAgg,
      "expected partial + final HashAggregate pair")
  }

  test("BroadcastNestedLoopJoin appears only in the declared bounded cases") {
    // Two legitimate classes, each bounded by construction:
    //  - scalar broadcasts: a 1-row aggregate (corpus count, quota, p99,
    //    unigram/bigram totals, max week) cross-joined onto a big frame —
    //    the standard way to attach a global scalar without collect();
    //  - declared quadratic/bounded pair joins: embcos (capped pair space),
    //    the guarded cross join, sim_topk's capped probe broadcast.
    // ANY other query acquiring a BNLJ is an accidental nested loop — the
    // quadratic scale-killer this net exists to catch.
    val allowed = Set(
      "q_churn_matrix",
      "q_domain_mix", "q_equidepth_hist", "q_filter_outliers", "q_pagerank",
      "q_market_basket", "q_pagerank_step", "q_sim_ivf", "q_text_colloc",
      "q_text_tfidf",
      // round-11 addition: the corpus-total 1-row scalar attach on the
      // 3-row truncation report (same bounded shape as tfidf's N attach)
      "q_vocab_prune",
      // round-12 additions: 1-row scalar attaches — KS totals (n_a, n_b)
      // onto the distinct-value grid; the chi2 time-midpoint onto the
      // corpus scan and the grand totals onto the 5-row table
      "q_ks_test", "q_chi2_drift",
      // round-12 late additions: the 1-row (Nt, Nr) token-total attach
      // onto the vocabulary-sized score table; the 1-row naive-leak
      // audit count attached onto the 2-row split rollup
      "q_dsir_weights", "q_split_leakproof",
      // ^ scalar broadcasts (1-row corpus counts/quotas/bounds); the
      // graph queries over the memoized edge checkpoint (ngram/clusters,
      // bfs, hits, triangles) no longer print the pair pipeline's scalar
      // and have LEFT this allowlist — only pagerank's own nDocs attach
      // remains. containment/edit dedup also left it in round 11: the
      // constant rare-df cap removed their corpus-count scalar attach.
      // round-13: q_bm25_topk's 1-row (N, Σdl) stats attach onto the
      // candidate frame (same bounded shape as tfidf's N attach);
      // q_decontaminate_sem's broadcast eval-set probe (≤50 rows by the
      // eval-slice rule — the declared bounded non-equi join)
      "q_bm25_topk", "q_decontaminate_sem",
      // round-13 additions: q_sql_q11's two 1-row scalar attaches (the
      // supplier count feeding the derived-partsupp arithmetic and the
      // global total the HAVING correlates against — Q11's signature
      // shape); q_semdedup's nearest-centroid fan-out against the
      // broadcast ≤4096-row quantizer table (bounded by semK's clamp;
      // its own plan lock pins the count at exactly one)
      "q_sql_q11", "q_semdedup",
      // round-14 additions: q_id_gaps' and q_abc_pareto's 1-row
      // (min, max) bounds attaches feeding their in-plan bucket-width
      // rules (the broadcast-bounds alternative to a driver collect)
      "q_id_gaps", "q_abc_pareto",
      // round-15 addition: q_er_blocking's 1-row (count, min, max) stats
      // attach feeding the corpus-adaptive blocking-bin width (the same
      // broadcast-bounds shape as q_id_gaps/q_abc_pareto)
      "q_er_blocking",
      "q_dedup_embcos", "q_join_cross", "q_sim_topk",
      "q_hard_negatives") // declared pair joins (hard negatives = the
                          // label-filtered sim_topk probe broadcast)
    SparkEntry.queries.keys.filterNot(allowed).foreach { n =>
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n: unexpected BroadcastNestedLoopJoin — bounded-by-construction or bug?")
    }
  }

  test("round-11 additions keep their scale-shape design points") {
    // line dedup + novelty: winner selection is a partial-aggregable
    // groupBy, NEVER a window over the line/bigram partition — a hot
    // boilerplate key would funnel its whole df into one window reducer
    Seq("q_text_line_dedup", "q_text_novelty").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Window"), s"$n: winner selection regressed to a window")
    }
    // substring dedup: the stop-window purge counts postings with a
    // map-side-combinable groupBy + left-anti join against the (tiny)
    // hot-key frame — a window over
    // the shingle key would funnel a boilerplate window's whole posting
    // list (millions of docs at 100 TB) through ONE task before the purge
    val sub = plan("q_dedup_substring")
    assert(!sub.contains("Window"),
      "q_dedup_substring: stop-window purge regressed to a window on the posting key")
    assert(sub.contains("LeftAnti"),
      "q_dedup_substring: the purge must be an anti-join against the (tiny) hot-key frame")
    // ER blocking: block sizing is a groupBy routed back by joins against
    // the tiny oversized-key frame (anti for the small route, semi for
    // the re-block route) — the oversized keys are by definition the hot
    // ones, so a window over the block key would funnel exactly them
    val er = plan("q_er_blocking")
    assert(!er.contains("Window"),
      "q_er_blocking: block sizing regressed to a window on the block key")
    assert(er.contains("LeftAnti") && er.contains("LeftSemi"),
      "q_er_blocking: small/oversized routing must ride anti/semi joins on the hot-key frame")
    // novelty joins doc-cardinality frames — the corpus-sized bigram
    // string must not be a join key (the 13.5 s -> 3.6 s fix at 100×)
    assert(!"""SortMergeJoin \[bigram""".r.findFirstIn(plan("q_text_novelty")).isDefined &&
      !"""ShuffledHashJoin \[bigram""".r.findFirstIn(plan("q_text_novelty")).isDefined,
      "q_text_novelty: the bigram string became a join key again")
    // RFM: fixed bands = two aggregates, no quantile window pass
    assert(!plan("q_rfm_segment").contains("Window"),
      "q_rfm_segment: fixed-band design regressed to a quantile window")
    // skew audit: each per-key count scan reads ONLY its key column
    val sk = plan("q_key_skew_audit")
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach { k =>
      assert(sk.contains(s"ReadSchema: struct<$k:bigint>"),
        s"q_key_skew_audit: the $k audit scan reads more than its key") }
    // drift: the per-(label, dim) rollup is CACHED (InMemoryRelation in
    // the plan), so at runtime both consumers share one embeddings scan
    // instead of re-exploding the biggest table per branch (the formatted
    // pre-materialization explain prints the cached lineage under every
    // consumer, so counting scan nodes here would overstate runtime IO)
    assert(plan("q_embedding_drift").contains("InMemoryTableScan"),
      "q_embedding_drift: the per rollup is no longer cached — embeddings re-scanned per consumer")
  }

  test("dedup verify joins are pruned to candidate docs; LSH caps bucket size") {
    // Round-11 scale locks. (1) The bigram verify joins (Jaccard /
    // containment / edit) must read bigrams through the doc-level
    // LeftSemi prune — without it the full exploded bigram table
    // shuffles and sorts through both join sides (measured 24x on 10x
    // data; the pruned form scales with dup mass, not corpus size).
    // (2) The LSH banding must filter band buckets by the constant
    // BucketCap BEFORE the candidate self-join — an unbounded bucket of
    // n boilerplate docs enqueues n^2/2 pairs (a 2,288-doc bucket
    // spill-sorted the disk to ENOSPC on the 10x sweep).
    // Since round 12 ALL table-backed verifiers (ngram/containment/edit)
    // read the memoized ngramIndex checkpoints — a Scan ExistingRDD — so
    // the prune is asserted where it lives: the FRESH index-construction
    // path the generic pipelines drive (the same code ngramIndex runs
    // once per session).
    Seq(
      "containmentPairs" -> graft.queries.VectorOps.containmentPairs(
        Tables.documents(spark, sf001)),
      "ngramPairs" -> graft.queries.VectorOps.ngramPairs(
        Tables.documents(spark, sf001))
    ).foreach { case (n, df) =>
      assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"),
        s"$n: bigram verify join lost its candidate-doc semi-join prune")
    }
    val near = plan("q_dedup_near")
    // r17 shape: census groupBy-count finds oversized buckets (> cap) and a
    // LeftAnti purge drops them BEFORE any bucket membership is collected —
    // the collect_set aggregation buffer is bounded at BucketCap by
    // construction, never fed a boilerplate bucket's full membership.
    assert(near.contains(s"> ${graft.queries.Llm.BucketCap}"),
      "q_dedup_near: the oversized-bucket census filter (> BucketCap) is gone")
    assert(near.contains("LeftAnti"),
      "q_dedup_near: the hot-bucket purge must be an anti-join ahead of the membership collect")
    // r17 exact-verify shape: the Jaccard verdict is a per-row
    // array_intersect over per-doc distinct shingle ARRAYS — the exploded
    // (doc, shingle) stream shape (explode + DISTINCT shuffle + per-doc
    // count agg + equi-join + per-pair count agg: four exchanges of
    // shingle-mass rows) must not come back
    assert(near.contains("array_intersect"),
      "q_dedup_near: exact verify regressed from the per-doc array_intersect shape")
    assert(near.contains("array_distinct"),
      "q_dedup_near: candidate shingle sets must be per-doc distinct arrays, not a re-exploded stream")
    // negative side: any exploded (doc, shingle) stream is a Generate over
    // the shingle kernel. The analyzed plan still holds the subtrees that
    // Caches.registered later swaps for in-memory scans, so a stream
    // hidden behind a cache cannot slip past
    val exploded = SparkEntry.queries("q_dedup_near")(spark, sf001).queryExecution.analyzed
      .collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        if g.generator.find(_.isInstanceOf[graft.functions.ShingleHashes]).isDefined => g }
    assert(exploded.isEmpty,
      s"q_dedup_near: the exploded shingle stream is back:\n${exploded.mkString("\n")}")
  }

  test("the must-push queries carry a pushed filter into at least one parquet scan") {
    // each of these filters a scanned table; a type change on a filtered
    // column (a driver data-generation flip) can silently turn a
    // scan-level filter into a post-scan one
    Seq("q_sql_q3", "q_sql_q5", "q_sql_q7", "q_sql_q10", "q_sql_q14",
      "q_sql_q18", "q_filter_range").foreach { n =>
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan(n)).toSeq
      assert(pushed.exists(_ != "PushedFilters: []"),
        s"$n: no pushed filter reached any scan: $pushed")
    }
  }

  test("no query plans a CartesianProduct except the declared cross join") {
    SparkEntry.queries.keys.filterNot(Set("q_join_cross")).foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n unexpectedly plans a cartesian product")
    }
  }

  test("q_join_range_binned turns the keyless range join into an equi-join") {
    val p = plan("q_join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binning must prevent the nested-loop fallback of a keyless range join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("q_subquery_exists decorrelates to a semi join (no subquery re-execution per row)") {
    val p = plan("q_subquery_exists")
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("q_gap_fill joins the generated calendar by broadcast (no shuffle of either tiny side)") {
    val p = plan("q_gap_fill")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_text_tfidf prunes the per-doc top-3 before the window sort (WindowGroupLimit)") {
    val p = plan("q_text_tfidf")
    assert(p.contains("WindowGroupLimit"),
      "rank<=3 filter must push down as WindowGroupLimit, not rank every term")
  }

  test("q_pack_sequences shuffles the corpus once; shard totals reuse the window's partitioning") {
    val p = SparkEntry.queries("q_pack_sequences")(spark, sf001)
      .queryExecution.executedPlan.toString
    // three hash exchanges, but only ONE carries the corpus: the window's
    // (lang, shard) shuffle. The offsets branch partial-aggregates BEFORE
    // its exchange (Catalyst drops the unneeded window from that branch),
    // so its two exchanges carry langs x shards aggregate rows, and the
    // offset join back to the corpus must be broadcast, never a shuffle.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 3,
      s"expected 1 corpus + 2 aggregate-row-sized shuffles, got $hashExchanges:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      "offset table must broadcast back to the corpus")
    // the offsets branch must shuffle aggregated rows, not corpus rows:
    // its exchange sits between a partial/final HashAggregate pair
    assert("HashAggregate[\\s\\S]{0,400}?Exchange hashpartitioning[\\s\\S]{0,400}?HashAggregate".r
      .findFirstIn(p).isDefined,
      "shard totals must partial-aggregate before their exchange")
  }

  test("q_sql_q3 (text SQL surface) gets the same physical plan quality as the DataFrame API") {
    val p = plan("q_sql_q3")
    assert(p.contains("TakeOrderedAndProject"),
      "SQL top-10 must not plan a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "filtered customer dim must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]") ||
      p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the parquet scan")
    // Timestamp-typed predicates are the ones a tz-flavor flip in the
    // driver's parquet generation can silently un-push (round 10: the date
    // columns became timestamp_ntz; pushdown held, and must keep holding).
    assert(p.contains("LessThan(o_orderdate"),
      "order-date cutoff must push into the orders scan")
    assert(p.contains("GreaterThan(l_shipdate"),
      "ship-date cutoff must push into the lineitem scan")
  }

  test("q_resample_locf: the planner inserts NO hash shuffle (user_id partitioning reused)") {
    // the only hash exchanges are the EXPLICIT repartition(user_id) at the
    // branch roots (REPARTITION_BY_COL; Spark duplicates the scan across
    // the spine/hourly branches — uncached common lineage); the hourly
    // agg, bounds agg, spine join (broadcast) and LOCF window must all
    // reuse that partitioning, so an ENSURE_REQUIREMENTS hash exchange
    // anywhere means a step stopped being satisfied by it
    val p = SparkEntry.queries("q_resample_locf")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS".r.findFirstIn(p).isEmpty,
      s"planner inserted a hash shuffle — a step no longer reuses the user_id partitioning:\n${p.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length ==
      "REPARTITION_BY_COL".r.findAllIn(p).length,
      s"every hash exchange must be the explicit user_id repartition:\n${p.take(3000)}")
  }

  test("q_funnel shares one user_id shuffle across its three windows and the distinct") {
    val p = SparkEntry.queries("q_funnel")(spark, sf001)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected the chained windows + per-user distinct to reuse one user_id shuffle, got $hashExchanges:\n${p.take(3000)}")
  }

  test("q_funnel_windowed shares one user_id shuffle like its unbounded twin") {
    val p = SparkEntry.queries("q_funnel_windowed")(spark, sf001)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected the time-bound windows + distinct to reuse one user_id shuffle, got $hashExchanges:\n${p.take(3000)}")
  }

  test("q_compaction_plan: the prefix window runs over the (priority, day) rollup") {
    val p = SparkEntry.queries("q_compaction_plan")(spark, sf001)
      .queryExecution.executedPlan.toString
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(2000))
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"the cumulative-size window must consume the per-day rollup, not raw orders:\n${p.take(3000)}")
  }

  test("q_bitmap_distinct builds bitmaps map-side (partial aggregate below the exchange)") {
    // plans as a SortAggregate pair for the bitmap level plus a
    // HashAggregate pair for the popcount sum; what matters at scale is
    // that partial_bitmap_construct_agg runs BELOW its exchange (printed
    // after it, top-down) — 4 KB bucket bitmaps cross the wire, not ids
    val p = SparkEntry.queries("q_bitmap_distinct")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("bitmap_construct_agg"), p.take(2000))
    assert("Exchange hashpartitioning[\\s\\S]{0,800}?partial_bitmap_construct_agg".r
      .findFirstIn(p).isDefined,
      s"bucket bitmaps must partial-aggregate before crossing the wire:\n${p.take(3000)}")
  }

  test("q_sql_q18: IN-subquery plans as a semi join; top-100 avoids a global sort") {
    val p = plan("q_sql_q18")
    assert(p.contains("LeftSemi"),
      "grouped-HAVING IN subquery must decorrelate to a left-semi join")
    assert(p.contains("TakeOrderedAndProject"),
      "SQL top-100 must not plan a global sort")
  }

  test("q_sql_q5: dimension chain broadcasts; region filter reaches the scan") {
    val p = plan("q_sql_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "region→nation (and their consumers) must broadcast, not shuffle")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      "region filter must push into the parquet scan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      "order-date year range must push into the orders scan")
  }

  test("q_cluster_assign broadcasts the centroid table and partial-aggregates the dots") {
    val p = plan("q_cluster_assign")
    assert(p.contains("BroadcastHashJoin"),
      "KxD centroid table must broadcast, never shuffle the exploded lanes")
    val firstHashAgg = p.indexOf("HashAggregate")
    assert(firstHashAgg >= 0 && p.lastIndexOf("HashAggregate") != firstHashAgg,
      "dot-product sums must partial-aggregate map-side")
  }

  test("q_kmeans broadcasts the centroid table every round (lanes never shuffle K ways)") {
    val p = plan("q_kmeans")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge E-step would shuffle the lane frame against K×dims rows")
    // exchange-reuse claim: 5 rounds × (centroid join + E-step + argmin)
    // over the corpus must NOT shuffle the lane frame per round — with AQE
    // off the live plan holds ≤2 corpus repartitions (planner-reused) plus
    // one tiny (c, pos) centroid aggregate exchange per round
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = SparkEntry.queries("q_kmeans")(spark, sf001)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(live.size <= 8,
        s"expected ≤2 reused corpus shuffles + 5 centroid rollups + sort, got ${live.size}:\n$live")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_anomaly_days broadcasts the per-type stats back onto the daily rollup") {
    val p = plan("q_anomaly_days")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_interval_union and q_time_weighted_avg shuffle once on user_id") {
    Seq("q_interval_union", "q_time_weighted_avg").foreach { n =>
      val p = SparkEntry.queries(n)(spark, sf001)
        .queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashExchanges == 1,
        s"$n: expected the windows + per-user aggregate to share one user_id shuffle, got $hashExchanges:\n${p.take(3000)}")
    }
  }

  test("q_equidepth_hist ranks within value bins — the corpus is never sorted on one task") {
    val p = SparkEntry.queries("q_equidepth_hist")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ntile"),
      "the global ntile is the single-reducer corpus sort this rewrite removed")
    assert("\\], \\[bin#\\d+\\], \\[o_totalprice".r.findFirstIn(p).isDefined,
      s"the corpus rank window must be partitioned by the value bin:\n${p.take(3000)}")
    // single-partition exchanges may carry only aggregate rows (the 1-row
    // bounds scalars and the <=RankBins bin-count rollup) — each must sit
    // directly on top of a HashAggregate, never on corpus rows
    val singles = "Exchange SinglePartition[\\s\\S]{0,250}?(HashAggregate|$)".r
      .findAllIn(p).toList
    assert(singles.nonEmpty && singles.forall(_.contains("HashAggregate")),
      s"a SinglePartition exchange is carrying non-aggregated corpus rows:\n${p.take(3000)}")
  }

  test("q_running_records: per-date windows + broadcast prefix maxima, no 5-way parallelism cap") {
    val p = SparkEntry.queries("q_running_records")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert("\\], \\[o_orderpriority#\\d+, o_orderdate#\\d+\\], \\[o_orderkey".r
      .findFirstIn(p).isDefined,
      s"the corpus running max must be partitioned by (priority, date):\n${p.take(3000)}")
    assert("\\], \\[o_orderpriority#\\d+\\], \\[o_orderkey".r.findFirstIn(p).isEmpty,
      "a corpus window keyed only by the 5-value priority caps parallelism at 5")
    assert(p.contains("BroadcastHashJoin"),
      "the per-(priority, date) prefix maxima must broadcast back onto the corpus")
  }

  test("Behavior single-shuffle claims: the user_id repartition is the only corpus shuffle") {
    // each query's scaladoc asserts one user_id shuffle; a second hash
    // exchange is legal ONLY for the final rollup, where it must carry
    // partial-aggregated rows (HashAggregate below the exchange)
    val expected = Map(
      "q_retention" -> 2, "q_event_transitions" -> 2, "q_lateness_audit" -> 2,
      "q_win_streaks" -> 1, "q_golden_record" -> 1, "q_scd2" -> 1,
      "q_win_median" -> 1)
    expected.foreach { case (n, want) =>
      val p = SparkEntry.queries(n)(spark, sf001).queryExecution.executedPlan.toString
      val hash = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hash == want, s"$n: expected $want hash exchanges, got $hash:\n${p.take(3000)}")
      assert("REPARTITION_BY_COL".r.findAllIn(p).length == 1,
        s"$n: the explicit user_id repartition must be the only corpus shuffle")
      if (want == 2)
        assert(("HashAggregate[\\s\\S]{0,600}?Exchange hashpartitioning" +
          "[\\s\\S]{0,600}?HashAggregate").r.findFirstIn(p).isDefined,
          s"$n: the rollup exchange must carry partial-aggregated rows:\n${p.take(3000)}")
    }
  }

  test("q_churn_matrix: every consumer reads the ONE cached user-week shuffle") {
    // the cached frame's internal exchanges print in the string dump but
    // are not live operators — count programmatically, with AQE off so the
    // executed plan is a traversable tree (see q_sessionize note below)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q_churn_matrix")(spark, sf001)
        .queryExecution.executedPlan
      val caches = plan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      assert(caches.size >= 4,
        s"fw/prev/active/churned/maxW must all read the cached user-week frame, saw ${caches.size}")
      val liveHash = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
      // live hash exchanges may carry only (w, status)-keyed aggregate
      // rows; a live exchange keyed on user_id would mean a consumer
      // re-shuffled the user-week corpus instead of reusing the cache
      liveHash.foreach { e =>
        val keys = e.outputPartitioning.asInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning].expressions
        assert(!keys.exists(_.toString.contains("user_id")),
          s"a consumer re-shuffled the user-week frame on the user key: $e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_sessionize shuffles once on user_id (window + groupBy share the partitioning)") {
    // count Exchange OPERATORS ('Exchange hashpartitioning' node headers),
    // not bare 'hashpartitioning(' substrings — the bare token also appears
    // in output-partitioning annotations without any real exchange existing
    // (collecting ShuffleExchangeLike nodes doesn't work here: the
    // AdaptiveSparkPlanExec root hides its input plan from collect())
    val p = SparkEntry.queries("q_sessionize")(spark, sf001)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected one hash shuffle (groupBy must reuse the window's user_id partitioning), got $hashExchanges:\n${p.take(3000)}")
  }

  test("q_skyline: corpus filtered by broadcast of the size rollup, no corpus sort") {
    val p = SparkEntry.queries("q_skyline")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the per-size prefix minima must broadcast back onto the corpus")
    // the only single-partition exchange may carry the <=50-row size
    // rollup (aggregate rows), never the corpus
    val singles = "Exchange SinglePartition[\\s\\S]{0,250}?(HashAggregate|$)".r
      .findAllIn(p).toList
    assert(singles.forall(_.contains("HashAggregate")),
      s"a SinglePartition exchange is carrying non-aggregated corpus rows:\n${p.take(3000)}")
  }

  test("q_gini: rank window runs over the value-grouped rollup, not raw customers") {
    val p = SparkEntry.queries("q_gini")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the window's input must be the (nation, cents) aggregate: a
    // HashAggregate below the Window in the same plan path
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(2000))
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"the prefix-count window must consume the value-grouped rollup:\n${p.take(3000)}")
    assert("\\[c_nationkey#\\d+\\], \\[cents".r.findFirstIn(p).isDefined,
      s"window must be partitioned by nation and ordered by cents:\n${p.take(3000)}")
  }

  test("q_market_basket: global top-20 is a TakeOrderedAndProject, stats attach to 20 rows") {
    val p = plan("q_market_basket")
    assert(p.contains("TakeOrderedAndProject"),
      "pair top-20 must be per-partition heaps, not a corpus sort")
  }

  test("q_ngram_lm: per-head top-3 prunes via WindowGroupLimit over the full bigram table") {
    val p = plan("q_ngram_lm")
    assert(p.contains("WindowGroupLimit"),
      "rn<=3 must push down as WindowGroupLimit, not sort every head's continuations")
    assert(p.contains("TakeOrderedAndProject"),
      "head top-20 must be per-partition heaps")
  }

  test("q_corr_matrix: all 15 power sums ride ONE corpus aggregation pass") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // ENSURE_REQUIREMENTS exchanges are the aggregation's own shuffles —
      // exactly one may exist (the single groupBy carrying every power
      // sum). A REPARTITION_BY_COL exchange is the layout-gated scan
      // spread (Tables.spread — fires only on inputs too narrow to split,
      // never at production layouts) and is allowed but not required.
      val live = SparkEntry.queries("q_corr_matrix")(spark, sf001)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
              && e.shuffleOrigin ==
                org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e }
      assert(live.size == 1,
        s"expected exactly one aggregation hash shuffle (the single groupBy carrying every power sum), got ${live.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("Tables.spread/spreadFrom: layout gate fires on narrow inputs, no-ops on wide ones") {
    // narrow branch: the test tables are single-row-group files far below
    // defaultParallelism * maxPartitionBytes, so the gate must insert the
    // repartition (DataFrame path) / the REPARTITION subquery (SQL path)
    val narrow = Tables.spread(spark, sf001, "lineitem",
      org.apache.spark.sql.functions.col("l_orderkey"))
    assert(narrow.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.nonEmpty, "narrow input must be spread")
    assert(Tables.spreadFrom(spark, sf001, "lineitem", "l_orderkey")
      .startsWith("(SELECT /*+ REPARTITION"), "narrow input must get the hint subquery")
    // wide branch: shrink maxPartitionBytes so the same bytes yield >=
    // defaultParallelism/2 splits — the gate must return the bare reader
    // (this is the production-layout posture: no extra exchange, map-side
    // partial aggregation preserved)
    val was = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val wide = Tables.spread(spark, sf001, "lineitem",
        org.apache.spark.sql.functions.col("l_orderkey"))
      assert(wide.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
        }.isEmpty, "wide input must stay untouched")
      assert(Tables.spreadFrom(spark, sf001, "lineitem", "l_orderkey")
        .startsWith("parquet."), "wide input must keep the bare table ref")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", was)
  }

  test("q_bfs_dist: every round reads the cached edge frame; shuffles stay bounded") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = SparkEntry.queries("q_bfs_dist")(spark, sf001)
        .queryExecution.executedPlan
      // with the memoized edge checkpoint the six symz subtrees are
      // IDENTICAL, so Spark collapses rounds 2..6 into ReusedExchangeExec
      // references — count both direct scans and reuses
      val caches = live.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      val reused = live.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r }
      assert(caches.size + reused.size >= graft.queries.VectorOps.BfsRounds,
        s"each relaxation round must read the cached symz frame (directly or " +
          s"via exchange reuse), saw ${caches.size}+${reused.size}")
      val shuffles = live.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(shuffles.size <= graft.queries.VectorOps.BfsRounds + 4,
        s"per-round cost must be one min-aggregate shuffle, got ${shuffles.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_join_bloom: the probe filter prunes the fact side BELOW its shuffle") {
    val p = plan("q_join_bloom")
    assert(p.contains("SortMergeJoin"), "merge hint must pin the shuffle-join scenario")
    // the filter must arrive as a LITERAL (driver-collected one-row
    // aggregate, Spark's own runtime-filter shape) — a broadcast-joined
    // bitmap COLUMN would re-copy the 128 KB array per probed row
    // (UnsafeRow.getBinary) and shows up as a BNLJ in the plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the bloom bitmap must reach the probe as a literal, not a joined column")
    // formatted-mode details print in operator-number order (children
    // numbered before parents), so the probe filter's detail section must
    // precede the fact-side exchange's — i.e. it executes under the shuffle
    val probe = p.indexOf("graft_bloom_contains")
    val exch = p.indexOf("hashpartitioning(l_orderkey")
    assert(probe >= 0, "bloom probe missing from the plan")
    assert(exch > probe,
      s"the bloom probe (at $probe) must sit under the fact-side exchange (at $exch)")
  }

  test("q_hits: every round reads the cached mode-tagged edge frame") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = SparkEntry.queries("q_hits")(spark, sf001)
        .queryExecution.executedPlan
      val caches = live.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      assert(caches.size >= graft.queries.VectorOps.HitsRounds,
        s"each Jacobi round must read the cached em frame, saw ${caches.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_rolling_corr: the unpartitioned window runs over the daily rollup only") {
    val p = SparkEntry.queries("q_rolling_corr")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the single-partition exchange may only carry the per-day aggregate
    // (HashAggregate below it), never raw events
    val singles = "Exchange SinglePartition[\\s\\S]{0,400}?(HashAggregate|$)".r
      .findAllIn(p).toList
    assert(singles.nonEmpty && singles.forall(_.contains("HashAggregate")),
      s"the 30-row window must consume the daily rollup:\n${p.take(3000)}")
  }

  test("q_triangle_count: wedge and closing joins are equi-joins, never nested loops") {
    // the cached ngramPairs edge frame carries a (declared) scalar BNLJ in
    // its PRINTED child plan, so inspect the live tree instead: with AQE
    // off, InMemoryTableScan is a leaf and only this query's own joins
    // appear — none of them may be a nested loop over the wedge space
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = SparkEntry.queries("q_triangle_count")(spark, sf001)
        .queryExecution.executedPlan
      val loops = live.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }
      assert(loops.isEmpty,
        s"wedge enumeration must stay an equi-join on the apex/closing pair, got:\n$loops")
      val equis = live.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
      assert(equis.size >= 3,
        s"expected the degree/wedge/closing joins as hash or merge equi-joins, got ${equis.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_topn_diversified: per-group cap via WindowGroupLimit, global cut via TakeOrderedAndProject") {
    val p = plan("q_topn_diversified")
    assert(p.contains("WindowGroupLimit"),
      "the rn<=2 filter must prune to 2-row heaps below the window sort")
    assert(p.contains("TakeOrderedAndProject"),
      "the global top-20 must be per-partition heaps, never a full sort")
  }

  test("q_join_salted: the join keys carry the salt (hot keys split R ways)") {
    val p = plan("q_join_salted")
    assert(p.contains("SortMergeJoin"), "merge hint must pin the shuffle-join scenario")
    assert("hashpartitioning\\(l_orderkey#\\d+L, salt#\\d+".r.findFirstIn(p).isDefined,
      s"the fact-side exchange must partition on (key, salt):\n${p.take(3000)}")
    // the R-element salt sequence constant-folds to an array literal, so
    // match the Generate that emits the dim-side salt column
    assert("explode\\([\\s\\S]{0,200}?\\[salt#\\d+\\]".r.findFirstIn(p).isDefined,
      s"the dim side must replicate each key R times via the salt explode:\n${p.take(3000)}")
  }

  test("q_edge_jaccard: wedge and membership joins stay equi-joins over the memoized edges") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = SparkEntry.queries("q_edge_jaccard")(spark, sf001)
        .queryExecution.executedPlan
      val loops = live.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }
      assert(loops.isEmpty, s"common-neighbor enumeration must stay equi-joins, got:\n$loops")
      val equis = live.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
      assert(equis.size >= 4,
        s"expected degree/wedge/membership joins as hash or merge equi-joins, got ${equis.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("q_rolling_active: coverage explode + broadcast day domain, never a per-day distinct") {
    val p = SparkEntry.queries("q_rolling_active")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate explode(sequence("),
      "the sliding distinct must run as bounded coverage-interval explode")
    assert(p.contains("BroadcastHashJoin"),
      "the observed-day restriction must broadcast the tiny day domain")
    assert(!p.toLowerCase.contains("distinct") || !p.contains("count(distinct"),
      "WAU must be a plain count of unique-by-construction coverage rows")
    // one user_id shuffle (lead window + the day-domain/coverage rollups
    // carry partial aggregates only)
    assert("\\], \\[user_id#\\d+L\\], \\[d#\\d+".r.findFirstIn(p).isDefined,
      s"the next-activity window must partition on user_id:\n${p.take(3000)}")
  }

  test("q_sql_q7 broadcasts both nation roles; filters reach the dimension scans") {
    val p = plan("q_sql_q7")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"both nation alias joins must broadcast, saw $bhj")
    assert(p.contains("n_name"), p.take(500))
  }

  test("q_sample_group: the per-source quota prunes via WindowGroupLimit heaps") {
    val p = plan("q_sample_group")
    assert(p.contains("WindowGroupLimit"),
      "the rn<=20 filter must prune to 20-row heaps below the window sort")
  }

  test("q_hist2d aggregates the grid in two phases (partial before the exchange)") {
    val p = plan("q_hist2d")
    val firstHashAgg = p.indexOf("HashAggregate")
    assert(firstHashAgg >= 0 && p.lastIndexOf("HashAggregate") != firstHashAgg,
      "expected partial + final HashAggregate pair over the synthesized bins")
  }

  test("q_cdc_apply: latest-change dedup prunes via WindowGroupLimit 1-row heaps") {
    val p = plan("q_cdc_apply")
    assert(p.contains("WindowGroupLimit"),
      "the rn=1 filter must prune to 1-row heaps below the window sort")
  }

  test("q_rank_norm: the corpus rank window is partitioned by (dim, bucket), never dim alone") {
    val p = SparkEntry.queries("q_rank_norm")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert("\\], \\[dim#\\d+, b#\\d+\\], \\[v#\\d+".r.findFirstIn(p).isDefined,
      s"the within-bucket window must partition on (dim, b):\n${p.take(3000)}")
    assert("\\], \\[dim#\\d+\\], \\[v#\\d+".r.findFirstIn(p).isEmpty,
      "a corpus window keyed only by dim caps parallelism at n_dims")
    // the per-dim stats and offsets ride in as broadcasts, not shuffles of
    // the lane frame
    assert(p.contains("BroadcastHashJoin"),
      "stats/offsets must broadcast back onto the lane frame")
  }

  test("q_lm_score: LM build and scoring stay keyed joins, never nested loops") {
    val p = plan("q_lm_score")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair-keyed LM joins must be hash/sort-merge equi-joins")
    val firstHashAgg = p.indexOf("HashAggregate")
    assert(firstHashAgg >= 0 && p.lastIndexOf("HashAggregate") != firstHashAgg,
      "LM counts must aggregate partial-before-exchange")
  }

  test("q_token_budget: the cumsum window is per-language; budgets broadcast") {
    val p = SparkEntry.queries("q_token_budget")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "the token cumsum must run under the lang partitioning, never one partition")
    assert(p.contains("BroadcastHashJoin"),
      "the per-language budget table must broadcast back onto the corpus")
  }

  test("q_ks_test: only the distinct-value grid crosses the global window; argmax is TakeOrdered") {
    val p = plan("q_ks_test")
    assert(p.contains("TakeOrderedAndProject"),
      "the D argmax must be a top-1 heap, never a global sort")
    val firstHashAgg = p.indexOf("HashAggregate")
    assert(firstHashAgg >= 0 && p.lastIndexOf("HashAggregate") != firstHashAgg,
      "the value-grid rollup must aggregate partial-before-exchange so only " +
        "distinct values reach the single-partition window")
  }

  test("q_outlier_mad: the 5-row med/mad intermediates broadcast, never shuffle the corpus") {
    val p = plan("q_outlier_mad")
    assert(p.contains("BroadcastHashJoin"), "med/mad must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here would shuffle the corpus against a 5-row side")
  }

  test("q_dataset_card: the prefix-dup side pre-aggregates; no self-join of the corpus") {
    val p = plan("q_dataset_card")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "base and dup rollups are 5-row frames — their join must broadcast")
  }

  test("q_dup_profile: distinct counts are two-phase aggs, no corpus window or self-join") {
    val p = plan("q_dup_profile")
    assert(!p.contains("CartesianProduct") && !p.contains(" Window"),
      "the per-source profile must need no window and no self-join")
    val firstHashAgg = p.indexOf("HashAggregate")
    assert(firstHashAgg >= 0 && p.lastIndexOf("HashAggregate") != firstHashAgg,
      "distinct-count must plan as partial+final aggregate pairs")
  }

  test("q_source_overlap: the posting self-join stays a line-keyed equi-join") {
    val p = plan("q_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the source-pair enumeration must ride the line posting lists, " +
        "never an all-pairs nested loop")
  }

  test("q_sql_q4: the correlated EXISTS decorrelates to one LeftSemi; dates pushed") {
    val p = plan("q_sql_q4")
    assert(p.contains("LeftSemi"),
      "Catalyst must rewrite the EXISTS probe to a left-semi join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "the order-date window must reach the orders scan as a pushed filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q19: the disjunctive bands push to BOTH scans; one equi-join survives") {
    val p = plan("q_sql_q19")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(Or("),
      "the quantity-band OR must reach the lineitem scan")
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand"),
      "the (brand, size) band OR must reach the part scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the OR must never decompose into a union of joins or a nested loop")
  }

  test("q_sql_q15: quarter filter pushed; supplier side broadcasts; no nested loop") {
    val p = plan("q_sql_q15")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the quarter window must reach the lineitem scan as a pushed filter")
    assert(p.contains("BroadcastHashJoin"),
      "the supplier dimension (or the 1-row max probe) must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q17: correlated scalar subqueries decorrelate; no per-row rescan") {
    val p = plan("q_sql_q17")
    assert(p.contains("LessThanOrEqual(p_size,10)"),
      "the part size filter must push into the part scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the per-part threshold must decorrelate to an aggregate join, " +
        "never a per-row re-scan of lineitem")
  }

  test("q_sql_q22: NOT EXISTS plans as LeftAnti; nation pool filter pushed") {
    val p = plan("q_sql_q22")
    assert(p.contains("LeftAnti"),
      "the no-urgent-order predicate must plan as a left-anti hash join")
    assert(p.contains("In(c_nationkey"),
      "the nation cohort IN-list must push into the customer scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_filter_funnel and q_span_mask keep their linear scale shapes") {
    // funnel: one corpus scan into a domain-bounded agg — a join or a
    // window would mean per-doc stats leaked into a second corpus pass
    val pf = plan("q_filter_funnel")
    assert(!pf.contains("Join") && !pf.contains("Window"),
      "the funnel is one scan + one agg; no second corpus structure")
    assert("HashAggregate".r.findAllIn(pf).size >= 2,
      "stage rollup must be a partial+final aggregate pair")
    // span_mask: the (doc, lane) rebuild must aggregate, never window over
    // the token stream (a window would sort the whole corpus of tokens)
    val ps = plan("q_span_mask")
    assert(!ps.contains("Window"),
      "the lane rebuild is collect_list in an aggregate, not a window sort")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q6: the query IS its scan — all three predicates pushed, two-phase agg") {
    val p = plan("q_sql_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "the ship-year window must reach the lineitem scan")
    assert(p.contains("LessThan(l_quantity,24.0)"),
      "the quantity cap must reach the scan")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.02)"),
      "the discount band must reach the scan — a decimal CAST on the " +
        "column would block it; the band compares raw stored doubles " +
        "against literals (bit-identical in both engines), the decimal " +
        "cast is only for the sum")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregate over the pruned read")
    assert(!p.contains("Join"), "Q6 must not acquire a join")
  }

  test("q_sql_q9 and q_sql_q12: date windows pushed, single-pass conditional aggs") {
    val p9 = plan("q_sql_q9")
    assert(p9.contains("StringContains(p_name,gear)"),
      "the infix LIKE must still reach the part scan as a contains filter")
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoopJoin"))
    val p12 = plan("q_sql_q12")
    assert(p12.contains("GreaterThanOrEqual(l_shipdate"),
      "the ship window must reach the lineitem scan")
    assert("HashAggregate".r.findAllIn(p12).size >= 2,
      "the high/low split is CASE inside one aggregate pass, never two scans")
    assert(!p12.contains("CartesianProduct") && !p12.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q2: the correlated MIN decorrelates to an aggregate join") {
    val p = plan("q_sql_q2")
    assert(p.contains("LessThanOrEqual(p_size,5)"),
      "the part size filter must push into the part scan")
    assert(p.contains("min("),
      "the per-part minimum must appear as a decorrelated aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the min-equality probe must never become a per-row lineitem rescan")
  }

  test("q_sql_q8: 8-relation join — filters pushed, dimensions broadcast, no nested loop") {
    val p = plan("q_sql_q8")
    assert(p.contains("EqualTo(p_type,PROMO)"),
      "the part-type filter must push into the part scan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "the two-year window must reach the orders scan")
    assert(p.contains("BroadcastHashJoin"),
      "the dimension chain (part/supplier/nation roles/region) must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q21: both correlations decorrelate — one LeftSemi AND one LeftAnti") {
    val p = plan("q_sql_q21")
    assert(p.contains("LeftSemi"),
      "the other-supplier EXISTS must plan as a left-semi join on l_orderkey")
    assert(p.contains("LeftAnti"),
      "the no-other-late NOT EXISTS must plan as a left-anti join on l_orderkey")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      "the order-status filter must push into the orders scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "neither correlated probe may fall back to per-row execution")
  }

  test("q_sql_q13: the outer join survives; both aggregations are partial+final") {
    val p = plan("q_sql_q13")
    assert(p.contains("LeftOuter"),
      "zero-order customers are the point — the LEFT OUTER join must " +
        "survive optimization (the priority exclusion rides the join condition)")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both aggregation levels must be partial+final pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q16: NOT IN plans as an anti join; part predicates pushed") {
    val p = plan("q_sql_q16")
    assert(p.contains("LeftAnti"),
      "the supplier NOT IN must plan as an anti join, never a per-row filter")
    assert(p.contains("In(p_size"),
      "the size IN-list must push into the part scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sql_q20: the nested IN chain decorrelates to two semi joins") {
    val p = plan("q_sql_q20")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "both IN levels must decorrelate to semi joins — the supplier probe " +
        "and the small-part probe")
    assert(p.contains("StringStartsWith(p_name,small)"),
      "the part-name prefix must push into the part scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_semdedup: the pair stage is a cluster-keyed equi-join, dot codegen'd") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"),
      "pairwise cosine must ride the cluster equi-join — quadratic in the " +
        "cluster, never in the corpus")
    // exactly ONE BroadcastNestedLoopJoin is sanctioned: the nearest-
    // centroid fan-out against the broadcast ≤4096-row quantizer table
    // (bounded build side by semK's clamp); a second one would mean the
    // PAIR stage degenerated to a nested loop
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1,
      "only the centroid fan-out may be a BNLJ")
    assert(p.contains("graft_dot"),
      "the per-pair kernel must be the codegen'd dot expression")
  }

  test("q_autocorr and q_conversion_lag: lag/first-event joins stay equi-joins") {
    Seq("q_autocorr", "q_conversion_lag").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on its keys (day arithmetic / user_id), never nested-loop")
    }
  }
}
