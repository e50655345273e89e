package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up must hold in the executed plan, not just in intent. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, testDataDir)
      .queryExecution.executedPlan.toString

  test("q1: filter and column pruning reach the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // projection pruned to the 6 used columns, not the full 11-column row
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount"))
    assert(p.contains("partial_sum")) // map-side combine before the exchange
  }

  test("q5: dimension joins broadcast instead of shuffling the fact table") {
    val p = plan("q5_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin")) // at this SF everything broadcasts
  }

  test("a1: distinct count runs as two-phase partial aggregation") {
    val p = plan("a1_composite_agg")
    assert(p.contains("partial_count(distinct"))
  }

  test("prod hash mode changes the hash expression, not the plan shape") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, testDataDir)
    def cdcPlan(mode: String) = Dedup.cdcChunkDedup(docs,
        col("doc_id"), col("text"), divisor = 8, hashMode = mode)
      .queryExecution.executedPlan.toString
    val oracle = cdcPlan("oracle"); val prod = cdcPlan("prod")
    def exchanges(p: String) =
      "(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size
    // the hash is a cost knob, not a semantics knob: flipping it must
    // leave every exchange in place — same shuffle budget, cheaper scan
    assert(exchanges(oracle) == exchanges(prod),
      s"exchange count drifted between hash modes:\n$oracle\n----\n$prod")
    assert(prod.contains("xxhash64") && !prod.contains("graft_hash60"))
    assert(oracle.contains("graft_hash60") && !oracle.contains("xxhash64"))
  }

  test("rfm scale mode: no unpartitioned WindowExec anywhere in the plan") {
    import graft.operators.MetricsKernel
    val events = Tables.events(spark, testDataDir)
    val scale = MetricsKernel.rfmSegments(events, col("user_id"),
      col("ts"), col("value"), mode = "scale")
      .queryExecution.executedPlan.toString
    // the scale path replaces all three ntile windows with an
    // approx_percentile aggregate + broadcast threshold compare: the plan
    // must contain NO window operator at all, and the threshold/gmax
    // frames must come back as broadcasts, not shuffles
    assert(!scale.contains("Window"), s"scale mode still windows:\n$scale")
    assert(scale.contains("BroadcastNestedLoopJoin") ||
      scale.contains("BroadcastExchange"),
      s"thresholds not broadcast:\n$scale")
    // parity mode keeps the oracle-graded ntile cut — and is the ONLY
    // place the unpartitioned window is allowed to exist
    val parity = MetricsKernel.rfmSegments(events, col("user_id"),
      col("ts"), col("value"), mode = "parity")
      .queryExecution.executedPlan.toString
    assert(parity.contains("Window"), "parity mode lost its ntile windows")
  }

  test("ann top-k: per-partition group limit runs before the shuffle") {
    val p = plan("v_ann_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("vec_dot")) // native expression in the fused projection
  }

  test("api landing page: time-range pushdown matches the on-disk ts layout") {
    // Tables.events is schema-adaptive (TablesSchemaSpec). The time-range
    // plan shape follows the layout: with µs-stored timestamps the cast is
    // transparent to filter pushdown and the range MUST reach the scan;
    // with the legacy nanos-as-long layout `ts` is rebuilt from a long so
    // the range can only evaluate post-scan (the engine's own bronze
    // layout — Ingest.writeBronze partitioned by event_date — restores
    // pruning there, asserted in IngestReportSpec).
    // the long user_id In-list otherwise truncates PushedFilters before
    // the range entries appear in the plan string
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val p =
      try SparkEntry.queries("api_landing_page")(spark, testDataDir)
        .queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    val nanosLayout = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$testDataDir/events.parquet")
        .schema("ts").dataType == org.apache.spark.sql.types.LongType
    }
    if (nanosLayout) {
      assert(p.contains("timestamp_micros")) // range evaluates post-scan
      assert(!p.contains("GreaterThanOrEqual(ts")) // ...not in PushedFilters
    } else {
      assert(p.contains("GreaterThanOrEqual(ts"), // range reaches the scan
        s"ts range filter not pushed down:\n$p")
    }
    // the numeric user-id In-filter pushes down under either layout
    assert(p.contains("In(user_id"))
  }

  test("api dataset/portal/repository filters are resolved id lists, not modulo filters") {
    // the reference resolves families, portals and nodes to an id list
    // through a materialized identifiers dimension and sends one `terms`
    // filter; the graded plan must show that list — an INSET on user_id
    // from the dims' driver index — with no modulo stand-in and no join
    for ((name, modulo) <- Seq("api_dataset_family" -> "% 50",
        "api_portal_query" -> "% 7", "api_repository_profile" -> "pmod")) {
      val p = plan(name)
      assert(p.contains("user_id") && p.contains(" INSET "),
        s"$name: no resolved id list:\n$p")
      assert(!p.contains(modulo) && !p.contains("element_at"),
        s"$name: membership still a modulo stand-in:\n$p")
      assert(!p.contains("Join"), s"$name: membership still a join:\n$p")
    }
  }

  test("api dataset family: members come from the dim alone, no shuffle join") {
    // the family expansion reads the family dim's driver index: the fact
    // scan is filtered by the resolved id list, with no runtime bloom
    // filter subquery rescanning the fact table and no join at all, in the
    // initial or the final plan
    val df = SparkEntry.queries("api_dataset_family")(spark, testDataDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(" INSET "), s"no resolved id list:\n$p")
    assert(!p.contains("bloom_filter_agg"), s"fact-table bloom subquery:\n$p")
    assert(!p.contains("Join"), s"join:\n$p")
  }

  test("counter report and api node paths join the broadcast node dim") {
    // node/country attribution is a materialized dimension joined with a
    // BroadcastHashJoin (J6) — the dim build's element_at/pmod formulas are
    // checkpointed away, so the executed query plan must show the join and
    // no modulo lookup on the fact side. (The API's repository filter reads
    // the node dim's driver index instead: see the resolved-id-list test.)
    for (name <- Seq("r_counter_flat", "api_user_charts")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: no broadcast dim join:\n$p")
      assert(!p.contains("pmod") && !p.contains("element_at"),
        s"$name: attribution still a constant-folded lookup in the plan")
    }
  }

  test("sampling and cleaning passes are shuffle-free single stages") {
    // both must survive 100 TB as pure scan→project→filter pipelines:
    // any Exchange here would mean the corpus moves for a per-row decision
    val sample = plan("t_stratified_sample")
    assert(!sample.contains("Exchange"))
    val clean = plan("t_clean_pipeline")
    assert(!clean.contains("Exchange"))
    assert(clean.contains("*(")) // fused codegen stage(s) over the scan
  }

  test("bronze slice prunes event_date partitions at planning time") {
    // the graded s2_bronze_slice plan must carry the date range as
    // PartitionFilters on the bronze scan — listing-time pruning, the
    // property that bounds scanned bytes at 100 TB
    val p = plan("s2_bronze_slice")
    assert(p.contains("PartitionFilters: [isnotnull(event_date"),
      s"no partition filters on the bronze scan:\n$p")
    assert(p.contains("(event_date#") && p.contains(">= 2024-01-10"),
      s"date range not in the partition filters:\n$p")
  }

  test("bm25/tfidf build with zero driver actions (corpus stats stay in-plan)") {
    // (N, avgdl) must be a one-row aggregate cross-joined into the plan —
    // a docs.count()/head() here would mean extra full corpus scans before
    // the main job at 100 TB
    val sc = spark.sparkContext
    // every spark.read.parquet runs one single-stage footer/listing job —
    // that belongs to the read. What must NOT appear is a multi-stage job
    // (a count()/head() aggregation scans the corpus and shuffles)
    val before = sc.statusTracker.getJobIdsForGroup(null).toSet
    SparkEntry.queries("t_bm25")(spark, testDataDir)
    SparkEntry.queries("t_tfidf")(spark, testDataDir)
    val jobs = sc.statusTracker.getJobIdsForGroup(null).toSet -- before
    assert(jobs.size <= 2, s"construction ran ${jobs.size} jobs (expected ≤2 reads)")
    jobs.foreach { id =>
      val stages = sc.statusTracker.getJobInfo(id).map(_.stageIds.length).getOrElse(0)
      assert(stages <= 1, s"construction job $id has $stages stages — a driver action ran")
    }
  }

  test("dedup groups resolve to a projection over materialized rounds") {
    // the iterative component labels are checkpointed per round; the final
    // frame must be a cheap projection over those blocks, not a replay of
    // the shingle pipeline (which would re-run the corpus scan per consumer)
    val p = plan("d_dedup_groups")
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("Scan parquet")) // no corpus re-scan at consumption
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // at 100 TB a selective dim filter should reach the fact scan as a
    // runtime bloom filter, skipping rows before the shuffle; thresholds
    // are lowered here because the test tables are far below the
    // production defaults (10 MB creation / 10 GB application sides)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join shape
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val dim = Tables.orders(spark, testDataDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, testDataDir)
      val plan = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
        .queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("j1 scale mode plans a hash equi-join, never a nested loop") {
    // the normalized-ID scale path (Joins.idMatchJoin "scale") must plan
    // as a hash join on the canonical DOI — a BroadcastNestedLoopJoin here
    // would mean the O(facts × probes) parity fallback leaked into the
    // 100 TB path
    val p = plan("j1_equi_normalized")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"scale mode still a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in the scale plan:\n$p")
  }

  test("geoip range lookup runs as an equi-join, not a nested loop") {
    val p = plan("f_geoip_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("salted join is exact vs plain join and spreads the hot key") {
    import spark.implicits._
    // skewed large side: 90% of rows share key 1
    val large = (1L to 2000L).map(i =>
      (if (i % 10 == 0) i % 5 else 1L, i)).toDF("k", "payload")
    val small = Seq((1L, "a"), (2L, "b"), (3L, "c"), (0L, "z")).toDF("k", "v")
    val plain = large.join(small, "k")
      .select("k", "payload", "v").collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(large, small, "k", col("payload"), buckets = 8)
      .select("k", "payload", "v").collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
    // the salted large side really does split the hot key across buckets
    val spread = large.withColumn("_salt",
      pmod(hash(col("payload")), lit(8)))
      .filter(col("k") === 1).select("_salt").distinct().count()
    assert(spread > 4)
  }

  test("salted distinct agg is exact vs plain countDistinct") {
    val direct = Tables.events(spark, testDataDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_count"),
        count(lit(1)).as("total_count"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Skew.saltedDistinctAgg(Tables.events(spark, testDataDir),
      Seq(col("event_type")), col("user_id"), buckets = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("repetition battery is a shuffle-free projection chain") {
    // the whole Gopher battery is within-row (sorted-run fold for the top
    // bigram); an Exchange here would mean the corpus shuffles for a
    // per-doc statistic
    val p = plan("t_repetition")
    assert(!p.contains("Exchange"), s"repetition battery shuffles:\n$p")
  }

  test("chunk dedup shuffles exactly twice: chunk window + doc regroup") {
    // first-occurrence window partitions by chunk text, reassembly
    // partial-aggregates on doc id — any third exchange is a regression
    val p = plan("d_chunk_dedup")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 2,
      s"expected exactly 2 exchanges:\n$p")
    // reassembly combines map-side before the doc exchange
    assert(p.contains("partial_count") || p.contains("ObjectHashAggregate"),
      s"no partial aggregation before the regroup:\n$p")
  }

  test("CDC chunk dedup keeps the same 2-exchange budget; the fold never shuffles") {
    // the content-defined cut rule and chunk construction are per-row
    // column arithmetic — all the extra work vs the fixed-window chunker
    // must stay inside the scan stage, never as a third exchange
    val p = plan("d_cdc_chunk_dedup")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 2,
      s"expected exactly 2 exchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"union of base + shifted corpus must stay a plain union:\n$p")
  }

  test("asof join is join-free: one window shuffle, no row amplification") {
    // union + running-last formulation — a range-join/argmax plan would
    // show a join operator and per-fact row amplification
    val p = plan("j_asof_row")
    assert(!p.contains("Join"), s"asof must not plan a join:\n$p")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 2,
      s"expected dim-dedup + window exchanges only:\n$p")
  }

  test("heavy hitters: sketch probe is pure arithmetic before the only exchange") {
    // the CMS literal-array probe must stay a map-side filter; the only
    // shuffle is the exact count of surviving candidates
    val p = plan("t_heavy_hitters")
    assert(!p.contains("Join"), s"sketch probe must not be a join:\n$p")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 1,
      s"expected only the exact-count exchange:\n$p")
    assert(p.contains("partial_count")) // map-side combine on candidates
  }

  test("dynamic partition pruning fires when a dim filter implies partitions") {
    // the bronze table partitions by event_date; joining it to a dim
    // filtered at runtime must inject a DPP subquery so only the dim's
    // partitions are scanned — at 100 TB this is the difference between
    // scanning 2 partitions and scanning all of them when the partition
    // predicate only exists in dim data, not as a literal
    SparkEntry.queries("s2_bronze_slice")(spark, testDataDir).count() // latch build
    val bronze = graft.sources.Ingest.readBronze(
      spark, graft.queries.Scratch.dir("bronze_slice", testDataDir))
    // dim must be a real scan with a selective predicate — a literal
    // LocalRelation gets its filter constant-folded away and DPP sees
    // nothing selective to derive a pruning subquery from
    val dim = Tables.events(spark, testDataDir)
      .filter(col("event_type") === "signup" && col("value") > 99.5)
      .select(to_date(col("ts")).as("d")).distinct()
    val q = bronze.join(dim, bronze("event_date") === dim("d"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP subquery on the bronze scan:\n$p")
  }

  test("hll partial merge keeps sketch partial-aggregation map-side") {
    val p = plan("a_hll_partial_merge")
    assert(p.contains("partial_hllsketchagg") || p.contains("partial_hll"),
      s"daily sketch build is not a partial agg:\n$p")
  }

  test("q3 top-k runs as per-partition heaps, not a global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), s"q3 global-sorts:\n$p")
    // both fact-side filters reach their scans
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"))
  }

  test("top-ngrams aggregates the bigram explosion map-side") {
    val p = plan("t_top_ngrams")
    // partial count before the exchange: the shuffle carries distinct
    // bigrams, not one row per corpus token pair
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 global-sorts:\n$p")
  }

  test("int8 quantization is a shuffle-free projection") {
    val p = plan("v_int8_quant")
    assert(!p.contains("Exchange"), s"quantization pass shuffles:\n$p")
  }

  test("filtered vector search pushes the metadata predicate into the scan") {
    val p = plan("v_filtered_topk")
    // the label filter must hit the parquet reader, BEFORE any distance math
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)"),
      s"label filter not pushed:\n$p")
  }

  test("corpus stats aggregate partially before the group shuffle") {
    val p = plan("t_corpus_stats")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side combine:\n$p")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 1,
      s"expected exactly 1 exchange:\n$p")
  }

  test("semantic dedup sub-split: pair join hashes on the cluster path, no nested loop") {
    val p = plan("v_semantic_dedup_split")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"pair join not hash-based:\n$p")
    // the within-cluster pair join keys on the final cluster-path string
    assert(p.contains("BroadcastHashJoin [cid") ||
      p.contains("SortMergeJoin [cid") || p.contains("hashpartitioning(cid"),
      s"no hash join/partitioning on cid:\n$p")
  }

  test("ivf-pq append serve prunes the merged index to the probes' clusters") {
    val p = plan("v_ivfpq_append")
    // the serve scan must read only the probes' nprobe clusters via
    // partition pruning on the merged (built + appended) index
    assert(p.contains("PartitionFilters: [cluster"),
      s"no partition pruning on the appended index:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("budget select cumulates per score bucket; only the offset frame is global") {
    val p = plan("t_budget_select")
    // the corpus-sized running sum must run as windows partitioned by
    // bucket (parallel) — the single-partition exchange is allowed only
    // for the bucket-domain offset frame, never for the corpus
    assert(p.contains("hashpartitioning(bucket"),
      s"corpus cumsum not bucket-partitioned:\n$p")
    assert(p.contains("BroadcastExchange"), // offsets + total join broadcast
      s"offset/total frames not broadcast:\n$p")
  }

  test("epoch shuffle orders within shards, never through a global sort") {
    val p = plan("t_shard_shuffle")
    assert(p.contains("hashpartitioning(shard"),
      s"shard window not hash-partitioned:\n$p")
    // no stage funnels the corpus into one partition
    assert(!p.contains("SinglePartition"), s"global funnel in plan:\n$p")
  }

  test("rag chunking runs at scan speed: a pure explode, zero shuffles") {
    val p = plan("t_rag_chunks")
    assert(!p.contains("Exchange"), s"chunking pass shuffles:\n$p")
    assert(p.contains("Generate explode"), s"no explode in plan:\n$p")
  }

  test("bigram lm joins the dictionary on the equi-key, never a nested loop") {
    val p = plan("t_bigram_logprob")
    // the scored join and both dictionary aggs are hash-based; the only
    // nested-loop is the one-row vocab-size broadcast (the BM25 pattern)
    assert(p.contains("HashJoin"), s"no hash join in plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"more than the one-row stats NLJ:\n$p")
    assert(p.contains("partial_count"), s"dictionary aggs not partial:\n$p")
  }

  test("freq buckets window per language, never through a global sort") {
    val p = plan("t_freq_bucket")
    assert(p.contains("hashpartitioning(lang"),
      s"tercile window not language-partitioned:\n$p")
    assert(!p.contains("SinglePartition"), s"global funnel in plan:\n$p")
  }

  test("TWA: lead window and aggregate share the one user-key exchange") {
    val p = plan("a_time_weighted_avg")
    assert(!p.contains("Join"), s"TWA must be join-free:\n$p")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one user-key exchange:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("SCD2 build: both window passes share ONE key exchange, no join") {
    // the lag collapse and the lead/version stamp declare the same
    // partitioning+ordering — a second hashpartitioning(user_id) exchange
    // (or any join) would mean the dimension log moves twice
    val p = plan("j_scd2_dimension")
    assert(!p.contains("Join"), s"scd2 must be join-free:\n$p")
    assert("(?m)^[\\s:+\\-|*]*Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one key exchange:\n$p")
  }

  test("keywords per source: the per-group cut pre-prunes via WindowGroupLimit") {
    val p = plan("t_keywords_per_source")
    assert(p.contains("WindowGroupLimit"),
      s"per-group top-5 must pre-prune per partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("containment pairs: inverted-index equi-join, never an all-pairs product") {
    val p = plan("d_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"containment candidates must come from the shingle index:\n$p")
  }

  test("significant terms / PMI: top-50 is a heap, totals broadcast one-row") {
    for (name <- Seq("t_significant_terms", "t_pmi_collocations")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: top-k must be a heap, not a global sort:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$name: cartesian in plan:\n$p")
      // the only nested-loop allowed is the broadcast one-row totals frame
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"$name: more than the one-row stats NLJ:\n$p")
      assert(p.contains("partial_count"),
        s"$name: term counts not partially aggregated:\n$p")
    }
  }

  test("kmv sketches build as map-side partials, never a distinct expand") {
    for (name <- Seq("a_kmv_cohort_overlap", "a_kmv_rollup")) {
      val p = plan(name)
      // the whole point of the sketch: ≤ 8k bytes of partial state per
      // cohort per map task — the plan must show the two-phase aggregate
      // and must NOT fall back to a distinct-style Expand of raw members
      assert(p.contains("partial_graft_kmv"),
        s"$name: sketch not partially aggregated:\n$p")
      assert(!p.contains("Expand"),
        s"$name: distinct-expand of raw members in plan:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$name: non-equi join of the sketch table:\n$p")
    }
  }

  test("byte-CDC chunking is pure per-row column work: zero exchanges") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, testDataDir)
    for (mode <- Seq("oracle", "prod")) {
      val p = Dedup.byteCdcChunks(docs, col("doc_id"), col("text"),
          divisor = 64, hashMode = mode)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"byteCdcChunks($mode) shuffles — chunking must run at scan speed:\n$p")
    }
  }

  test("sliding uniques read raw events ONCE; window fan-out is sketch-sized") {
    // AQE plan strings append an "== Initial Plan ==" duplicate — count
    // only the final-plan section
    val p = plan("a_kmv_sliding_uniques").split("== Initial Plan ==")(0)
    // the rolling windows come from the stored daily sketches, so the
    // raw table is scanned exactly once (the daily build) — a raw
    // rolling distinct would scan it per window (or explode it 7×)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected ONE events scan, got $scans:\n$p")
    // both generators run ABOVE the daily sketch aggregate (offset
    // explode + rollup member explode are sketch-sized); raw rows are
    // never exploded — the scan feeds partial_graft_kmv directly
    assert("Generate explode".r.findAllIn(p).size == 2)
    // tree prints top-down: every Generate must appear ABOVE (earlier
    // than) the daily sketch partial-aggregate that consumes raw rows
    val dailyAgg = p.indexOf("partial_graft_kmv(graft_hash60")
    assert(dailyAgg >= 0 && p.lastIndexOf("Generate explode") < dailyAgg,
      s"a Generate sits below the daily aggregate (raw-row explode):\n$p")
  }

  test("kmv pair sketches build map-side too; estimates are pure arithmetic") {
    for (name <- Seq("a_kmv_weighted_overlap", "a_kmv_weighted_rollup",
        "a_kmv_weighted_retention")) {
      val p = plan(name)
      // weighted sketch partials carry ≤ 16k bytes per cohort per map
      // task; the weight estimates are array arithmetic over the ≤ k
      // members — no raw re-join, no distinct expand, no product
      assert(p.contains("partial_graft_kmv_pair"),
        s"$name: pair sketch not partially aggregated:\n$p")
      assert(!p.contains("Expand"),
        s"$name: distinct-expand of raw members in plan:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$name: non-equi join of the sketch table:\n$p")
    }
  }

  test("hist quantile merge: no global sort, no window, summaries broadcast") {
    val p = plan("a_hist_quantile_rollup")
    // the gold merge must stay summary-sized: the cumulative comes from
    // a broadcast bins² self-join, not a global sort or running-total
    // window over the corpus
    assert(!p.contains("Window"), s"windowed cumulative:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"summary frame not broadcast:\n$p")
    val globalSorts = "(?m)^[\\s:+\\-|*]*Sort \\[".r.findAllIn(p).size
    assert(globalSorts == 0, s"sort in a summary-sized merge:\n$p")
    // binning + per-period counts partially aggregate before the exchange
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("sliding top-k merge never re-reads raw; rank windows stay partitioned") {
    val p = plan("a_topk_sliding").split("== Initial Plan ==")(0)
    // the daily summaries materialize ONCE (localCheckpoint — the raw
    // scan + daily top-k build run exactly once, outside this plan);
    // the merge itself reads only the checkpointed gold rows, so NO
    // parquet scan may appear — a raw rolling top-k would scan per
    // window or explode raw rows 7×
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"merge re-reads raw parquet ($scans scans):\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"summaries not materialized once:\n$p")
    // the window explode fans out summary rows (days × k) only
    assert(p.contains("Generate explode"), s"window explode missing:\n$p")
    // the per-window rank is PARTITIONED by window_end, never global
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, s"rank window missing from plan:\n$p")
    winLines.foreach { l =>
      assert(l.contains("window_end#"),
        s"window line carries no partition key (global rank):\n$l")
    }
    // the per-window totals frame travels by broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"window totals not broadcast:\n$p")
  }

  test("sliding hist quantiles merge never re-reads raw; stays summary-sized") {
    val p = plan("a_hist_sliding_quantiles").split("== Initial Plan ==")(0)
    // same materialize-once discipline: the lineitem scan + histogram
    // build run exactly once at the checkpoint; the merge reads gold
    // rows only
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"merge re-reads raw parquet ($scans scans):\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"summaries not materialized once:\n$p")
    assert(p.contains("Generate explode"), s"window explode missing:\n$p")
    // same guarantees as the rollup merge: no window cumulative, no
    // global sort, summary frames broadcast
    assert(!p.contains("Window"), s"windowed cumulative:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"window-keyed summary frame not broadcast:\n$p")
    val globalSorts = "(?m)^[\\s:+\\-|*]*Sort \\[".r.findAllIn(p).size
    assert(globalSorts == 0, s"sort in a summary-sized merge:\n$p")
  }

  test("triangle counting: equi-joins only, canonical edges materialized once") {
    val p = plan("j_triangle_count").split("== Initial Plan ==")(0)
    // the wedge join and closure probe are hash equi-joins over the
    // oriented edge set — never a cross product or nested loop (the
    // degree orientation is what makes the self-join safe on hubs)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"non-equi join in triangle counting:\n$p")
    // the canonical distinct edge set materializes once; degree,
    // orientation and the closure probe all read the checkpoint instead
    // of re-running the dedup (and the raw lead-window edge build)
    assert(p.contains("Scan ExistingRDD"),
      s"canonical edges not materialized:\n$p")
    assert(!p.contains("Scan parquet"),
      s"raw lineitem re-read after the edge materialization:\n$p")
  }

  test("per-group hist quantiles keep the same summary-sized shape") {
    val p = plan("a_hist_quantile_by_type")
    // the grouped merge keys the cumulative self-join and rank scan on
    // the group: still no unpartitioned window, no global sort, and the
    // per-group frames (≤ bins rows each) travel by broadcast
    assert(!p.contains("Window"), s"windowed cumulative:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"group-keyed summary frame not a broadcast equi-join:\n$p")
    val globalSorts = "(?m)^[\\s:+\\-|*]*Sort \\[".r.findAllIn(
      p.split("== Initial Plan ==")(0)).size
    assert(globalSorts == 0, s"sort in a summary-sized merge:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("RA link prediction: one wedge exchange, broadcast new-links filter") {
    val df = SparkEntry.queries("j_ra_linkpred")(spark, testDataDir)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // r11 adjudication (SCALE.md): Catalyst's PushDownLeftSemiAntiJoin
    // canonicalizes agg-first and anti-first source orders to ONE plan —
    // the anti-join runs as a map-side broadcast FILTER on the wedge
    // stream below the (a, b) aggregation, so the wedge stream crosses
    // the wire exactly once. Pin those invariants, not the source order:
    val anti = p.indexOf("LeftAnti")
    assert(anti >= 0, s"no anti-join in RA plan:\n$p")
    // the new-links filter must not cost its own shuffle at test SF
    assert(p.contains("BroadcastHashJoin") &&
      "BroadcastHashJoin \\[a#\\d+L?, b#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"anti-join not a broadcast pair filter:\n$p")
    // nothing corpus-sized degenerates to a non-equi join. The ONE
    // allowed nested-loop is the lazy audit's one-row broadcast count
    // cross-joined ABOVE the TakeOrdered top-k (topK rows × 1 row —
    // r11 VERDICT #1 replaced the eager collect with this); it must
    // sit above the limit, never under it on the wedge stream
    assert(!p.contains("CartesianProduct"), s"cartesian in RA:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the audit BNLJ, got $bnlj:\n$p")
    // r13 rewrite pin: the wedge stream is generated WITHIN-ROW from
    // per-center sorted neighbor lists (posexplode + tail-slice explode
    // = two Generate nodes), never by a sort-merge self-join of the
    // adjacency — the r12 plan's two adjacency sorts are gone
    assert("Generate ".r.findAllIn(p).size >= 2,
      s"within-row wedge generators missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join in RA at test SF (wedge self-join back?):\n$p")
    assert(p.indexOf("BroadcastNestedLoopJoin") < p.indexOf("TakeOrdered"),
      s"audit BNLJ not above the top-k:\n$p")
    // RUNTIME shuffle budget (the laziness fix removed the eager edge
    // checkpoint, so the distinct edge subtree is textually replicated —
    // ReuseExchange must collapse the five reads onto ONE physical
    // exchange): window edge build + canonical distinct + degree agg +
    // pair agg = at most 4 executed shuffle stages for the whole query
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(fin.contains("isFinalPlan=true"), fin)
    // replicas re-materialize as ReusedExchange (own stage id, same
    // plan_id); the EXECUTED exchanges are the non-reused ones
    val real = "\\+- Exchange hashpartitioning.*?plan_id=(\\d+)".r
      .findAllMatchIn(fin).map(_.group(1)).toSet
    assert(real.size <= 4,
      s"distinct edge exchange not reused (${real.size} executed shuffles):\n$fin")
  }

  test("winnow pairs: one reused fp exchange, fingerprint scan computes once") {
    // the SCALE.md claim behind the 5.5 -> 2.35 s fix: repartition(fp)
    // is the ONLY fp-keyed exchange, ReuseExchange shares it across the
    // popularity count and both self-join sides (the shuffle-free
    // fingerprint scan must not re-run per consumer), and no further
    // fp shuffle appears above it
    val df = SparkEntry.queries("d_winnow_pairs")(spark, testDataDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(fin.contains("isFinalPlan=true"), fin)
    val real = "\\+- Exchange hashpartitioning.*?plan_id=(\\d+)".r
      .findAllMatchIn(fin).map(_.group(1)).toSet
    // repartition(fp) + the (i, j) pair aggregation; anything more means
    // either the scan replicated or the join re-shuffled the fp stream
    assert(real.size <= 3, s"${real.size} executed exchanges:\n$fin")
    val reused = "ReusedExchange".r.findAllIn(fin).size
    assert(reused >= 2, s"fp exchange not shared ($reused reuses):\n$fin")
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoop"), s"non-equi join:\n$fin")
  }

  test("dup-span trim keeps the fraction query's exchange class") {
    // trim = fraction's shuffle budget (gram count shuffle + per-doc
    // position agg + join-back) with the rebuild WITHIN-ROW: no extra
    // corpus-token-grain exchange, no window, no global sort
    val df = SparkEntry.queries("d_dup_span_trim")(spark, testDataDir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(fin.contains("isFinalPlan=true"), fin)
    val real = "\\+- Exchange hashpartitioning.*?plan_id=(\\d+)".r
      .findAllMatchIn(fin).map(_.group(1)).toSet
    assert(real.size <= 4, s"${real.size} executed exchanges:\n$fin")
    assert(!fin.contains("Window"), s"windowed rebuild:\n$fin")
    val globalSorts = "(?m)^[\\s:+\\-|*]*Sort \\[".r.findAllIn(fin).size
    assert(globalSorts == 0 || !fin.contains("Exchange rangepartitioning"),
      s"global sort in trim:\n$fin")
  }

  test("winnowing + temperature mix are shuffle-free scan-speed maps") {
    val wp = plan("t_winnow_fingerprints").split("== Initial Plan ==")(0)
    assert(!wp.contains("Exchange"), s"winnowing shuffles:\n$wp")
    // the O(len) k-gram hash array must be built ONCE per row, not
    // re-inlined into every window slot by CollapseProject: the hash
    // conv() appears a bounded number of times in the plan text
    val convs = "conv\\(".r.findAllIn(wp).size
    assert(convs <= 4, s"hash pass re-inlined per window ($convs):\n$wp")
    val tp = plan("t_temperature_mix").split("== Initial Plan ==")(0)
    // gate is a constant-folded filter: no join, no exchange (the count
    // agg ran driver-side at plan-build time)
    assert(!tp.contains("Exchange") && !tp.contains("Join"),
      s"temperature gate not map-only:\n$tp")
  }

  test("exactSubstr detection: one window-key exchange, reused; no window below the fold") {
    import spark.implicits._
    // the filter-then-verify engine ships every window's key through ONE
    // hash exchange — an explicit repartition that ReuseExchange shares
    // between the bucket count and the join back — and runs no window
    // function until the per-doc coverage fold. Pinned under the at-scale
    // join regime (broadcast off — at corpus size neither side of the
    // key join can broadcast): a planner change that shuffles the key
    // stream twice would re-ship every window of the corpus.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBcast =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (1L to 40L)
        .map(i => (i, (1 to 30).map(t => s"w${(i * 7 + t) % 13}")
          .mkString(" ")))
        .toDF("doc_id", "text")
      val cov = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4)
      cov.collect()
      val fin = cov.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(fin.contains("isFinalPlan=true"), fin)
      val keyShuffles = "\\+- Exchange hashpartitioning\\(key#\\d+L?, \\d+\\).*?plan_id=(\\d+)".r
        .findAllMatchIn(fin).map(_.group(1)).toSet
      assert(keyShuffles.size == 1,
        s"${keyShuffles.size} window-key exchanges:\n$fin")
      assert("ReusedExchange.*hashpartitioning\\(key#".r.findAllIn(fin).size == 1,
        s"window-key exchange not reused:\n$fin")
      // the one Window is the fold's running max; nothing range-partitions
      val windows = "(?m)^[\\s:+\\-|*]*Window \\[.*$".r.findAllIn(fin).toList
      assert(windows.size == 1 && windows.head.contains("max("),
        s"windows beyond the per-doc fold:\n$fin")
      assert(!fin.contains("Exchange rangepartitioning"),
        s"global sort in detection:\n$fin")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      aqeBcast match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("decontamination trims: probe filters the gram stream before any shuffle") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, testDataDir)
    val corpus = docs.filter(col("doc_id") % 61 =!= 0)
    val bench = docs.filter(col("doc_id") % 61 === 0)
    // exact path: the benchmark shingle set probes as a BROADCAST join —
    // the corpus gram stream must never shuffle at gram grain (only the
    // hits-only marks groupBy and the doc-grain trim join exchange)
    val exact = Dedup.decontaminationTrim(corpus, bench,
      col("doc_id"), col("text"), n = 8)
    exact.collect()
    val pe = exact.queryExecution.executedPlan.toString
    assert(pe.contains("BroadcastHashJoin"), s"bench probe not broadcast:\n$pe")
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"), s"product in trim plan:\n$pe")
    // bloom path: the sketch probe is a codegen'd FILTER on the scan
    // side (might_contain below any exchange), then the exact confirm
    // semi-join on the surviving trickle
    val bloom = Dedup.bloomDecontaminationTrim(corpus, bench,
      col("doc_id"), col("text"), n = 8)
    bloom.collect()
    val pb = bloom.queryExecution.executedPlan.toString
    assert(pb.contains("might_contain"), s"bloom probe missing:\n$pb")
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoopJoin"), s"product in bloom plan:\n$pb")
    // and the two paths are bit-identical (FPs removed by the confirm)
    assert(bloom.collect().toSet == exact.collect().toSet,
      "bloom trim diverged from exact trim")
  }
}
