package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards for the scale-critical plan properties
  * the 100 TB posture depends on. PLANS.md snapshots these for human
  * review; this spec makes the load-bearing ones break the build instead
  * of waiting for a reviewer to notice:
  *
  *  - filters/pruning must reach the parquet scan (a scan reading all
  *    columns for a narrow projection multiplies IO at any scale),
  *  - constant-size dims must broadcast (a shuffled 5-row join side means
  *    the fact table shuffled for nothing),
  *  - top-k windows must prune partials before the exchange,
  *  - the LSH scale path must never degenerate into a nested-loop or
  *    cartesian plan — that would silently reintroduce the O(N²) shape it
  *    exists to avoid.
  */
class PlanGuardSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02: filter is pushed to the parquet scan and the schema is pruned") {
    val p = plan("q02_filter_project")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"), "no pushed filters on the scan")
    assert(!p.contains("l_comment"), "unprojected wide column read from parquet")
  }

  test("q01: aggregation is partial before the exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // two HashAggregate nodes (partial below the exchange, final above it)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "aggregation not split partial/final around the exchange")
  }

  test("q05: constant-size dims join via broadcast, not shuffle") {
    val p = plan("q05_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "region/nation dims not broadcast")
  }

  test("q15: window top-N prunes with WindowGroupLimit before the exchange") {
    val p = plan("q15_window_topn")
    assert(p.contains("WindowGroupLimit"), "top-N window materializes full partitions")
  }

  test("q55: the LSH scale path plans no cartesian/nested-loop join") {
    val p = plan("q55_neardup_scale")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "scale path degenerated into an all-pairs join")
  }

  test("q03: top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q03_top_revenue_orders")
    assert(p.contains("TakeOrderedAndProject"), "top-k executes as a global sort")
  }

  test("q89: chunk dedup prunes the scan to (doc_id, text) only") {
    val p = plan("q89_chunk_dedup")
    assert(!p.contains("n_chars") && !p.contains("source"),
      "chunk dedup reads columns it never uses — at 100 TB that is real IO")
  }

  test("q90: semantic dedup's within-cell self-join is an equijoin, not cartesian") {
    val p = plan("q90_semantic_dedup")
    // The centroid assignment crossJoin is a broadcast of k rows (fine);
    // the member-vs-member stage must join on cid, never all-pairs.
    assert(!p.contains("CartesianProduct"),
      "within-cell pruning degenerated into a corpus-wide cross product")
  }

  test("q87: packing shuffles once by shard; the pack agg reuses that partitioning") {
    val p = plan("q87_sequence_packing")
    assert(p.contains("hashpartitioning(shard"),
      "packing window not partitioned by shard (global-sort packing would " +
        "serialize the whole corpus through one partition at scale)")
    // Exactly two exchanges (counted as tree nodes — the formatted explain
    // repeats each node in the detail section): the shard partitioning for
    // the window and the final presentation ORDER BY. A third would mean
    // the (shard, pack_id) aggregation re-shuffled data already co-located
    // by shard.
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      "pack aggregation introduced an extra shuffle over shard-partitioned data")
  }

  test("q96: SCD-2 runs on ONE entity-key hash shuffle (subset-clustering reuse)") {
    val p = plan("q96_scd2_intervals")
    // Both rn windows, the run groupBy, and the version window must all
    // execute on hashpartitioning(user_id): partitioning by user_id
    // satisfies clustering over (user_id, event_type) and (user_id, grp)
    // by the subset rule. A second hash exchange would mean the islands
    // trick re-shuffles the event stream per window at 100 TB.
    // formatted mode lists each Exchange's partitioning on its Arguments
    // line; exactly one hash (+ the presentation ORDER BY's range) allowed
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1,
      "SCD-2 build re-shuffles instead of reusing the user_id partitioning")
  }

  test("q105: triangle counting is all keyed joins — no cartesian/nested-loop") {
    val p = plan("q105_triangle_count")
    // The wedge join and closing-edge semi-join must stay equijoins; a
    // nested-loop here is the O(V²) shape degree orientation exists to
    // prevent on power-law graphs.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle counting degenerated into an all-pairs join")
  }

  test("q106: PageRank iterations are keyed joins; only the 1-row consts broadcast") {
    val p = plan("q106_pagerank_fixedpoint")
    // The per-iteration edges ⋈ ranks joins must stay equijoins; the only
    // nested-loop allowed is the broadcast of the 1-row (n, base) consts.
    assert(!p.contains("CartesianProduct"),
      "a PageRank iteration planned a non-broadcast cartesian join")
    assert(p.contains("BroadcastExchange"), "consts row not broadcast")
  }

  test("q94: BM25 broadcasts the df/corpus-stats sides, never the token stream") {
    val p = plan("q94_bm25_topk")
    assert("BroadcastExchange".r.findAllIn(p).nonEmpty,
      "vocabulary-sized BM25 statistics were not broadcast")
    assert(!p.contains("CartesianProduct"),
      "BM25 scoring degenerated into a cross product of token rows")
  }

  test("q116: the histogram agg is partial/final — skew collapses map-side") {
    val p = plan("q116_histogram_percentiles")
    // The whole point vs q74: the corpus-sized stage is a (key, value)
    // COUNT with map-side combine, so a hot key's rows shrink to <=|V|
    // histogram rows per task BEFORE any shuffle. No partial_count means
    // the hot key's raw rows crossed the wire.
    assert(p.contains("partial_count"),
      "histogram count not partially aggregated before the exchange")
    // ...and q74's skew hazard must be absent: no sort-based percentile
    // over raw values (the only sorts allowed are over histogram rows,
    // which live above the aggregate).
    assert(!p.contains("percentile"),
      "histogram path fell back to sort-based percentile aggregation")
  }

  test("q129: the spatial grid join is an equijoin — never nested-loop") {
    val p = plan("q129_spatial_proximity_join")
    // A cartesian/nested-loop here is the all-pairs O(N²) the cell
    // bucketing exists to avoid; the candidate join must key on the
    // (cell-x, cell-y) pair.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "spatial join degenerated into an all-pairs comparison")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no keyed join found in the grid path")
  }

  test("q130: trip build runs on ONE vehicle-key hash shuffle") {
    val p = plan("q130_trip_segmentation")
    // Both windows ((vehicle_id) and (vehicle_id, trip_seq)) and the trip
    // groupBy must reuse hashpartitioning(vehicle_id) by the subset rule —
    // a second hash exchange would re-shuffle the fix stream per stage.
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1,
      "trip segmentation re-shuffles instead of reusing vehicle_id partitioning")
  }

  test("q134: active-user distincts are partial-aggregated before any exchange") {
    val p = plan("q134_rolling_active_users")
    // The event-scale stage is the (user, day) distinct; without map-side
    // partial aggregation the raw event stream crosses the wire.
    assert(p.contains("partial"), "no map-side partial aggregation in DAU/WAU")
    assert(!p.contains("CartesianProduct"),
      "window contribution explode degenerated into a calendar cross join")
  }

  test("q136: deletion-neighborhood match joins on the block key — no cartesian") {
    val p = plan("q136_pigeonhole_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "fuzzy matching degenerated into the all-pairs edit-distance scan")
  }

  test("q137: decile binning reuses the priority partitioning for the bin agg") {
    val p = plan("q137_decile_binning")
    // NTILE's window partitions by o_orderpriority; the (priority, decile)
    // groupBy is satisfied by the same partitioning (subset rule).
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1,
      "bin aggregation re-shuffles data already co-located by priority")
  }

  // ---- round 6: the remaining headline queries, regression-proofed ----

  test("q30: JSON extract reads only (event_type, props) and partial-aggregates") {
    val p = plan("q30_events_json_extract")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      "scan reads columns the JSON profile never uses — raw IO at any scale")
    assert(p.contains("partial_count"), "no map-side partial aggregation")
  }

  test("q44: the shingle self-join keys on the xxhash64 projection, map-side") {
    val p = plan("q44_ngram_jaccard")
    // The 8-byte hash must be computed BELOW the join (in a Project feeding
    // it) so the exchange ships longs, not ~25-byte trigram strings, and the
    // join compares longs. Either join-key order puts `shash` in the keys.
    assert(p.contains("xxhash64"), "shingle hash projection missing from the plan")
    assert("keys \\[1\\]: \\[shash".r.findAllIn(p.toLowerCase).size >= 2,
      "co-shingle join does not key on the hashed-shingle projection")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "co-shingle join degenerated into an all-pairs comparison")
    assert(p.contains("partial_count"),
      "intersection count not partially aggregated before the exchange")
  }

  test("q44: no operator below the spread exchange evaluates the shingle kernel") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every node, through AQE wrappers and the persisted hash stream
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    def shingles(ps: Seq[SparkPlan]): Boolean = ps.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.CodegenExpressions.ShinglesExpr])))
    val all = nodes(graft.SparkEntry.queries("q44_ngram_jaccard")(spark, sf)
      .queryExecution.executedPlan)
    val spreads = all.collect {
      case e @ ShuffleExchangeExec(_: RoundRobinPartitioning, _, _, _) => e
    }
    assert(spreads.nonEmpty, "no spread exchange in q44's plan")
    assert(shingles(all), "shingle kernel missing from q44's plan")
    // an inferred size(sh) > 0 filter pushed through the spread would run
    // the kernel here, in the one un-spread scan task
    assert(!spreads.exists(e => shingles(nodes(e.child))),
      "shingle kernel evaluated below the spread exchange")
  }

  test("q46: MinHash-LSH plans keyed joins only — the O(N²) it exists to avoid") {
    val p = plan("q46_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation degenerated into an all-pairs join")
    // candidate-pair dedup is a keys-only HashAggregate split around its
    // exchange (partial below, final above) — one node means raw
    // band-bucket pairs crossed the wire undeduplicated
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "candidate dedup not split partial/final around the exchange")
  }

  test("q50: brute-force KNN broadcasts the query side and heap-prunes top-k") {
    val p = plan("q50_knn_bruteforce")
    // The corpus×queries product is intentional (that's what brute force
    // means) — the scale contract is (a) the SMALL query side is the
    // broadcast build side, so the corpus never shuffles, and (b) top-k
    // prunes with per-partition heaps before any exchange.
    assert(p.contains("BroadcastExchange"), "query side not broadcast")
    assert(!p.contains("CartesianProduct"),
      "KNN planned a shuffled cartesian instead of a broadcast product")
    assert(p.contains("WindowGroupLimit"),
      "top-k materializes full per-query score partitions")
  }

  test("q59: curation's per-source top-k prunes partials before the exchange") {
    val p = plan("q59_corpus_curation")
    // WindowGroupLimit must appear BOTH below the exchange (per-partition
    // heap) and above it (final) — one occurrence means full partitions
    // crossed the wire.
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "rank window lacks the partial/final WindowGroupLimit pair")
  }

  test("q60: multimodal profile stays a typed partition-local pipeline") {
    val p = plan("q60_multimodal_profile")
    // Decode/feature/resize run as MapPartitions over the asset objects;
    // only the aggregated profile rows may reach an exchange. A join or
    // non-partial aggregation here would ship raw payload bytes.
    assert(p.contains("MapPartitions"), "media kernel not partition-local")
    assert(p.contains("partial_count"), "profile agg not split partial/final")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "payload-bearing rows routed through a join")
  }

  test("q65: chunking is map-side — the only exchange is the presentation sort") {
    val p = plan("q65_doc_chunking")
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 1,
      "document chunking shuffles chunk rows before the final ORDER BY")
  }

  test("q70: GPS enrichment aggregates partial/final with no extra exchange") {
    val p = plan("q70_gps_enrich_agg")
    assert(p.contains("partial_count"), "no map-side partial aggregation")
    // generator → project → partial agg → exchange → final agg → sort
    // exchange: anything more means the synthetic fix stream re-shuffled.
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      "enrichment pipeline shuffles more than (agg, presentation-sort)")
  }

  // ---- round-6 additions: the new modules' scale-critical properties ----

  test("q155: the doc-scale prefix-sum window partitions by shard") {
    val p = plan("q155_systematic_resample")
    // the two-pass form: raw docs flow through a SHARD-partitioned
    // window; only the shard-count-sized offset table may use an
    // unpartitioned window. A doc-scale global window would serialize
    // the corpus through one partition.
    assert(p.contains("hashpartitioning(shard"),
      "cumulative weights not computed per-shard")
  }

  test("q153: the hash split is map-side — only the split agg shuffles") {
    val p = plan("q153_hash_split")
    // md5-bucket assignment must not shuffle raw docs: one partial/final
    // agg exchange + the presentation sort, nothing else.
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      "content-hash splitting shuffles more than (agg, sort)")
    assert(p.contains("partial_count"), "split agg not partial/final")
  }

  test("q163: the source-pair join stays keyed — never cartesian") {
    val p = plan("q163_source_jaccard_matrix")
    assert(!p.contains("CartesianProduct"),
      "source overlap degenerated into a cross product")
  }

  test("q164: the co-supply pair join is keyed — the only nested-loop is the 1-row stats broadcast") {
    val p = plan("q164_cosupply_projection")
    assert(!p.contains("CartesianProduct"),
      "bipartite projection planned a shuffled cartesian")
    // the supplier-pair self-join on partkey must be a hash/merge join;
    // the one BroadcastNestedLoopJoin allowed is the n_parts_capped
    // 1-row annotation (q106's consts-broadcast policy)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no keyed join in the projection")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "more nested-loop joins than the 1-row stats broadcast explains")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 pairs executes as a global sort")
  }

  test("q161: dedup reclaim never shuffles text — hashes only") {
    val p = plan("q161_dedup_reclaim")
    // every Exchange's input row must carry the md5/source/count columns,
    // never the raw text — the formatted detail block for an Exchange is
    // "(N) Exchange\nInput [k]: [...]"
    val exchanges = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[(.*?)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, "no exchange details found in formatted plan")
    exchanges.foreach(in =>
      assert(!in.contains("text#"), s"raw text crosses an exchange: [$in]"))
  }

  // ---- round-7 additions ----

  test("q177: blocklist scan is map-side — only the pattern agg and sort shuffle") {
    val p = plan("q177_blocklist_scan")
    // the automaton scan + posexplode are map-side; after them only the
    // |patterns|-cardinality count agg and the presentation sort may
    // exchange. A join here would mean the pattern table shuffled docs.
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size == 2,
      "blocklist scan shuffles more than (agg, sort)")
    assert(!p.contains("Join"), "pattern lookup planned as a join")
  }

  test("q179: funnel accounting marks in one pass — dedup window keyed, one agg chain") {
    val p = plan("q179_curation_accounting")
    assert(!p.contains("CartesianProduct"), "funnel planned a cross product")
    // one dedup-key window + one partial/final agg + presentation sort:
    // at most 3 exchanges. Per-stage recounting would multiply these.
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).size <= 3,
      "funnel accounting shuffles more than (window, agg, sort)")
    assert("Window".r.findAllIn(p).nonEmpty, "dedup keep-one window missing")
  }

  test("q180: the byte-balance prefix-sum window partitions by shard") {
    val p = plan("q180_balanced_shards")
    // q155's two-pass law: raw docs only ever flow through a
    // SHARD-partitioned window; the unpartitioned window is reserved
    // for the shard-count-sized offset table.
    assert(p.contains("hashpartitioning(pshard"),
      "cumulative bytes not computed per-shard")
  }

  test("q181: distinctive-terms joins stay keyed; nested-loop only for the 1-row total") {
    val p = plan("q181_distinctive_terms")
    assert(!p.contains("CartesianProduct"),
      "log-odds stats joined as a cross product")
    // one node = two mentions in formatted output (tree + detail block),
    // same counting as the q164 guard
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "more nested-loop joins than the 1-row total broadcast explains")
  }

  test("q188: the sweep-line prefix sum partitions by day shard") {
    val p = plan("q188_peak_concurrency")
    // the q155/q180 two-pass law: instants flow through a DAY-sharded
    // window; only the day-count-sized offset table may be unpartitioned
    assert(p.contains("hashpartitioning(pshard"),
      "sweep-line cumsum not computed per-shard")
  }

  test("q182: Spearman rank windows are keyed by source") {
    val p = plan("q182_spearman_corr")
    assert(p.contains("hashpartitioning(source"),
      "rank windows not partitioned by source")
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      "a doc-scale window serialized through one partition")
  }

  // ---- round-8 additions: the q190-q201 tail ----

  /** Input column lists of every SinglePartition exchange in a
    * formatted plan — the q161 technique specialized: the guard is that
    * ROW-SCALE columns never funnel through one partition; bounded
    * offset/reduction tables may. */
  private def singlePartitionInputs(p: String): Seq[String] =
    ("\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]\\s*" +
      "\\nArguments: SinglePartition").r
      .findAllMatchIn(p).map(_.group(1)).toSeq

  // q190/q198/q204/q214's rank is the STAT-ROUTED GlobalRank (round 9):
  // at this SF the row count sits below the measured ~2M crossover, so
  // the router must take the naive one-window route (the two-pass would
  // pay 3 extra shuffles the BASELINE "globalrank" table shows losing
  // here). The LARGE-input route's no-single-partition shape is guarded
  // at the operator level in GlobalRankSpec (forced rowCount past the
  // crossover) — routing changes the plan, never the rows.

  test("q190: the gains-table rank routed naive at this SF (below the crossover)") {
    val p = plan("q190_decile_lift")
    // naive route = one global window; the two-pass's sharded offset
    // machinery must NOT appear at this size
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "rank window missing")
  }

  test("q198: the Pareto prefix sum routed naive at this SF (below the crossover)") {
    val p = plan("q198_pareto_concentration")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
    assert(p.contains("Window"), "rank/prefix window missing")
  }

  test("q191: incremental LSH stays keyed joins with pushed-down scans") {
    val p = plan("q191_incremental_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "append-only signature matching degenerated into an all-pairs join")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      "incremental split not pushed to the parquet scans")
  }

  test("q196: FK orphan checks are keyed ANTI-joins; cross only for 1-row totals") {
    val p = plan("q196_fk_integrity")
    // four FK edges, each an anti-join (never a filtered outer or a
    // cartesian probe)
    assert("Join type: LeftAnti".r.findAllIn(p).size >= 4,
      "FK orphan probes lost their anti-join shape")
    assert(!p.contains("CartesianProduct"),
      "an FK audit arm planned a shuffled cartesian")
    // the only cross joins allowed are the per-FK 1-row denominator
    // broadcasts (one detail line per node)
    assert("Join type: Cross".r.findAllIn(p).size <= 5,
      "more cross joins than the 1-row denominator broadcasts explain")
  }

  test("q197: the cohort triangle shuffles the order stream ONCE, by customer") {
    val p = plan("q197_cohort_revenue_triangle")
    // cohort window runs on the o_custkey shuffle; after it only the
    // (cohort, months)-sized agg exchange + presentation sort remain
    assert("Arguments: hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1,
      "cohort assignment re-shuffles the order stream")
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 2,
      "more hash shuffles than (customer window, cohort-cell agg)")
  }

  test("q199: basket pairs stay bounded — keyed aggs, broadcast probe, heap top-k") {
    val p = plan("q199_basket_pairs")
    assert(!p.contains("CartesianProduct"),
      "pair expansion planned a cartesian over line items")
    assert(p.contains("TakeOrderedAndProject"),
      "top pairs executes as a global sort")
    // the pair-count agg must be partial/final split around its exchange
    assert(p.contains("partial_count"),
      "pair counting not partially aggregated before the exchange")
  }

  test("q200: the data card reduces per domain — raw text never crosses an exchange") {
    val p = plan("q200_corpus_data_card")
    assert(!p.contains("CartesianProduct"),
      "a domain reduction planned a shuffled cartesian")
    val exchanges = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[(.*?)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, "no exchange details found in formatted plan")
    exchanges.foreach(in =>
      assert(!in.contains("text#") || in.contains("md5"),
        s"raw text crosses an exchange: [$in]"))
  }

  test("q202: winnowing pairs join on the fingerprint hash — never all-pairs") {
    val p = plan("q202_winnowing_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "fingerprint overlap degenerated into an all-pairs comparison")
    // fingerprint SELECTION is in-row (map-side): no exchange keyed on
    // doc_id ALONE may exist (the pre-round-8 Window formulation
    // shuffled every gram by document); the (doc_id, fp) distinct and
    // fp-keyed pairing exchanges are the legitimate ones
    assert(!"hashpartitioning\\(doc_id#\\d+L?, \\d+\\)".r.findFirstIn(p).isDefined,
      "winnowing selection regressed to a doc-keyed Window shuffle")
    assert(p.contains("hashpartitioning(fp"),
      "pairing does not key on the fingerprint hash")
  }

  test("q193: centroid drift aggregates on (label, half) keys — never cartesian") {
    val p = plan("q193_embedding_drift")
    assert(p.contains("hashpartitioning(label"),
      "centroid accumulation not keyed by (label, half)")
    assert(!p.contains("CartesianProduct"),
      "cohort comparison degenerated into a cross product")
  }

  test("q203: repetition stats stay on the row — every hash exchange is source-keyed") {
    val p = plan("q203_repetition_score")
    // the trigram distinct count runs INSIDE one array expression, so
    // nothing larger than (source, scalars) rows may ever shuffle
    val hashes = "Arguments: hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashes.nonEmpty && hashes.forall(_ == "source"),
      s"a non-source hash exchange appeared (grams left the row): $hashes")
    assert(!p.contains("CartesianProduct"), "rollup planned a cross product")
  }

  test("q204: the histogram rank routed naive at this SF (below the crossover)") {
    val p = plan("q204_equidepth_histogram")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
    assert(p.contains("Window"), "rank window missing")
  }

  test("q205: fertility rollup joins stay keyed — never cartesian") {
    val p = plan("q205_bpe_fertility")
    assert(!p.contains("CartesianProduct"),
      "fertility rollup planned a cross product")
    assert(p.contains("hashpartitioning(source"),
      "per-source rollup not keyed by source")
  }

  test("q207: MI cells join broadcast margins; nested-loop only for the 1-row total") {
    val p = plan("q207_mutual_information")
    assert(!p.contains("CartesianProduct"),
      "contingency margins joined as a shuffled cross product")
    // three 1-row broadcasts (N into cells, N into the MI total's input,
    // the MI total back onto cells) × two formatted mentions per node
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 6,
      "more nested-loop joins than the 1-row N/total broadcasts explain")
  }

  test("q209: HITS iterations are keyed joins; nested-loop only for 1-row normalizers") {
    val p = plan("q209_hits_fixedpoint")
    assert(!p.contains("CartesianProduct"),
      "a HITS iteration planned a shuffled cartesian")
    // six 1-row max-normalizer broadcasts (3 rounds × 2 sides), two
    // formatted mentions per node
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 12,
      "more nested-loop joins than the per-round max broadcasts explain")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 authorities executes as a global sort")
  }

  test("q208: audio DSP is a typed partition-local pipeline — no joins, partial agg") {
    val p = plan("q208_audio_profile")
    assert(p.contains("MapPartitions"), "PCM kernel not partition-local")
    assert(!p.contains("Join"), "payload-bearing rows routed through a join")
    assert(p.contains("partial_count"), "profile agg not split partial/final")
  }

  test("q213: KM subjects come from a customer-keyed window; only the life table is serial") {
    val p = plan("q213_kaplan_meier")
    assert(p.contains("hashpartitioning(o_custkey"),
      "first/second-order window not customer-keyed")
    // the ordered survival windows may only see the duration-keyed life
    // table (t, d_t, c_t) — never a per-customer subject row
    singlePartitionInputs(p).foreach(in =>
      assert(!in.contains("o_custkey#") && !in.contains("event#"),
        s"per-customer rows serialized through one partition: [$in]"))
  }

  test("q214: quantile normalization keeps the source-keyed window; global rank routed naive") {
    val p = plan("q214_quantile_normalize")
    assert(p.contains("hashpartitioning(source"),
      "within-source rank window not source-keyed")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
  }

  test("q215: BT matches pair within (user, hour) cells; MM rounds never cartesian") {
    val p = plan("q215_bradley_terry")
    assert(p.contains("hashpartitioning(user_id"),
      "match extraction not keyed by user — cross-user pairing would be quadratic")
    assert(!p.contains("CartesianProduct"),
      "an MM round planned a shuffled cartesian")
  }

  test("q216: split search shuffles the length histogram, never the corpus") {
    val p = plan("q216_info_gain_split")
    assert(p.contains("hashpartitioning(v"),
      "length histogram not value-keyed")
    assert(p.contains("partial_count"), "histogram agg not split partial/final")
    // the cumulative/gain window sees only histogram rows (v, c, cp) —
    // per-document label rows must never cross one partition
    singlePartitionInputs(p).foreach(in =>
      assert(!in.contains("pos#"),
        s"per-doc label rows serialized through one partition: [$in]"))
  }

  test("q217: attribution pairs conversions with touches user-keyed, windows per conversion") {
    val p = plan("q217_touch_attribution")
    // the pairing must be a keyed equijoin on user_id — broadcast (the
    // conversion side is the smaller stream) or shuffled are both fine
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("hashpartitioning(user_id") || p.contains("SortMergeJoin"),
      "conversion-touch pairing not a keyed equijoin")
    assert(p.contains("hashpartitioning(conv_id"),
      "credit windows not keyed by conversion")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "attribution degenerated into cross-user pairing")
  }

  test("q220: greedy coverage rounds stay keyed — never cartesian") {
    val p = plan("q220_greedy_coverage")
    // per-round anti-joins are checkpoint-truncated out of the final
    // plan; what remains must still be keyed + 1-row broadcasts only
    assert(!p.contains("CartesianProduct"),
      "coverage selection planned a shuffled cross product")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "more nested-loop joins than the 1-row universe broadcast explains")
  }

  test("q221: the HLL register table aggregates keyed with partial max") {
    val p = plan("q221_portable_hll")
    assert(p.contains("hashpartitioning(source"),
      "register agg not keyed by source")
    assert(p.contains("partial_max"),
      "register maxima not combined map-side before the exchange")
    assert(!p.contains("CartesianProduct"),
      "sketch pipeline planned a cross product")
  }

  test("q222: rank-function windows partition on the customer key; filter pushed down") {
    val p = plan("q222_window_rank_funcs")
    assert(p.contains("hashpartitioning(o_custkey"),
      "rank windows not keyed by customer")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      "custkey filter not pushed to the parquet scan")
  }

  test("q223: IPF touches the corpus once — all scaling on the broadcast cell table") {
    val p = plan("q223_ipf_raking")
    assert(p.contains("hashpartitioning(lang"),
      "cell agg not keyed by (lang, source)")
    assert(!p.contains("CartesianProduct"),
      "a scaling step planned a shuffled cross product")
    // margin joins are broadcast hash joins on lang/source; the only
    // nested-loop is the 1-row totals broadcast (2 formatted mentions)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "more nested-loop joins than the 1-row totals broadcast explains")
  }

  test("q224: both nDCG top-10 lists are TakeOrdered; stats broadcast") {
    val p = plan("q224_ndcg_eval")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "a top-10 list executes as a global sort")
    assert(!p.contains("CartesianProduct"),
      "ranking eval planned a cross product")
  }

  test("q225: the Morton key is in-row integer math — only 1-row maxima broadcast") {
    val p = plan("q225_zorder_layout")
    assert(!p.contains("CartesianProduct"),
      "layout audit planned a shuffled cross product")
    // two 1-row maxima broadcasts (price/date grid scaling), two
    // formatted mentions per node
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
      "more nested-loop joins than the 1-row maxima broadcasts explain")
    assert(p.contains("partial_count"),
      "bucket summaries not combined map-side")
  }

  test("q227: pattern-chain joins stay user-keyed; only tiny dims nested-loop") {
    val p = plan("q227_sequential_patterns")
    assert(p.contains("hashpartitioning(user_id"),
      "a chain step joined without the user key — cross-user fan-out")
    assert(!p.contains("CartesianProduct"),
      "candidate expansion planned a shuffled cross product")
    // the 5-row type dim crossed twice + the 1-row user total, two
    // formatted mentions per node
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 6,
      "more nested-loop joins than the tiny candidate/total dims explain")
  }

  test("q228: frame sampling joins on the asset key; payloads reduce before the rollup") {
    val p = plan("q228_frame_sampling")
    assert(p.contains("hashpartitioning(asset_id") ||
      p.contains("BroadcastHashJoin"),
      "before/after accounting not joined on the asset key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "asset accounting planned an all-pairs join")
    // payload-bearing work is typed partition-local maps
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "sampling kernel not partition-local")
  }

  test("q229: backtest pairings self-join the SMALL hourly aggregate, never raw events") {
    val p = plan("q229_forecast_backtest")
    assert(p.contains("hashpartitioning(event_type"),
      "hourly rollup / pairings not keyed by series")
    assert(!p.contains("CartesianProduct"),
      "forecast pairing planned a cross product")
    // the only nested-loops are the two 1-row max-hour broadcasts
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
      "more nested-loop joins than the 1-row max-hour broadcasts explain")
  }

  test("q230: the resize chain is a typed partition-local pass joined on the asset key") {
    val p = plan("q230_resize_audit")
    assert(p.contains("hashpartitioning(asset_id") ||
      p.contains("BroadcastHashJoin"),
      "geometry/output accounting not joined on the asset key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "resize audit planned an all-pairs join")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "resize/decode kernel not partition-local")
  }

  test("q234: phash near-dup is a band-keyed equijoin — no all-pairs stage") {
    val p = plan("q234_phash_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "perceptual near-dup degenerated into an all-pairs join")
    assert(p.contains("hashpartitioning(band") ||
      p.contains("BroadcastHashJoin"),
      "candidate join not keyed by (band, band-value)")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "decode/hash kernel not partition-local")
  }

  test("q233: classifier scoring is keyed aggs over the bucketized table — model never shuffles") {
    val p = plan("q233_quality_classifier")
    // the scoring plan (training rounds already ran as bounded driver
    // actions at build time): per-doc margin is a doc-keyed agg over the
    // persisted feature table, the 257-long model is a literal array in
    // the projection, the decile rollup is partial/final, and the global
    // rank routed naive at this SF (below GlobalRank's crossover)
    assert(!p.contains("CartesianProduct"),
      "classifier scoring planned a cross product")
    assert(p.contains("hashpartitioning(doc_id") ||
      p.contains("InMemoryTableScan"),
      "margin agg not keyed by doc over the cached feature table")
    assert(p.contains("partial_count"), "decile rollup not partial/final")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
  }

  test("q236: isotonic fit — one partial/final corpus agg; PAV runs on the bin table") {
    val p = plan("q236_isotonic_calibration")
    assert(p.contains("partial_count"), "bin agg not split partial/final")
    // the i×k×j expansion crosses only 20-row bin tables — corpus rows
    // must never reach a nested-loop side
    assert(!p.contains("CartesianProduct"),
      "PAV expansion planned a shuffled cross product")
    assert(!p.contains("l_comment") && p.contains("embedding"),
      "scan not pruned to the embedding/label columns")
  }

  test("q238: Theil-Sen pairs self-join the hourly aggregate, keyed by series") {
    val p = plan("q238_theil_sen_trend")
    assert(p.contains("hashpartitioning(event_type"),
      "hourly rollup / pair join not keyed by series")
    assert(!p.contains("CartesianProduct"),
      "pairwise slopes planned a cross product")
  }

  test("q239: mutual kNN stays a bucket equijoin + keyed rank — no all-pairs") {
    val p = plan("q239_mutual_knn")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation degenerated into an all-pairs join")
    assert(p.contains("hashpartitioning(bucket") ||
      p.contains("BroadcastHashJoin"),
      "candidate join not keyed by bucket")
    // top-3 rank must prune partials before the exchange (q59 pattern)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "top-3 window lacks the partial/final WindowGroupLimit pair")
  }

  test("q240: AP ranks routed naive at this SF; reduction is one row") {
    val p = plan("q240_average_precision")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "totals agg not split partial/final")
  }

  test("q241: JL projection is in-row over a literal sign matrix; pairs join keyed") {
    val p = plan("q241_jl_projection")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "projection or pairing planned an all-pairs join")
    // the 16x64 sign matrix is a literal in the projection — the only
    // join is the (even, even+1) pair equijoin on the id
    assert(p.contains("hashpartitioning(ia") ||
      p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "pair join not keyed by vec id")
  }

  test("q242: Poisson bootstrap is a map-side explode + keyed aggs — no resample shuffle") {
    val p = plan("q242_poisson_bootstrap")
    assert(!p.contains("CartesianProduct"),
      "replicate expansion planned a cross product")
    assert(p.contains("Generate"), "replicate explode missing (not map-side)")
    assert(p.contains("hashpartitioning(priority"),
      "replicate means not keyed by group")
    assert(p.contains("partial_sum"), "replicate agg not split partial/final")
  }

  test("q243: cartography computes all 8 round margins in ONE keyed agg pass") {
    val p = plan("q243_training_cartography")
    // 8 literal weight arrays ride the projection — one doc-keyed agg
    // over the cached feature table, then the 4-row region rollup. The
    // cached relation PRINTS its own build plan (which contains the
    // legitimate label join); the guard applies to the plan ABOVE the
    // cache scan only.
    val above = p.substring(0, p.indexOf("InMemoryTableScan") max 0)
    assert(above.nonEmpty, "margin agg not over the cached feature table")
    assert(!above.contains("CartesianProduct") && !above.contains("Join"),
      "cartography routed margins through a join")
    assert(p.contains("partial_count"), "region rollup not partial/final")
  }

  test("q244: F1 argmax is TakeOrdered(1) over the positive table — no full sort") {
    val p = plan("q244_f1_threshold")
    assert(p.contains("TakeOrderedAndProject"),
      "F1 argmax executes as a global sort instead of a top-1 heap")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
  }

  test("q245: Wasserstein grid is post-aggregation; windows keyed by source") {
    val p = plan("q245_wasserstein_drift")
    // the support grid crosses only aggregated (source) × (value)
    // tables — corpus rows must never reach a nested-loop side, and the
    // source ECDF window must be source-keyed
    assert(p.contains("hashpartitioning(source"),
      "per-source cumulative window not source-keyed")
    assert(!p.contains("CartesianProduct"),
      "support grid planned a shuffled cross product")
  }

  test("q246: refreshed-model scoring mirrors q233's shape (cached table, keyed aggs)") {
    val p = plan("q246_incremental_classifier")
    assert(!p.contains("CartesianProduct"),
      "refresh scoring planned a cross product")
    assert(p.contains("InMemoryTableScan") ||
      p.contains("hashpartitioning(doc_id"),
      "margin agg not over the cached feature table / doc-keyed")
    assert(!p.contains("hashpartitioning(_shard"),
      "two-pass shard machinery chosen below the measured crossover")
  }

  test("q218: rendezvous argmax is in-row — no join or explode before the shard rollup") {
    val p = plan("q218_rendezvous_resharding")
    assert(!p.contains("Join") && !p.contains("Generate"),
      "the 65-way shard argmax left the row")
    assert(p.contains("partial_count"), "shard rollup not split partial/final")
    assert(p.contains("hashpartitioning(old_shard"),
      "rollup not keyed by shard")
  }
}
