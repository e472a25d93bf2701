package graft.queries

import graft.{SparkSpec, SparkEntry}

/** Plan-shape regression gate over the ENTIRE catalog: correctness rows
  * prove the answers; this spec pins the plans. A refactor that silently
  * turns a bucket join into a cartesian product, or un-pushes a filter,
  * fails here — not at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private lazy val plans: Map[String, String] =
    SparkEntry.catalog.map { q =>
      q.name -> q.build(spark, sf001).queryExecution.executedPlan.toString
    }.toMap

  test("no query plans a non-broadcast cartesian product") {
    // crossJoin(broadcast(...)) legitimately plans BroadcastNestedLoopJoin;
    // an unhinted CartesianProduct is always a bug at scale
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys.toSeq.sorted
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("projection pruning reaches the scan (q01 reads 2 of 8 customer columns)") {
    val scan = plans("q01_scan_project")
    assert(scan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"), scan)
  }

  test("filter pushdown reaches the parquet scan (q02 status equality)") {
    val scan = plans("q02_filter_case")
    assert(scan.contains("PushedFilters: [") && scan.contains("EqualTo(o_orderstatus,O)"), scan)
  }

  test("small dimension joins broadcast (q04 star join)") {
    assert(plans("q04_join_star").contains("BroadcastHashJoin"), plans("q04_join_star"))
  }

  test("IVF assignment is a hash aggregate, not a ranking window (x07)") {
    // the assignment frame is store-backed (ivfAssignedShared), so the
    // pin targets the production build path: the public KMeansLite.assign
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val cent = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
    val b = graft.ops.KMeansLite.assign(e, cent)
      .queryExecution.executedPlan.toString
    assert(b.contains("max_by") && !b.contains("Window"), b)
    // and the query itself: the only window left is the per-query top-k
    val p = plans("x07_ann_ivf")
    assert("Window \\[row_number".r.findAllIn(p).length <= 1, p)
  }

  test("x192 evaluates the automaton once — never as a pushed-down scan filter") {
    // inner explode lets InferFiltersFromGenerate add size(cnts) > 0, which
    // pushdown rewrites through the alias into a scan-side SECOND automaton
    // evaluation; the query uses posexplode_outer to stay out of that rule
    val p = plans("x192_aho_corasick")
    assert("ahocorasickcounts".r.findAllIn(p.toLowerCase).length == 1, p)
  }

  test("x191's distance join is a cell equi-join, never a nested-loop pair scan") {
    val p = plans("x191_grid_distance_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("x197's corpus-sized anchor exchange carries 8-byte hashes, never gram text") {
    // the span frame is session-shared and store-backed (maxRepSpansShared),
    // so the pin targets the production build path: ops/MaximalRepeats.spans
    val p = graft.ops.MaximalRepeats.spans(
      graft.Tables.documents(spark, sf001).select("doc_id", "source", "text"), 25)
      .queryExecution.executedPlan.toString
    // phase-1 aggregation exchanges hash-partition on h (a bigint); the
    // k-token gram STRINGS may only cross an exchange in the verify phase,
    // which is candidate-sized. The corpus-sized exchanges must not move a
    // `gram` column, and the pair generation must stay equi-join shaped.
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    val hashExch = exch.filter(_.contains("h#"))
    assert(hashExch.nonEmpty, s"expected the anchor-hash exchange, plan:\n$p")
    assert(hashExch.forall(e => !e.contains("gram#")),
      s"anchor exchange carries gram text:\n${hashExch.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x201 consumes x197's session-shared span frame — one anchor pass per session") {
    val x197 = SparkEntry.catalog.find(_.name == "x197_maximal_repeats").get
    val x201 = SparkEntry.catalog.find(_.name == "x201_span_scrub").get
    SharedCache.clear() // force a cold producer run for this pin
    val h0 = SharedCache.hits
    x197.build(spark, sf001).collect()
    val h1 = SharedCache.hits
    assert(h1 == h0, "cold x197 must BUILD the span frame, not hit")
    x201.build(spark, sf001).collect()
    assert(SharedCache.hits == h1 + 1,
      "x201 must consume the published span frame (exactly one cache hit)")
  }

  test("x220's combine never rescans the base corpus — state side is the " +
      "pinned materialization, parquet scans are delta-sized") {
    val p = plans("x220_incr_agg_maintenance")
    // the state side must read the in-memory checkpoint, not parquet
    assert(p.contains("Scan ExistingRDD"), p.take(4000))
    // parquet scans in the merged plan: ZERO — the delta is checkpointed
    // (one pass over the batch at build time), the state is the pinned
    // store frame, so the combine itself reads only in-memory
    // materializations. A base-side rescan would reintroduce a FileScan.
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"$scans parquet scans\n${p.take(4000)}")
  }

  test("x219's overlap join is a hash equi-join on (user, bucket) — " +
      "never a nested loop over history") {
    val p = plans("x219_interval_overlap_join")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("x201's scrub joins spans back by doc_id — equi-join, no pair blowup") {
    val p = plans("x201_span_scrub")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the span frame meets the doc-stats frame on the doc_id key
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("x206's PQ encode and ADC scoring join only broadcasts — never corpus²") {
    val p = plans("x206_pq_adc")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-sized shuffled join in the PQ path:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x210's final assembly joins only broadcasts — never corpus²") {
    // training/encode stages sit behind eager localCheckpoints (their own
    // joins are broadcast or bounded-key equi-joins by construction; the
    // candidate-count value pin lives in AnnRecallSpec) — the visible
    // final plan must stay all-broadcast
    val p = plans("x210_ivf_pq_trained")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-sized shuffled join in the IVF-PQ assembly:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x208's extraction is narrow codegen string work — no join, no operator shuffle") {
    val p = plans("x208_html_extract")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"extraction must not hash-shuffle:\n$p")
  }

  test("x209's arrow decode is one explicit repartition + a bounded rollup — no shuffled join") {
    val p = plans("x209_arrow_ipc")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    // the explicit 4-way repartition + the 4-column fact rollup
    assert(opExchanges(p) <= 2, s"unexpected exchanges:\n$p")
  }

  test("q71's correlated LIMIT decorrelates to a WindowGroupLimit top-k, not a per-row rescan") {
    val p = plans("q71_lateral_join")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x13 aggregates with the bounded-buffer UDAF (no ranking window at all)") {
    val p = plans("x13_topk_agg")
    assert(p.contains("TopKAggregator") && !p.contains("Window"), p)
  }

  test("x14 plans through the custom as-of exec") {
    assert(plans("x14_asof_custom").contains("AsOfJoin"), plans("x14_asof_custom"))
  }

  test("multimodal frame path stays inside codegen (x15: no object boundary)") {
    val p = plans("x15_frame_slices")
    assert(!p.contains("DeserializeToObject") && !p.contains("mapPartitions"), p)
  }

  test("q35's correlated EXISTS predicates rewrite to semi/hash joins — no per-row subqueries") {
    val p = plans("q35_exists_subquery")
    // the WHERE EXISTS becomes a semi join (possibly broadcast); the SELECT-list
    // EXISTS becomes an outer/existence join — neither survives as a subquery
    assert(!p.toLowerCase.contains("subqueryexec"), p)
    assert(p.contains("Join"), p)
  }

  test("x26 is shuffle-free narrow work (its one exchange is the final presentation sort)") {
    val p = plans("x26_repetition_collapse")
    // the fixture loader's REPARTITION_BY_NUM parallelizer (single-row-group
    // local files) is not operator shuffle; the OPERATOR must not require one
    val required = "Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r.findFirstIn(p)
    assert(required.isEmpty, s"repetition collapse must not shuffle:\n$p")
  }

  test("x11's k-min selection is a bounded-buffer hash aggregate (no index sort, no window)") {
    val p = plans("x11_fingerprint")
    assert(p.contains("KMinDistinctAggregator"), p)
    assert(!p.contains("Window"), p)
    // the only Sort allowed is the final presentation ORDER BY over the
    // tiny (docs × 3) result — never the exploded bigram index
    assert("Sort \\[".r.findAllIn(p).length <= 1, p)
  }

  test("x28's per-doc keyword ranking is a bounded-buffer hash aggregate (no ranking window)") {
    val p = plans("x28_tfidf_keywords")
    assert(p.contains("TopKStringsAggregator"), p)
    assert(!p.contains("Window"), p)
    assert("Sort \\[".r.findAllIn(p).length <= 1, p)
  }

  test("x29's outlier test is a broadcast-stats narrow scan (no window, no fact re-shuffle)") {
    val p = plans("x29_outlier_counts")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("x30 chunking is shuffle-free narrow work (explode + slice, no operator exchange)") {
    val p = plans("x30_chunking")
    val required = "Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r.findFirstIn(p)
    assert(required.isEmpty, s"chunking must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  // operator exchanges only: the fixture loader's REPARTITION_BY_NUM
  // (parallelizing single-row-group local files) is not operator shuffle
  private def opExchanges(p: String): Int =
    "Exchange hashpartitioning[^\n]*".r.findAllIn(p)
      .count(!_.contains("REPARTITION_BY_NUM"))

  test("x31's rank and quota windows share ONE stratum exchange") {
    val p = plans("x31_stratified_sample")
    assert(opExchanges(p) == 1, s"expected one lang exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x32's boilerplate marking pass broadcasts — the token stream is never re-shuffled for it") {
    val p = plans("x32_boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x33 quantization runs entirely inside one vec_id exchange (no join, no second shuffle)") {
    val p = plans("x33_embed_quantize")
    // ≤: when the input is ALREADY hash-partitioned by vec_id (the fixture
    // loader does this), Catalyst elides the explicit repartition entirely
    assert(opExchanges(p) <= 1, s"expected only the explicit vec_id repartition, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x34's distinct and first-occurrence window share the explicit shingle exchange") {
    val p = plans("x34_ngram_novelty")
    // one REPARTITION_BY_COL (shingle) + one ENSURE_REQUIREMENTS (doc rollup)
    assert(opExchanges(p) == 2, s"expected shingle + doc rollup exchanges only, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q39's lateral LIMIT decorrelates to a partial WindowGroupLimit — no per-row subquery") {
    val p = plans("q39_lateral_topk")
    // the map-side Partial pass keeps ≤k rows per key BEFORE the exchange,
    // so the shuffle carries O(groups), not O(orders)
    assert(p.contains("WindowGroupLimit"), p)
    assert("WindowGroupLimit[^\n]*Partial".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x40's audio decode is a narrow per-row map — zero operator shuffle before the sort") {
    val p = plans("x40_audio_features")
    assert(opExchanges(p) == 0, s"decode must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x35's composed curation is narrow-score -> one content-HASH exchange -> narrow split (no join)") {
    val p = plans("x35_curation")
    assert(opExchanges(p) == 1, s"expected one content-hash exchange, plan:\n$p")
    // the dedup exchange must be keyed by md5(text) — Catalyst projects
    // the window partition expression into a `_w0` column, so assert the
    // exchange key is that projected hash and never the raw multi-KB text
    // column (comparator cost + partition skew at scale)
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .filter(!_.contains("REPARTITION_BY_NUM")).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"dedup exchange keyed by raw text:\n$exch")
    assert(p.contains("md5"), s"content-hash key missing from plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x05's only index-sized data movements are one shingle exchange (no index sort)") {
    val p = plans("x05_ngram_jaccard")
    // hash joins + hash aggregates throughout: the only Sort node allowed is
    // the final ORDER BY (rangepartitioning) over the tiny result
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts <= 1, s"unexpected index-sized sort in x05 ($sorts sorts):\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("x41 containment keeps x05's index shape (hash joins, one result sort)") {
    val p = plans("x41_containment")
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts <= 1, s"unexpected index-sized sort in x41 ($sorts sorts):\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x42's result stage is sketch-probe narrow work over the exact candidates (no re-agg of tokens)") {
    val p = plans("x42_freq_sketch")
    // one token aggregation feeds the top-20; the probe is a projection —
    // no join, no second pass over the token stream
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p)
  }

  test("x43's cumsum window and rollup share one source exchange; stats join as broadcasts") {
    val p = plans("x43_mixture_sample")
    // the checkpointed stats frame keeps the corpus at ONE scan: without it
    // every stats consumer re-derives the aggregation from the raw docs
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"documents scanned more than once:\n$p")
    assert(opExchanges(p) == 1, s"expected only the window's source exchange, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x44's LM aggregates are all hash aggregates (no index-sized sort, no window)") {
    val p = plans("x44_lm_quality")
    // min(w1) through the count agg would force SortAggregate over the
    // full bigram index — the prefix must derive from the bg string instead
    assert(!p.contains("SortAggregate"), s"sort-based aggregate over the bigram index:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert("Sort \\[".r.findAllIn(p).length <= 1, p)
  }

  test("x45's pair stage is cluster-keyed (hash join, never all-pairs)") {
    val p = plans("x45_semdedup")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x46's header decode is a narrow per-row map — zero operator shuffle before the sort") {
    val p = plans("x46_av_headers")
    assert(opExchanges(p) == 0, s"decode must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x48 packing is one source exchange + window + narrow explode (no join, no index sort)") {
    val p = plans("x48_sequence_packing")
    assert(opExchanges(p) == 1, s"expected only the window's source exchange, plan:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the window's partition sort and the presentation ORDER BY are the
    // only sorts; nothing sorts the exploded (doc × pack) rows
    assert("Sort \\[".r.findAllIn(p).length <= 2, p)
  }

  test("x49's benchmark probe broadcasts — the training-corpus grams never shuffle for membership") {
    val p = plans("x49_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q41's RANGE frame runs inside one user_id exchange (no join, no second shuffle)") {
    val p = plans("q41_range_frame_window")
    assert(p.contains("RangeFrame"), p)
    assert(opExchanges(p) == 1, s"expected one user_id exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q42's unpivot is a narrow Expand over the aggregate (no extra exchange)") {
    val p = plans("q42_unpivot")
    assert(p.contains("Expand"), p)
    assert(opExchanges(p) == 1, s"expected only the groupBy exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x50's posting lists are bounded-buffer aggregates sharing the loader's doc partitioning") {
    val p = plans("x50_inverted_index")
    assert(p.contains("TopKStringsAggregator"), p)
    assert(!p.contains("Window"), p)
    // the (tok, doc_id) tf aggregate rides the existing doc_id clustering;
    // the ONLY operator exchange is the tok rollup
    assert(opExchanges(p) == 1, s"expected one tok exchange, plan:\n$p")
    assert("Sort \\[".r.findAllIn(p).length <= 1, p)
  }

  test("x51's BM25 stats all broadcast; the top-20 is TakeOrdered, not a global sort") {
    val p = plans("x51_bm25_retrieval")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x52's islands and per-doc stats are stacked aggregates inside ONE doc_id exchange") {
    val p = plans("x52_span_dedup")
    // exactly one Window (the dup-run cumsum) — a second Window or a
    // row_number branch would re-shuffle the window stream per metric
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    // window exchanges are keyed by hash/doc_id, never the window text
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .filter(!_.contains("REPARTITION_BY_NUM")).toSeq
    assert(exch.forall(e => !e.contains("col#") && !e.contains("text#")),
      s"exchange keyed by raw window text:\n$exch")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x54's pair explosion runs over the word table — two partial-combined exchanges, top-20 TakeOrdered") {
    val p = plans("x54_bpe_merge_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(opExchanges(p) == 2, s"expected word-freq + pair exchanges only, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x55's pair candidates stay doc-keyed; unary stats broadcast; top-20 TakeOrdered") {
    val p = plans("x55_cooccurrence_lift")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // only the rank-of-20 window exists — ranking never touches the pair table
    assert("Window \\[".r.findAllIn(p).length == 1, p)
  }

  test("x56's rankings and padding rollups all ride ONE source exchange; the per-source join broadcasts") {
    val p = plans("x56_length_batching")
    // the two window branches statically plan one source exchange EACH over
    // the same checkpointed per-doc frame (AQE stage reuse serves the
    // second at runtime); the (source, batch) aggregates satisfy their
    // distribution from HashPartitioning(source) without re-shuffling
    assert(opExchanges(p) <= 2, s"expected only the two source exchanges, plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q44's 5 power iterations run as ONE Pregel job — the SQL plan is just the rank readback") {
    val p = plans("q44_pagerank")
    // the iteration lives in GraphAlgos.pagerankRounds (GraphX); the
    // DataFrame plan downstream is an RDD scan + top-20, with no join and
    // no per-round exchange left to regress
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("q45's relaxation rounds run as ONE Pregel job — the SQL plan is just the distance readback") {
    val p = plans("q45_shortest_path")
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("x88's funnel is join-free: explode + two partial-combined aggs + the source rollup") {
    val p = plans("x88_filter_funnel")
    assert(!p.contains("Join"), p)
    // (doc,tok) mode agg + per-doc rollup + per-source funnel
    assert(opExchanges(p) <= 3, s"expected at most three exchanges, plan:\n$p")
  }

  test("x89's Bradley-Terry rounds iterate a sources²-bounded frame with broadcast-only rank joins") {
    val p = plans("x89_bradley_terry")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x90's personalized pagerank runs through the one-job kernel — RDD-scan readback, no join") {
    val p = plans("x90_personalized_pagerank")
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("x91's budget rank and rollup ride ONE source exchange, no join") {
    val p = plans("x91_token_budget")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 1, s"expected one source exchange, plan:\n$p")
  }

  test("x92's touch-purchase range join never plans a cartesian; windows share the purchase exchange") {
    val p = plans("x92_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x93's anomaly scoring is join-free: hourly rollup + one per-type window") {
    val p = plans("x93_event_anomaly")
    assert(!p.contains("Join"), p)
  }

  test("x94's advisor joins only broadcasts — no shuffled join, no global window") {
    val p = plans("x94_skew_advisor")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("x95's fuse plans no cartesian; the vector side joins the broadcast query frame") {
    val p = plans("x95_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x97's mining is q21's broadcast top-k shape — no shuffled join") {
    val p = plans("x97_hard_negatives")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x99's prefix analysis is join-free and exchanges only digests") {
    val p = plans("x99_prefix_cache")
    assert(!p.contains("Join"), p)
    // the (k, digest) agg + the 3-row rollup
    assert(opExchanges(p) <= 2, s"expected two exchanges, plan:\n$p")
  }

  test("x100's vocab encode joins back by broadcast only") {
    val p = plans("x100_tokenizer_fertility")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x98's confusion matrix joins only the broadcast per-lang totals") {
    val p = plans("x98_langid_confusion")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x57's encode is a narrow pass over the vocab rollup — one exchange, no join, top-20 TakeOrdered") {
    val p = plans("x57_bpe_encode")
    assert(opExchanges(p) == 1, s"expected the word rollup exchange only, plan:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x58's Gram matrix shuffles only d²-bounded partials — pair generation is narrow, moments broadcast") {
    val p = plans("x58_embedding_covariance")
    // the (i,j) second-moment agg + the per-i first-moment agg (statically
    // planned once per broadcast side — AQE stage reuse serves the second);
    // all partial-combine, so each exchange carries ≤ d² rows per partition
    assert(opExchanges(p) <= 3, s"expected pair + moment exchanges only, plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x53's version diff joins 16-byte digests on doc_id — corpus bytes never cross the join") {
    val p = plans("x53_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    // md5 is computed scan-side, below the join: no exchange carries text
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .filter(!_.contains("REPARTITION_BY_NUM")).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("q53's dedup, islands window, and both rollups all ride ONE user_id exchange") {
    val p = plans("q53_activity_islands")
    // lag-filter + row_number share the user window; the (user, anchor) and
    // (user) aggregates are satisfied by HashPartitioning(user_id) (subset
    // rule) — a (user, day) groupBy-dedup would have cost a second exchange
    assert(opExchanges(p) == 1, s"expected one user_id exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q54's sweep aggregates per (prio, day) BEFORE the prefix window (no join)") {
    val p = plans("q54_interval_overlap")
    // two exchanges by design: the (prio, day) aggregation that shrinks the
    // fact-sized event stream to calendar-bounded day rows, then the prio
    // window over that aggregated frame. The window partition holds
    // #distinct days (~2.5k), never the fact table — the x186 shape.
    assert(opExchanges(p) == 2, s"expected day-agg + prio-window exchanges, plan:\n$p")
    assert(!p.contains("Join"), p)
    // the window must consume the aggregate, not the raw union: the plan
    // string lists Window above HashAggregate(keys=[prio, day])
    val winAt = p.indexOf("Window")
    assert(winAt >= 0 && p.indexOf("HashAggregate", winAt) > winAt,
      s"window must read the day-aggregated frame, plan:\n$p")
  }

  test("q51's regression moments are one partial-combined hash aggregate") {
    val p = plans("q51_corr_regr")
    assert(opExchanges(p) == 1, s"expected one returnflag agg exchange, plan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("x65's winnowing window and (doc, fp) distinct share the doc exchange; no exchange carries text") {
    val p = plans("x65_winnowing")
    // union breaks the loader clustering → one doc_id exchange (window +
    // distinct, subset rule), one fp exchange (share counts), one doc
    // rollup exchange — and every one moves 8-hex fingerprints, never text
    assert(opExchanges(p) <= 3, s"expected doc + fp + rollup exchanges only, plan:\n$p")
    assert(!p.contains("Join"), p)
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .filter(!_.contains("REPARTITION_BY_NUM")).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x67's token and trigram branches plus their join all ride the loader's doc clustering") {
    val p = plans("x67_gopher_repetition")
    assert(opExchanges(p) == 0, s"expected zero operator exchanges, plan:\n$p")
  }

  test("x68's vocabulary is TakeOrdered + broadcast; the corpus never shuffles for membership") {
    val p = plans("x68_vocab_coverage")
    assert(opExchanges(p) == 1, s"expected the vocab tok agg exchange only, plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x70's rank window and shard rollup share one shard exchange") {
    val p = plans("x70_training_order")
    assert(opExchanges(p) == 1, s"expected one shard exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x69's query sample broadcasts into both passes (no shuffled query join)") {
    val p = plans("x69_ann_recall")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q55's peel rounds are all BROADCAST semi joins (no shuffled survivor join)") {
    val p = plans("q55_kcore")
    assert(!p.contains("SortMergeJoin LeftSemi") && !p.contains("ShuffledHashJoin LeftSemi"), p)
    assert("BroadcastHashJoin [^\n]*LeftSemi".r.findAllIn(p).length >= 6, p)
  }

  test("q56's bit/bool family is one partial-combined hash aggregate") {
    val p = plans("q56_bit_aggs")
    assert(opExchanges(p) == 1, s"expected one linestatus agg exchange, plan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("x71's audit joins move digests and ids, never text") {
    val p = plans("x71_split_leakage")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .filter(!_.contains("REPARTITION_BY_NUM")).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x72's stats broadcast back; every exchange is dimension-bounded") {
    val p = plans("x72_embed_standardize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(opExchanges(p) <= 2, s"expected the two 64-row dim aggs only, plan:\n$p")
  }

  test("q57's lead window and TWA aggregate ride ONE user exchange") {
    val p = plans("q57_time_weighted_avg")
    assert(opExchanges(p) == 1, s"expected one user_id exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q58's calendar join and LOCF window never shuffle event-sized data twice") {
    val p = plans("q58_calendar_fill")
    // daily rollup (user,day) + per-user span (user) + join/window reuse:
    // anything above 4 op-exchanges means a stage re-shuffled the events
    assert(opExchanges(p) <= 4, s"plan re-shuffles:\n$p")
    assert(p.contains("Window"), p)
  }

  test("x73's priority sampling is a narrow expression + ONE source exchange") {
    val p = plans("x73_weighted_sample")
    assert(opExchanges(p) == 1, s"expected one source exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x74's run window and per-doc aggregate share ONE doc exchange") {
    val p = plans("x74_span_corruption")
    assert(opExchanges(p) == 1, s"expected one doc_id exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x75's audit aggregates carry ids and counts, never text") {
    val p = plans("x75_dedup_audit")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x76's projection sums ride the source's vec_id clustering — ZERO new exchanges, no join") {
    // hashpartitioning(vec_id) satisfies ClusteredDistribution(vec_id, j),
    // so the (vec_id, j) aggregate needs no exchange of its own at all
    val p = plans("x76_random_projection")
    assert(opExchanges(p) == 0, s"expected zero op exchanges, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q59's four navigations share ONE per-customer window exchange") {
    val p = plans("q59_window_nav")
    assert(opExchanges(p) == 1, s"expected one o_custkey exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x77's rank, target filter, and rollup ride the source exchange; targets broadcast") {
    val p = plans("x77_mixture_resample")
    assert(opExchanges(p) <= 2, s"expected counts agg + rank window only, plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x78's exact-Jaccard joins move ids and shingle sets, never raw text") {
    val p = plans("x78_minhash_error")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x79's provenance joins move ids and source labels, never text") {
    val p = plans("x79_copy_matrix")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x80 takes the top-1024 via TakeOrdered — the token table is never globally sorted") {
    val p = plans("x80_zipf_octaves")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(opExchanges(p) <= 2, s"expected tok agg + octave agg only, plan:\n$p")
  }

  test("q60's two aggs and running-sum window all ride ONE custkey exchange") {
    val p = plans("q60_running_distinct")
    // the lineitem⋈orders join broadcasts at this size; the tail — both
    // aggs and the window — needs only supersets of {custkey} (subset
    // rule), so the explicit repartition is the only hash exchange
    assert(opExchanges(p) == 1, s"expected one o_custkey exchange, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q61's join is genuinely salted: shuffle-hash on (suppkey, salt), dim exploded") {
    val p = plans("q61_salted_join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x81's audit joins move digests and ids, never raw text") {
    val p = plans("x81_group_split")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x82's distribution-shift exchanges carry tokens and counts, never text") {
    val p = plans("x82_domain_shift")
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x83 never touches document text and its KS grid is a broadcast cross join") {
    val p = plans("x83_length_drift")
    assert(!p.contains("text#"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q62's window sums run over the nation rollup, not the fact table") {
    val p = plans("q62_ratio_report")
    // both dimension joins broadcast; the only hash exchange is the
    // nation-grain rollup the two window sums then ride
    assert(opExchanges(p) <= 1, s"expected the nation rollup exchange only, plan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
  }

  test("x84's k-anonymity audit is two aggs and no join") {
    val p = plans("x84_k_anonymity")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) <= 2, s"expected (level,qi) agg + level rollup only, plan:\n$p")
  }

  test("x85's containment probes join DISTINCT key sets — fact rows never cross the wire raw") {
    val p = plans("x85_fk_discovery")
    // every full-outer probe joins two pre-deduplicated sides: each join
    // input chain must pass through a HashAggregate before the exchange
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52's histogram is two scans: broadcast bounds + ≤16-row bucket agg") {
    val p = plans("q52_histogram")
    // the min/max scalar rides a SinglePartition exchange (not counted);
    // the only hash exchange is the 16-bucket aggregate
    assert(opExchanges(p) == 1, s"expected the bucket agg exchange only, plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x105's tar walk is a joinless narrow decode (shards parallelize independently)") {
    val p = plans("x105_tar_shard_index")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"tar indexing must not hash-shuffle:\n$p")
  }

  test("x133's palette decode is a joinless narrow per-row map") {
    val p = plans("x133_gif_local_palette")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"gif palette decode must not hash-shuffle:\n$p")
  }

  test("x134's sample walk + frame decode is a joinless narrow per-row flatMap") {
    val p = plans("x134_mjpeg_frames")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"mjpeg decode must not hash-shuffle:\n$p")
  }

  test("x135's frame walk is a joinless narrow per-row map") {
    val p = plans("x135_mp3_frame_walk")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"mp3 walk must not hash-shuffle:\n$p")
  }

  test("x136's side-info decode is a joinless narrow per-row flatMap") {
    val p = plans("x136_mp3_side_info")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"side-info decode must not hash-shuffle:\n$p")
  }

  test("q63 is one window exchange + one partial-combined type rollup; x137 one lang rollup") {
    val p = plans("q63_event_throttle")
    // (user_id, event_type) hash does not co-partition event_type alone, so
    // the rollup re-exchanges — but only AFTER partial combine (≤|types|
    // rows per task), certified by the partial_count in the plan
    assert(opExchanges(p) == 2, s"expected window + rollup exchanges:\n$p")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
    val p2 = plans("x137_dp_release")
    assert(opExchanges(p2) == 1, s"expected one lang exchange:\n$p2")
    assert(!p2.contains("Join"), p2)
  }

  test("x138 is joinless: conv rollup, source repartition, bin rollup — three exchanges") {
    val p = plans("x138_chat_packing")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 3, s"expected conv + repartition + bin exchanges:\n$p")
  }

  test("x139's marginal algebra runs on the checkpointed confusion frame — no corpus re-scan") {
    val p = plans("x139_kappa_agreement")
    // one corpus scan feeds the checkpoint; the final plan reads the RDD
    assert(!p.contains("FileScan"), s"corpus re-scan leaked into the final plan:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x142's ranks ride the (lang, score) histogram — corpus exchanges carry no text") {
    val p = plans("x142_classifier_auc")
    assert(!p.contains("Join"), p)
    val exch = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toSeq
    assert(exch.forall(e => !e.contains("text#")), s"exchange carries raw text:\n$exch")
  }

  test("x140 is one narrow corpus pass into a single-row rollup; x141 one margin rollup") {
    val p = plans("x140_span_f1")
    assert(!p.contains("Join"), p)
    // global agg exchanges to SinglePartition, not hashpartitioning
    assert(opExchanges(p) == 0, s"span F1 must partial-combine into one row:\n$p")
    val p2 = plans("x141_margin_calibration")
    assert(!p2.contains("Join"), p2)
    assert(opExchanges(p2) == 1, s"expected one margin exchange:\n$p2")
  }

  test("x106's three windows and rollup share ONE event_type exchange") {
    val p = plans("x106_watermark_advisor")
    assert(opExchanges(p) == 1, s"expected one event_type exchange, plan:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x107 explodes and hashes the corpus ONCE; the distribution broadcasts back") {
    val p = plans("x107_dsir_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // both consumers (distribution + scoring) read the checkpointed
    // per-(doc,bucket) rollup — the corpus scan must not reappear
    assert(!p.contains("FileScan parquet"), s"corpus hashed twice:\n$p")
  }

  test("x108's edge list materializes ONCE and the degree tables broadcast onto it") {
    val p = plans("x108_degree_assortativity")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    // three consumers read the checkpoint — the corpus join must not
    // reappear in the executed plan (measured ~2× slower at 10× when it did)
    assert(!p.contains("FileScan parquet"), s"corpus re-joined instead of checkpoint:\n$p")
  }

  test("x109's linkage is a blocked equi-join — the dictionary broadcasts, never nested-loops") {
    val p = plans("x109_record_linkage")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x110's l-diversity audit is two aggs and no join") {
    val p = plans("x110_l_diversity")
    assert(!p.contains("Join"), p)
  }

  test("x111's box walk is a joinless narrow decode") {
    val p = plans("x111_mp4_meta")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"mp4 metadata must not hash-shuffle:\n$p")
  }

  test("x112 runs the corpus pass ONCE — totals are a window over the bounded matrix, no join") {
    val p = plans("x112_event_transitions")
    assert(!p.contains("Join"), p)
    // user_id window + pair rollup + from_type totals window; a totals
    // self-join would double the corpus scan (5 exchanges) — pinned out
    assert(opExchanges(p) == 3, s"unexpected exchange count:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"corpus scanned twice:\n$p")
  }

  test("x113's zip walk is a joinless narrow decode") {
    val p = plans("x113_zip_extract")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"zip extraction must not hash-shuffle:\n$p")
  }

  test("x115 rides the session-shared co-trade graph — no corpus scan in its plan") {
    val p = plans("x115_clustering_coeff")
    assert(!p.contains("FileScan parquet"), s"corpus re-joined instead of shared frame:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x116's canonicalization is joinless narrow string work") {
    val p = plans("x116_url_canonicalize")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"url canonicalization must not hash-shuffle:\n$p")
  }

  test("x117/x118's container walks are joinless narrow decodes") {
    Seq("x117_warc_records", "x118_gzip_members").foreach { q =>
      val p = plans(q)
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(opExchanges(p) == 0, s"$q must not hash-shuffle:\n$p")
    }
  }

  test("x119's per-source ranks ride one exchange; the scalar count broadcasts") {
    val p = plans("x119_quantile_calibration")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x120's anchor postings materialize once and feed both join sides") {
    val p = plans("x120_bitext_candidates")
    assert(!p.contains("FileScan parquet"), s"corpus re-shingled instead of checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x121's composed container walk is joinless and shuffle-free") {
    val p = plans("x121_crawl_ingest")
    assert(!p.contains("Join"), p)
    assert(opExchanges(p) == 0, s"crawl ingest must not hash-shuffle:\n$p")
  }

  test("x122's supplier index and edge probes broadcast; no cartesian") {
    val p = plans("x122_negative_sampling")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x123's walk steps are chained broadcast joins over the shared adjacency") {
    val p = plans("x123_random_walks")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x124's queries broadcast against the corpus (q21's top-k shape)") {
    val p = plans("x124_label_noise")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x125's ring broadcasts; the doc fan-out partial-combines map-side") {
    val p = plans("x125_consistent_sharding")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the a16⋈a17 doc-sized equi-join may legitimately sort-merge; the
    // RING joins must not — check no SMJ keyed on a ring position column
    assert(!"SortMergeJoin \\[arp".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x126's run window and rollup share ONE colname exchange") {
    val p = plans("x126_encoding_advisor")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x127's basket frame materializes once; item counts broadcast back") {
    val p = plans("x127_basket_rules")
    assert(!p.contains("FileScan parquet"), s"basket frame re-derived:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("x128's int8 ranking runs on the fused native expression inside codegen") {
    val p = plans("x128_quantization_recall")
    assert(p.contains("intdotproduct") || p.contains("IntDotProduct"), p)
    assert(!p.contains("FileScan parquet"), s"quantized frame re-derived:\n$p")
  }

  test("x129's rollup partial-combines on one custkey exchange; scalars broadcast") {
    val p = plans("x129_rfm_segments")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x130's two strategies ride one ranked frame — no join at all") {
    val p = plans("x130_writer_balance")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x131 reuses the one-pass funnel; the latency ranking runs on the converted subset") {
    val p = plans("x131_funnel_latency")
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"funnel re-scans events:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x132's verified-pair frame aggregates once per tau — no re-verification") {
    val p = plans("x132_threshold_sweep")
    // the union of 4 tau aggregates must read the checkpointed frame, not
    // re-run the candidate join and shingle verification per branch
    assert(!p.contains("FileScan parquet"), s"tau branches re-derive pairs:\n$p")
  }

  test("q43's funnel is one scan and one user exchange (three stacked windows)") {
    val p = plans("q43_funnel_steps")
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"funnel re-scans events:\n$p")
    assert(opExchanges(p) == 1, s"expected one user_id exchange:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("x114's capped edge frame materializes ONCE and the degree tables broadcast") {
    val p = plans("x114_item_cf")
    // three consumers (self-join both sides + degrees) read the checkpoint —
    // the corpus join must not appear at all in the executed plan
    assert(!p.contains("FileScan parquet"), s"corpus re-joined instead of checkpoint:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q10's rank-1 filter plans WindowGroupLimit (top-k pushed below the sort)") {
    // Spark 4's InferWindowGroupLimit rewrites row_number() = 1 into a
    // per-partition group limit evaluated BEFORE the full window sort
    // materializes — at 100 TB that is the difference between sorting
    // every customer's orders and keeping one row per customer per
    // partition in a bounded buffer. A refactor that breaks the rewrite
    // (e.g. filtering on rn <> 1's complement, or a non-rank function)
    // silently reverts to the full sort; this pins it.
    val p = plans("q10_first_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("x175's ORC read-back prunes partitions AND pushes the row predicate") {
    // x175's returned frame is a checkpoint (the store is deleted in its
    // finally), so the ORC scan is pinned here on the same write/read shape
    import org.apache.spark.sql.functions._
    withTempDir("graft-planshape-orc") { root =>
      val store = s"$root/t"
      graft.Tables.lineitem(spark, sf001)
        .filter(col("l_orderkey") < 60000)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").partitionBy("l_returnflag").orc(store)
      val p = spark.read.orc(store)
        .filter(col("l_returnflag") === "R" && col("l_quantity") < 25)
        .groupBy("l_returnflag").count()
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [") && p.contains("LessThan(l_quantity,25"), p)
      assert(p.contains("PartitionFilters: [") && p.contains("(l_returnflag"), p)
    }
  }
}
