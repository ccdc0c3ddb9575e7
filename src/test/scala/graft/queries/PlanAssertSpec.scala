package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.{Registry, SparkSpec}

/** Physical-plan regression tests for the headline relational queries —
  * locks in the plans the engine is designed around (SURVEY.md §6):
  * star joins broadcast, point lookups push their filters into the
  * parquet scan, single-shuffle aggregation. A correctness-neutral
  * refactor that silently degrades one of these (a broadcast falling
  * back to sort-merge, a filter evaluated post-scan) fails here, not
  * in a 100 TB incident.
  */
class PlanAssertSpec extends SparkSpec {

  /** Execute and return every node of the AQE-finalized physical plan.
    * `SparkPlan.collect` stops at query-stage boundaries (a materialized
    * stage is held in `QueryStageExec.plan`, not `children`) — flatten
    * through them so joins/scans inside stages are visible.
    */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    flatten(root)
  }

  /** Flatten a plan subtree, descending through AQE query-stage
    * boundaries (`SparkPlan.collect` stops at them — a materialized
    * stage hangs off `QueryStageExec.plan`, not `children`).
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(flatten) ++ (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => Nil
    }))

  test("q10 star join: every dimension broadcast, no sort-merge join") {
    val nodes = finalNodes(Registry.byName("q10_join_star").run(spark, sf()))
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(bhj.size === 3, s"expected 3 broadcast joins:\n${nodes.head}")
    assert(smj.isEmpty, s"dimension join regressed to sort-merge:\n${nodes.head}")
    // the only shuffles are the agg (hash) and the final sort (range) —
    // nothing below the joins moves the fact table
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"unexpected shuffle below the agg:\n${nodes.head}")
  }

  test("q35 GSI lookup: partition-key filter reaches the parquet scan") {
    val nodes = finalNodes(Registry.byName("q35_gsi_lookup").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan found:\n${nodes.head}")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("o_orderpriority"),
      s"GSI1PK equality not pushed to the scan: $pushed")
    assert(pushed.contains("o_orderdate"),
      s"GSI1SK range not pushed to the scan: $pushed")
    // projection pruned to the 5 referenced columns — not the full table
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("o_comment"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q1 aggregation: map-side partial agg, exactly one data shuffle") {
    val nodes = finalNodes(Registry.byName("q1_agg").run(spark, sf()))
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // partial + final pair = map-side combine before the exchange
    assert(aggs.size >= 2, s"no partial aggregation:\n${nodes.head}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    // one hash exchange for the groupBy, one range for the final sort
    assert(shuffles.size <= 2, s"extra shuffle in the agg path:\n${nodes.head}")
  }

  test("q47 date_histogram: terms filter pushed to the events scan") {
    val nodes = finalNodes(Registry.byName("q47_search_date_histogram").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("In(event_type"),
      s"terms filter not pushed to the scan: $pushed")
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("props"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q68 packing: window partitioned by shard, never a global sort") {
    val nodes = finalNodes(Registry.byName("q68_text_pack").run(spark, sf()))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window exec:\n${nodes.head}")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"packing window lost its shard partitioning (single-partition window):\n${windows.head}")
  }

  test("q49 significant_terms: corpus totals broadcast, not shuffled in") {
    val nodes = finalNodes(Registry.byName("q49_search_significant_terms").run(spark, sf()))
    val bcast = nodes.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bcast.nonEmpty,
      s"1-row totals side is not broadcast:\n${nodes.head}")
  }

  test("q81 stratified sample: bounded-heap agg has a partial/final split") {
    val nodes = finalNodes(Registry.byName("q81_sample_stratified").run(spark, sf()))
    // the typed aggregate must run as ObjectHashAggregate partial+final —
    // that pair IS the map-side combine that bounds shuffle volume to
    // partitions × strata × k (the reason q81 isn't a window query)
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"no partial ObjectHashAggregate pair:\n${nodes.head}")
    // no window operator anywhere — the non-scalable formulation
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"sampler regressed to a per-stratum window:\n${nodes.head}")
  }

  test("q87 bloom: bitset broadcast; no shuffle joins anywhere") {
    val nodes = finalNodes(Registry.byName("q87_bloom_contamination").run(spark, sf()))
    val bcast = nodes.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bcast.nonEmpty, s"bloom bitset not broadcast:\n${nodes.head}")
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"membership test regressed to a shuffled join:\n${nodes.head}")
  }

  test("q57 pipeline agg: windows run over the aggregated series, not raw events") {
    val df = Registry.byName("q57_search_pipeline_agg").run(spark, sf())
    val nodes = finalNodes(df)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window exec:\n${nodes.head}")
    // every window must sit ABOVE the date_trunc aggregation: its input
    // is the daily-bucket series, so a hash aggregate must appear in
    // each window's subtree
    assert(windows.forall(w => flatten(w).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])),
      s"window consumes raw events:\n${nodes.head}")
  }

  test("q58 histogram: partial/final agg pair, scan pruned to used columns") {
    val nodes = finalNodes(Registry.byName("q58_search_histogram").run(spark, sf()))
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // count-distinct expands to a two-round agg; the contract is that at
    // least one partial/final pair exists (map-side combine bounds the
    // shuffle to buckets × partitions, not rows)
    assert(aggs.size >= 2, s"no partial aggregation:\n${nodes.head}")
    val readSchema = nodes.collect { case s: FileSourceScanExec => s }
      .map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("text"),
      s"histogram scan reads the document text: $readSchema")
  }

  test("q59 phrase match: companion range predicate pushed to the scan") {
    val nodes = finalNodes(Registry.byName("q59_search_phrase").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("n_chars"),
      s"n_chars range not pushed to the scan: $pushed")
  }

  test("q89 chunking: map-only until the presentation sort (one range shuffle)") {
    val nodes = finalNodes(Registry.byName("q89_text_chunk").run(spark, sf()))
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"chunking shuffles before the final sort:\n${nodes.head}")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"chunking uses a window:\n${nodes.head}")
  }

  test("q93 function_score: filter clause pushed to the events scan") {
    val nodes = finalNodes(Registry.byName("q93_search_function_score").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("EqualTo(event_type"),
      s"filter clause not pushed to the scan: $pushed")
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("props"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q54 range+filters aggs: two scans, no joins, column-pruned reads") {
    val nodes = finalNodes(Registry.byName("q54_search_range_filters").run(spark, sf()))
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    assert(smj.isEmpty && bhj.isEmpty,
      s"bucket union introduced a join:\n${nodes.head}")
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val readSchema = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!readSchema.contains("o_orderkey") && !readSchema.contains("o_custkey"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q16b banded range join: equi-join plan, no nested-loop or cartesian") {
    val nodes = finalNodes(Registry.byName("q16b_join_range_banded").run(spark, sf()))
    val bnlj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(bnlj.isEmpty && cart.isEmpty,
      s"banded interval join fell back to nested-loop:\n${nodes.head}")
    val equi = nodes.collect { case j: BroadcastHashJoinExec => j } ++
      nodes.collect { case j: SortMergeJoinExec => j }
    assert(equi.nonEmpty, s"no equi join on the band key:\n${nodes.head}")
  }

  test("q91 knn join: pure kernel plan — no join operators, id-partitioned window") {
    val nodes = finalNodes(Registry.byName("q91_knn_join").run(spark, sf()))
    // the block-pair kernel is a groupByKey/flatMapGroups pipeline: any
    // join operator here means the exact kNN fell back to a pair join
    val joins = nodes.filter(p =>
      p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[BroadcastHashJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    assert(joins.isEmpty, s"kNN kernel regressed to a join:\n${nodes.head}")
    // the top-k merge window partitions by row id (≤ B·k rows each) —
    // an unpartitioned window here would sort the whole candidate set
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"top-k merge window lost its per-row partitioning:\n${nodes.head}")
    // shuffles: block-pair groupByKey + window hash + presentation sort
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"extra shuffle in the kNN path:\n${nodes.head}")
  }

  test("q102 hybrid RRF: windows above limits, equi fusion join, no cartesian") {
    val nodes = finalNodes(Registry.byName("q102_search_hybrid_rrf").run(spark, sf()))
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"hybrid fusion runs a cartesian product:\n${nodes.head}")
    // the two rank windows are unpartitioned BY DESIGN — each must sit
    // above a top-20 limit (TakeOrderedAndProject), never the raw corpus
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no rank windows:\n${nodes.head}")
    assert(windows.forall(w => flatten(w).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec])),
      s"a rank window consumes an unlimited input:\n${nodes.head}")
    // RRF fusion of the two ≤20-row lists is an equi join on doc_id
    val equi = nodes.collect { case j: BroadcastHashJoinExec => j } ++
      nodes.collect { case j: SortMergeJoinExec => j }
    assert(equi.nonEmpty, s"no equi fusion join:\n${nodes.head}")
    // the only nested-loop joins are the broadcast 1-row scalar sides
    // (corpus stats, query vector)
    val bnlj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size <= 2, s"unexpected nested-loop join:\n${nodes.head}")
  }

  test("round-5 curation queries: bounded shuffles, no cartesian, postings never pair") {
    for (n <- Seq("q104_substring_spans", "q105_unigram_logprob",
        "q106_prototype_prune", "q107_cms_heavy_hitters")) {
      val nodes = finalNodes(Registry.byName(n).run(spark, sf()))
      val cart = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(cart.isEmpty, s"$n runs a cartesian product:\n${nodes.head}")
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      // postings/count joins + final sort: anything beyond 5 exchanges
      // means a pair join or a lost partial-agg crept in
      assert(shuffles.size <= 5, s"$n has ${shuffles.size} shuffles:\n${nodes.head}")
    }
  }

  test("q117 term suggest: inputs broadcast against the vocab, never shuffled or paired") {
    val nodes = finalNodes(Registry.byName("q117_search_term_suggest").run(spark, sf()))
    // the levenshtein band is a non-equi condition: the correct shape is
    // ONE nested-loop join whose broadcast side is the handful of input
    // terms — a cartesian or a shuffle join means the band stopped
    // pruning or the tiny side stopped broadcasting
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"suggest join is a cartesian product:\n${nodes.head}")
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"suggest join shuffles the vocabulary:\n${nodes.head}")
    val bcast = nodes.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bcast.nonEmpty, s"input terms not broadcast:\n${nodes.head}")
    // vocabulary agg keeps its partial/final split (df counting is
    // map-side combined before the term shuffle)
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, s"vocab df agg lost its partial stage:\n${nodes.head}")
  }

  test("q118 more_like_this: scoring is one scan + one matches-only shuffle") {
    // the round-10 rework: the seed's tf is driver metadata, df runs
    // as a separate bounded pass, and the SCORING plan the request
    // returns evaluates the token chain ONCE per row (intersect with
    // the chosen set, explode only matches) — zero joins, zero
    // windows, and at most the ONE keyed-aggregate exchange whose
    // rows are the ≤ max_query_terms matches per doc, never the
    // corpus vocabulary
    val nodes = finalNodes(Registry.byName("q118_search_more_like_this").run(spark, sf()))
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"MLT scoring should be join-free:\n${nodes.head}")
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"MLT scoring should shuffle once at most:\n${nodes.head}")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"MLT scoring should be window-free:\n${nodes.head}")
  }

  test("q119 z-order scan: serves from the cached layout with both range predicates pushed") {
    val nodes = finalNodes(Registry.byName("q119_zorder_scan").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan:\n${nodes.head}")
    // reading the z-layout, not the raw lineitem table
    val locations = scans.map(_.relation.location.rootPaths.mkString(",")).mkString
    assert(locations.contains("graft_zorder"),
      s"scan reads the raw table instead of the z-layout: $locations")
    // both box predicates reach the parquet reader — that is what makes
    // row-group footer stats prunable under the z clustering
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("l_extendedprice") && pushed.contains("l_quantity"),
      s"conjunctive range not pushed to the scan: $pushed")
  }

  test("q121 phrase suggest: corpus bigrams meet the candidate pairs only by broadcast hash join") {
    val nodes = finalNodes(Registry.byName("q121_search_phrase_suggest").run(spark, sf()))
    // the corpus bigram count table: the aggregate that emits bcount
    def hasBigrams(p: SparkPlan): Boolean = flatten(p).exists {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.output.exists(_.name == "bcount")
      case _ => false
    }
    assert(nodes.exists(hasBigrams), s"no bigram aggregate:\n${nodes.head}")
    val joins = nodes.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    // every join above the corpus-sized table is a broadcast hash join
    // (the probe by the pairs, then the ≤ perPosition² hits broadcast
    // back into the left join) — never a shuffle join or a loop
    val overBigrams = joins.filter(j => j.children.exists(hasBigrams))
    assert(overBigrams.nonEmpty, s"bigrams never joined:\n${nodes.head}")
    overBigrams.foreach { j =>
      assert(j.isInstanceOf[BroadcastHashJoinExec],
        s"bigram table joined by ${j.nodeName}:\n$j")
    }
    // the probe streams the corpus-sized table against the broadcast
    // candidate pairs, never the other way round
    assert(overBigrams.exists {
      case j: BroadcastHashJoinExec =>
        val (build, stream) =
          if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight)
            (j.right, j.left) else (j.left, j.right)
        hasBigrams(stream) && !hasBigrams(build)
      case _ => false
    }, s"bigram table is broadcast instead of probed:\n${nodes.head}")
    // nested-loop joins live only on the request side: the input band
    // (broadcast inputs against the vocabulary, as in q117) and the
    // unconditioned candidate expansion, bounded at perPosition² = 25
    val loops = joins.filter {
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _ => false
    }
    loops.foreach(j => assert(!hasBigrams(j), s"bigram table in a loop join:\n$j"))
    val expansion = loops.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if j.condition.isEmpty => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec
        if j.condition.isEmpty => j
    }
    assert(expansion.nonEmpty, s"no candidate expansion:\n${nodes.head}")
    expansion.foreach { j =>
      assert(j.metrics("numOutputRows").value <= 25L,
        s"candidate expansion exceeds perPosition²:\n$j")
    }
    // the other loop is the input band: its broadcast side is the
    // request's inputs, no file scan behind it
    loops.filterNot(expansion.contains).foreach {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        val build =
          if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.right
          else j.left
        assert(!flatten(build).exists(_.isInstanceOf[FileSourceScanExec]),
          s"input band broadcasts a data side:\n$j")
      case j => fail(s"input band is a cartesian product:\n$j")
    }
  }

  test("q72 minhash lsh: the corpus is scanned once") {
    // the `size(ids) >= 1` guard in MinHashLsh keeps collect_list
    // referenced on the reps branch, so both consumers of the
    // canonical-text aggregate share one exchange; if column pruning
    // ever folds the guard away, the corpus is scanned once per
    // consumer with no functional signal — this pin is that signal
    val df = Registry.byName("q72_dedup_minhash_lsh").run(spark, sf())
    df.collect()
    val scans = graft.ScanCount.distinctScans(df)
    assert(scans.size === 1, s"q72 reads its input ${scans.size}×:\n" +
      df.queryExecution.executedPlan)
  }

  test("q123 search_after: cursor predicate pushed to the scan, zero shuffles") {
    val nodes = finalNodes(Registry.byName("q123_search_search_after").run(spark, sf()))
    // keyset pagination's whole point: the disjunctive cursor range is a
    // scan-level filter and the page is a TakeOrderedAndProject — deep
    // pages never shuffle, sort globally, or materialize skipped rows
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("n_chars"),
      s"cursor predicate not pushed to the scan: $pushed")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"page fetch is not a bounded top-k:\n${nodes.head}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"keyset page triggered a shuffle:\n${nodes.head}")
  }

  test("q125 geo grid: map-only derive, single grid agg, no joins") {
    val nodes = finalNodes(Registry.byName("q125_search_geo_grid").run(spark, sf()))
    // haversine + cell assignment are codegen'd projections; the only
    // shuffles are the bounded grid agg and the presentation sort
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(joins.isEmpty, s"geo grid plan grew a join:\n${nodes.head}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"extra shuffle in the grid agg:\n${nodes.head}")
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, s"grid agg lost its map-side partial:\n${nodes.head}")
  }

  test("q124 multi_term: single corpus scan feeds the expand-based distinct counts") {
    val nodes = finalNodes(Registry.byName("q124_search_multi_term").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1,
      s"patterns re-scan the corpus (${scans.size} scans):\n${nodes.head}")
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
    }
    assert(joins.isEmpty, s"multi_term plan grew a join:\n${nodes.head}")
  }

  test("q126 span_near: postings pair by equi join, never cartesian") {
    val nodes = finalNodes(Registry.byName("q126_search_span_near").run(spark, sf()))
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(cart.isEmpty, s"position pairing is not an equi join:\n${nodes.head}")
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, s"doc agg lost its partial stage:\n${nodes.head}")
  }

  test("q127 distance_feature: event_type pushed, scoring map-only to a top-k") {
    val nodes = finalNodes(Registry.byName("q127_search_distance_feature").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("event_type"),
      s"event_type filter not pushed to the scan: $pushed")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"top-20 regressed to a global sort:\n${nodes.head}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"decay scoring triggered a shuffle:\n${nodes.head}")
  }

  test("scoring-DSL family (terms_set/dis_max/boosting/pinned): map-only to a top-k, no joins") {
    for (name <- Seq("q128_search_terms_set", "q129_search_dis_max",
        "q130_search_boosting", "q132_search_pinned")) {
      val nodes = finalNodes(Registry.byName(name).run(spark, sf()))
      val joins = nodes.collect {
        case j: BroadcastHashJoinExec => j
        case j: SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(joins.isEmpty, s"$name grew a join:\n${nodes.head}")
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
        s"$name regressed to a global sort:\n${nodes.head}")
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$name scoring triggered a shuffle:\n${nodes.head}")
    }
  }

  test("new DSL scoring clauses (multi_match/function_score/sqs/distance_feature): map-only top-k") {
    for (name <- Seq("q148_dsl_multi_match", "q149_dsl_function_score",
        "q150_dsl_simple_query_string", "q153_dsl_distance_feature")) {
      val nodes = finalNodes(Registry.byName(name).run(spark, sf()))
      val joins = nodes.collect {
        case j: BroadcastHashJoinExec => j
        case j: SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(joins.isEmpty, s"$name grew a join:\n${nodes.head}")
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
        s"$name regressed to a global sort:\n${nodes.head}")
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"$name scoring triggered a shuffle:\n${nodes.head}")
    }
  }

  test("q151 filters agg: one scan, one aggregate pass, no joins") {
    val nodes = finalNodes(Registry.byName("q151_dsl_filters_agg").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1,
      s"filters buckets must share ONE scan, found ${scans.size}:\n${nodes.head}")
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(joins.isEmpty, s"filters agg grew a join:\n${nodes.head}")
    // partial/final global agg = one exchange; the bucket reshape is
    // a single-row explode, not a shuffle
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"filters agg shuffled ${shuffles.size}×:\n${nodes.head}")
  }

  test("LM/importance/classifier scorers: postings equi-joins only, bounded shuffles") {
    for (n <- Seq("q154_bigram_logprob", "q155_dsir_weights",
        "q156_quality_classifier")) {
      val nodes = finalNodes(Registry.byName(n).run(spark, sf()))
      val cart = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(cart.isEmpty, s"$n runs a cartesian product:\n${nodes.head}")
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      // count-table joins + per-doc agg + presentation sort; more
      // means a pair join or a lost partial-agg crept in
      assert(shuffles.size <= 6, s"$n has ${shuffles.size} shuffles:\n${nodes.head}")
      // the broadcast build side must be the vocabulary-bounded count
      // table (the RIGHT side of every count join), never the
      // corpus-sized token/bigram stream: Spark's static size estimate
      // is blind to the explode fan-out and, unpinned, broadcasts the
      // stream — a driver OOM at real scale (caught by the 100× probe)
      nodes.collect { case j: BroadcastHashJoinExec => j }.foreach { j =>
        assert(j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight,
          s"$n broadcasts its probe stream:\n$j")
      }
    }
    // the hashed classifier is the strictest shape: the model is an
    // expression, so there is NO join of any kind
    val cls = finalNodes(Registry.byName("q156_quality_classifier").run(spark, sf()))
    val clsJoins = cls.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(clsJoins.isEmpty, s"classifier scoring grew a join:\n${cls.head}")
  }

  test("q168 knn request: one unshuffled corpus scan into a bounded top-k") {
    val nodes = finalNodes(Registry.byName("q168_dsl_knn").run(spark, sf()))
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1, s"knn must scan the corpus once:\n${nodes.head}")
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(joins.isEmpty, s"knn grew a join:\n${nodes.head}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"knn regressed to a global sort:\n${nodes.head}")
    // the only exchange is the single-partition one under the rank
    // window over the already-limited k rows
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"knn shuffled the corpus:\n${nodes.head}")
  }

  test("q75 brute-force ANN: the ranked tail plans no range-partitioning exchange") {
    val nodes = finalNodes(Registry.byName("q75_ann_brute").run(spark, sf()))
    // the partials meet in one reducer, where the rank window and the
    // (q_id, rank) sort are local: no range sample, no range exchange
    val ranged = nodes.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => s
    }
    assert(ranged.isEmpty, s"q75 range-partitions its tail:\n${nodes.head}")
    assert(nodes.collect { case s: ShuffleExchangeExec => s }.size === 1,
      s"q75 moves more than its partials:\n${nodes.head}")
  }

  test("q90 shuffle shard: one hash shuffle to shards, window within shard") {
    val nodes = finalNodes(Registry.byName("q90_shuffle_shard").run(spark, sf()))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 1, s"expected one shard window:\n${nodes.head}")
    // shuffles: one hash (to shards) + one range (presentation sort) max
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"extra shuffle in shard assignment:\n${nodes.head}")
  }

  test("q350 indexed ANN: the bucket probe is a broadcast join, corpus never shuffle-joins") {
    val nodes = finalNodes(
      Registry.byName("q350_ann_matryoshka_indexed").run(spark, sf()))
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(bhj.size === 1, s"expected ONE broadcast probe join:\n${nodes.head}")
    assert(smj.isEmpty, s"probe join regressed to sort-merge:\n${nodes.head}")
    // beyond the broadcast, only the candidate windows move data: the
    // shortlist hash shuffle + (possibly fused) re-rank + the
    // presentation sort — candidates only, never the corpus
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"corpus-sized shuffle crept in:\n${nodes.head}")
  }

  test("round-12 scoring/agg queries stay map-only: no joins, bounded shuffles") {
    // q342/q352: pinned-kernel scoring is a projection into a top-k —
    // no join operators anywhere, at most the presentation exchange
    Seq("q342_dsl_function_score_exp", "q352_dsl_fvf_ln1p",
        "q354_dsl_decay_date").foreach { q =>
      val nodes = finalNodes(Registry.byName(q).run(spark, sf()))
      assert(nodes.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        nodes.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"$q grew a join:\n${nodes.head}")
      assert(nodes.collect { case s: ShuffleExchangeExec => s }.size <= 1,
        s"$q shuffles beyond the presentation pass:\n${nodes.head}")
    }
    // q341 named-tz histogram: the literal transition CASE keys ONE
    // aggregation — agg exchange + presentation sort, nothing else
    val tz = finalNodes(
      Registry.byName("q341_dsl_date_histogram_named_tz").run(spark, sf()))
    assert(tz.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      tz.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"q341 grew a join:\n${tz.head}")
    assert(tz.collect { case s: ShuffleExchangeExec => s }.size <= 2,
      s"q341 shuffles beyond agg+sort:\n${tz.head}")
    // q348 two-hop nested: higher-order functions, never an explode
    // join — map-only into the top-k
    val nh = finalNodes(
      Registry.byName("q348_dsl_nested_two_hop").run(spark, sf()))
    assert(nh.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      nh.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"q348 grew a join:\n${nh.head}")
    assert(nh.collect { case s: ShuffleExchangeExec => s }.size <= 1,
      s"q348 shuffles beyond the presentation pass:\n${nh.head}")
  }
}
