package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates — the ".explain and iterate" contract:
  * dimension joins broadcast, filters/projections reach the Parquet scan,
  * top-k avoids global sorts, aggregation is partial+final. These are the
  * properties that survive a 100× scale-up; the specs pin them so a
  * regression in query shape fails fast, not at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def explained(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // let AQE finalize
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("multiway star join broadcasts every dimension") {
    val plan = explained("q11_join_multiway")
    assert(count(plan, "BroadcastHashJoin") >= 3,
      s"expected >=3 broadcast joins (customer/nation/region):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("filter + projection are pushed into the parquet scan") {
    val plan = explained("q30_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"expected pushed filters in scan:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_discount") &&
      !read.contains("l_quantity") && !read.contains("l_returnflag"),
      s"scan should read only needed columns: $read")
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = explained("q31_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is partial+final with a single shuffle") {
    val plan = explained("q01_agg_groupby")
    assert(plan.contains("partial_"), "expected map-side partial aggregation")
    // final AQE plan: one shuffle stage for the agg + one for the sort
    // (tree lines only — the formatted detail section repeats each node)
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"q01 should shuffle once for agg (plus the output sort):\n$plan")
  }

  test("embedding near-dup joins on band buckets (no cross product)") {
    val plan = explained("q69_dedup_embedding")
    assert(!plan.contains("CartesianProduct"),
      s"banded near-dup must not degenerate into a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LSH ann query joins on bucket (no cross product)") {
    val plan = explained("q71_ann_lsh")
    assert(!plan.contains("CartesianProduct"),
      "bucketed ANN must not degenerate into a cartesian product")
  }

  test("q19 co-bucketed fact-fact join has no exchange below the join") {
    val whole = explained("q19_join_bucketed")
    val plan = whole.split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$whole")
    assert(whole.contains("Bucketed: true"), s"scans not bucketed:\n$whole")
    // the join consumes bucketed scans directly; the only shuffles in the
    // final plan belong to the aggregation + output sort above it
    val smj = plan.indexOf("SortMergeJoin")
    assert(!plan.substring(smj).contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$whole")
  }

  test("q20 top-k per group reduces map-side before any shuffle") {
    val whole = explained("q20_window_rank")
    // AQE echoes the pre-adaptive plan below "== Initial Plan ==" — gate
    // on the final plan only
    val plan = whole.split("== Initial Plan ==").head
    val mp = plan.indexOf("MapPartitions")
    assert(mp >= 0, s"expected phase-1 MapPartitions reduction:\n$whole")
    // explain prints the root first, so tree lines after the
    // MapPartitions line are UPSTREAM of it — that side (scan → phase-1
    // reduction) must be shuffle-free; the window's exchange consumes
    // the already-reduced rows
    assert(!plan.substring(mp).contains("Exchange"),
      s"no shuffle may run below the map-side reduction:\n$whole")
  }

  test("mixture sampling broadcasts thresholds; corpus itself never shuffles") {
    val plan = explained("q77_dataset_mixture")
    // per-stratum counts + global min join back via broadcast only —
    // the documents scan must not hash-shuffle on its way to the filter
    assert(count(plan, "BroadcastHashJoin") >= 1 ||
      count(plan, "BroadcastNestedLoopJoin") >= 1, plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must reach the mixture filter without a join shuffle:\n$plan")
  }

  test("LSH dedup emits pairs without a distinct shuffle over candidates") {
    // first-matching-band emission: the only exchanges are the band-join
    // shuffles and the output sort — no aggregate over the pair stream
    val plan = explained("q67_dedup_simhash")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("HashAggregate"),
      s"no distinct()/aggregate should remain in the pair pipeline:\n$plan")
  }

  test("sessionize aggregates on the window's partitioning (one data shuffle)") {
    val plan = explained("q26_sessionize")
    // HashPartitioning(user_id) from the session window satisfies the
    // (user_id, session_no) clustering — the per-session aggregate must
    // NOT re-shuffle; the only exchanges are the window's and the
    // output sort's
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"expected window + output-sort exchanges only:\n$plan")
  }

  test("shard packing: single-task window below the cutover, " +
      "per-partition offsets (no empty-PARTITION-BY window) above") {
    // r14: ShardPack.priors gained the GlobalRank size cutover. The
    // tiny fixture takes the plain window (the right plan at this
    // size); the LARGE arm keeps the distributed contract: the prefix
    // sum is computed per range partition (window PARTITIONED BY the
    // partition id) + broadcast offsets — no single-task global window.
    val plan = explained("q84_shard_pack")
    assert(plan.contains("windowspecdefinition"),
      s"small input should take the window arm:\n$plan")
    val d = graft.Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "size(split(text, ' ')) AS w")
    val big = graft.operators.ShardPack.shardIds(
      graft.operators.ShardPack.distributedPriors(d,
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("w")), 4096L)
    big.collect()
    val bigPlan = big.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    val winLines = bigPlan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"expected a window stage:\n$bigPlan")
    assert(winLines.forall(_.contains("_pid")),
      s"window must partition by _pid (no global single-task sort):\n$winLines")
    assert(bigPlan.contains("BroadcastExchange"),
      s"partition offsets must broadcast:\n$bigPlan")
  }

  test("passage-coverage runs on two data shuffles (window + doc agg)") {
    val plan = explained("q86_dedup_passages")
    // doc-frequency comes from count-over-window on the shingle hash
    // (the exploded stream shuffles ONCE), the per-doc rollup once more,
    // plus the CPU-spread repartition of the raw docs and the output
    // sort — any join or extra aggregate over the shingle stream is a
    // regression (measured: the join-back form is 2× slower at sf0.1)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"dup flags must come from a window, not a join back:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 4,
      s"expected repartition + window + doc-agg + output-sort exchanges only:\n$plan")
  }

  test("classifier gate is pure per-row compute (no data shuffle)") {
    val plan = explained("q87_quality_classifier")
    // hashed-linear scoring never aggregates across rows — the only
    // exchange is the output sort's range partitioning
    assert(!plan.contains("HashAggregate") && !plan.contains("SortMergeJoin"),
      s"classifier scoring must not aggregate or join:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 1,
      s"only the output sort may shuffle:\n$plan")
  }

  test("vocab coverage heap-selects top-K and partial-aggregates counts") {
    val plan = explained("q92_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K terms must not global-sort the vocabulary:\n$plan")
    assert(plan.contains("partial_"),
      s"term counting must map-side combine:\n$plan")
  }

  test("funnel folds per user on one data shuffle (no join chain)") {
    val plan = explained("q93_event_funnel")
    // the oracle's 3-join/3-agg chain is the shape to AVOID — the fold
    // needs only the per-user grouping shuffle plus the output sort
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"funnel stages must come from the fold, not joins:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"expected user-grouping + output-sort exchanges only:\n$plan")
  }

  test("cohort retention shuffles three times (window, distinct, count)") {
    val plan = explained("q94_cohort_retention")
    assert(!plan.contains("SortMergeJoin"),
      s"cohort must come from the window, not a join back:\n$plan")
    // user window + distinct phase + final count + output sort
    assert(count(plan, "+- ShuffleQueryStage") <= 4,
      s"expected window/distinct/count/sort exchanges only:\n$plan")
  }

  test("paragraph dedup windows on the segment key (no join, never pairwise)") {
    val plan = explained("q96_dedup_paragraphs")
    // the multi-doc flag is min!=max over a window on seg — a distinct +
    // count-distinct + join-back is 3 shuffles doing the same thing
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"boilerplate flags must come from a window, not a join back:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 3,
      s"expected segment-window + doc-rollup + output-sort exchanges only:\n$plan")
  }

  test("bigram LM score scans the corpus exactly twice (model + probe)") {
    // look at the AQE FINAL plan only (the formatted dump repeats the
    // pre-execution plan under "Initial Plan")
    val full = explained("q97_text_lmscore")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // the checkpointed bigram model feeds the count join, the unigram
    // rollup AND the vocabulary scalar — the probe is the only parquet
    // scan in the scoring job (the model build's scan already ran);
    // re-deriving counts from the corpus per consumer is a regression
    assert(count(plan, "Scan parquet") <= 1,
      s"expected the scoring probe as the only corpus scan:\n$plan")
    assert(count(plan, "Scan ExistingRDD") >= 3,
      s"c2/c1/V must all reuse the materialized model:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"scoring must attach counts via equi-joins:\n$plan")
  }

  test("token normalization is pure per-row compute (no data shuffle)") {
    val plan = explained("q98_text_normalize")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortMergeJoin"),
      s"normalization must not aggregate or join:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 1,
      s"only the output sort may shuffle:\n$plan")
  }

  test("source overlap groups the shingle stream once; sizes broadcast") {
    val plan = explained("q99_source_overlap")
    // per-shingle source sets come from one collect_set groupBy — a
    // shingle-stream self-join (two more shuffles of the big stream) is
    // the shape to avoid
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair matrix must come from source-set explosion, not a self-join:\n$plan")
    assert(count(plan, "BroadcastHashJoin") >= 2,
      s"per-source sizes must broadcast:\n$plan")
  }

  test("time_bucket stays inside whole-stage codegen") {
    val plan = explained("q40_time_bucket")
    // formatted mode marks codegen'd operators with "[codegen id : N]";
    // the aggregate keyed on time_bucket must carry one
    val aggLine = plan.linesIterator
      .find(l => l.contains("HashAggregate") && l.contains("codegen id"))
    assert(aggLine.nonEmpty, s"expected codegen'd HashAggregate:\n$plan")
    assert(plan.contains("time_bucket"), plan)
  }

  test("span dedup never goes pairwise in documents") {
    val plan = explained("q104_span_dedup")
    // the span-hash stream aggregates (freq+owner) and joins back on the
    // HASH — never doc×doc; removal positions roll up per doc and the
    // reassembly join keys on doc_id. A cartesian or a doc-keyed
    // self-join of the corpus is a regression.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay hash-keyed, never pairwise:\n$plan")
    // join-backs are equi-joins; frequency aggregation is partial+final
    assert(plan.contains("partial_"),
      s"freq/owner aggregation must map-side combine:\n$plan")
  }

  test("heavy hitters recount semi-joins broadcast candidates (token stream never shuffled raw)") {
    val plan = explained("q107_heavy_hitters")
    // the exact recount must stream the token scan through a broadcast
    // semi join — a sort-merge join (or no join at all: a plain global
    // groupBy) would shuffle every token occurrence, the shape the MG
    // candidate pass exists to avoid
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidates must broadcast into a semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream must not shuffle into a join:\n$plan")
    assert(plan.contains("partial_count"),
      s"recount must map-side combine:\n$plan")
  }

  test("shingle novelty never joins back on the shingle key") {
    val plan = explained("q109_shingle_novelty")
    // novel-per-doc comes from re-grouping the firsts table by its
    // first_doc column; the doc join is on doc_id only. A join keyed on
    // the shingle would hand a boilerplate shingle's group to one task.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_min"),
      s"first-occurrence min must map-side combine (hot-shingle absorption):\n$plan")
  }

  test("source TV distance self-joins the count table, totals broadcast") {
    val full = explained("q110_source_tv")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // corpus appears only through the checkpointed (source, token) count
    // table; totals attach by broadcast; the only non-broadcast join is
    // the token-keyed count-table self-join
    assert(count(plan, "Scan parquet") == 0,
      s"corpus must be consumed via the materialized count table:\n$plan")
    assert(count(plan, "BroadcastHashJoin") >= 2,
      s"per-source totals must broadcast:\n$plan")
    // partial_ markers live in the node-detail section (full dump only)
    assert(full.contains("partial_sum"),
      s"pair sums must map-side combine:\n$full")
  }

  test("JL projection is pure per-row compute (no data shuffle)") {
    val plan = explained("q111_embedding_project")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"),
      s"projection must not aggregate or join:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 1,
      s"only the output sort may shuffle:\n$plan")
    assert(plan.contains("Generate"), s"expected posexplode Generate:\n$plan")
  }

  test("winnowing share stats shuffle only the selected fingerprint subset") {
    val plan = explained("q112_winnow_fingerprint")
    // no pairwise anything: fingerprint census is a groupBy + equi-join,
    // never a doc×doc product
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the winnow selection runs inside codegen before any exchange, ONCE:
    // r14 materializes the per-doc fingerprint frame (the census and the
    // join-back both consume it), so the declared plan reads the
    // checkpointed RDD instead of carrying the kernel twice — a parquet
    // scan here means the tokenize+winnow pass re-ran per consumer
    assert(count(plan, "Scan parquet") == 0,
      s"fingerprints must come from the one materialized pass:\n$plan")
  }

  test("edit-verified dedup computes Levenshtein above the spread exchange") {
    val df = SparkEntry.queries("q114_dedup_editverify")(spark, dir)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the checkpoint barrier makes the verify stage's input an RDD scan:
    // levenshtein must appear ABOVE it (in the final stage), never below
    // a broadcast join (which would mean pushdown dragged it into the
    // corpus scan's partitions again)
    val firstRdd = full.indexOf("Scan ExistingRDD")
    val lev = full.indexOf("levenshtein")
    assert(firstRdd >= 0, s"expected checkpoint barrier in plan:\n$full")
    assert(lev >= 0 && !full.substring(0, firstRdd).contains("BroadcastHashJoin"),
      s"levenshtein stage must sit above the checkpointed candidates:\n$full")
  }

  test("bloom dedup: misses short-circuit with zero joins; one anti-join total") {
    val plan = explained("q115_dedup_bloom")
    assert(plan.contains("bloom_might_contain"),
      s"native bloom probe expected in plan:\n$plan")
    // the only join in the whole query is the exact LeftAnti on the hit
    // subset; the miss branch of the union reaches the output join-free
    assert(plan.contains("Join type: LeftAnti"),
      s"expected the rescue anti-join:\n$plan")
    assert(!plan.contains("Join type: Inner") &&
      !plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"no other join may appear:\n$plan")
    assert(plan.contains("Union"), s"miss/rescue union expected:\n$plan")
  }

  test("bm25 ends in TakeOrdered; stats broadcast; no cartesian product") {
    val plan = explained("q116_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // df census joins broadcast; the 1-row stats ride a broadcast
    // nested-loop (the accepted broadcast-scalar crossJoin shape)
    assert(count(plan, "BroadcastHashJoin") >= 1, plan)
    assert(!plan.contains("SortMergeJoin"),
      s"bm25's joins are candidate-sized, none may sort-merge:\n$plan")
  }

  test("m4 downsampling is one hash aggregate (no window sort)") {
    val plan = explained("q118_m4_downsample")
    assert(!plan.contains("Window"),
      s"first/last must ride min_by/max_by, not a window sort:\n$plan")
    assert(plan.contains("partial_"),
      s"expected map-side partial aggregation:\n$plan")
    // one shuffle for the aggregate + one for the output sort
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"m4 should be a single data shuffle:\n$plan")
  }

  test("counter rate: one per-series window + one bucket aggregate") {
    val plan = explained("q120_counter_rate")
    assert(plan.contains("Window"), plan)
    // window exchange + aggregate exchange + output sort
    assert(count(plan, "+- ShuffleQueryStage") <= 3,
      s"counter rate should shuffle thrice at most:\n$plan")
    assert(plan.contains("partial_"), s"bucket agg must partial:\n$plan")
  }

  test("exact bucket quantiles rank-select on a KEYED window (no global sort, no join)") {
    val plan = explained("q123_bucket_quantiles")
    // GroupQuantile small path: row_number + count over the (series, day)
    // key — the window must be PARTITIONED (an empty PARTITION BY is the
    // single-task global sort this rewrite exists to avoid)
    val winLine = plan.linesIterator
      .find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("windowspecdefinition(event_type"),
      s"quantile window must partition by the group key:\n$winLine")
    assert(!plan.contains("Join") && !plan.contains("collect_list"), plan)
  }

  test("lttb co-locates each series with exactly one repartition") {
    // the kernel consumes its input via toRdd, so pin the PRE-kernel
    // frame's plan (the outer explain only shows a Scan ExistingRDD)
    val ev = graft.queries.t(spark, dir, "events")
    val df = graft.operators.Lttb.sortedInput(ev, "event_type", "ts",
      "event_id", "value")
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("hashpartitioning(_k"),
      s"series must be co-located by key:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"series counts must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"no sort-merge/cartesian in the series co-location:\n$plan")
  }

  test("rrf fusion: both arms TakeOrdered; fusion joins rank frames only") {
    val plan = explained("q124_rrf_fusion")
    // lexical + dense arm top-N, plus the fused top-k = 3 TakeOrdereds
    assert(count(plan, "TakeOrderedAndProject") >= 3,
      s"every top-N must be a TakeOrdered, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("interp gapfill windows on the series key; grid joins without cartesian") {
    val plan = explained("q125_gapfill_interp")
    assert(plan.contains("windowspecdefinition(event_type"),
      s"fill windows must partition by the series key:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("binned interval join is an equi join (no nested loop on the range)") {
    val plan = explained("q126_interval_join_binned")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the range predicate must ride the bin equi-key:\n$plan")
    // residual containment predicate must survive as a join/filter
    assert(plan.contains(">= w_start") || plan.contains("(ts"),
      s"residual [lo,hi) predicate must be applied:\n$plan")
  }

  test("ewma smoother windows the HOURLY aggregate, not the raw stream") {
    val plan = explained("q133_ewma_smooth")
    assert(plan.contains("partial_max"),
      s"hourly peak must partial-aggregate map-side:\n$plan")
    assert(plan.contains("windowspecdefinition(event_type"),
      s"smoothing window must partition by the series key:\n$plan")
    // agg exchange + window exchange + output sort, nothing more — the
    // raw event stream is never window-sorted
    assert(count(plan, "+- ShuffleQueryStage") <= 3, plan)
  }

  test("correlation matrix pairs the hourly aggregate (events never self-join)") {
    val plan = explained("q134_lag_correlation")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"),
      s"hourly counts must partial-aggregate before the pair join:\n$plan")
    // the pair join keys on bucket_ts over the types×hours frame
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"pair generation must be a keyed equi-join:\n$plan")
  }

  test("transition matrix: one user-keyed window, totals ride the 25-row frame") {
    val plan = explained("q136_event_transitions")
    assert(plan.contains("windowspecdefinition(user_id"),
      s"sequence window must partition by user:\n$plan")
    assert(!plan.contains("Join"),
      s"row normalization must not join back on the event stream:\n$plan")
  }

  test("state intervals collapse runs inside the user partition (no self-join)") {
    val plan = explained("q137_state_intervals")
    assert(plan.contains("windowspecdefinition(user_id"), plan)
    assert(!plan.contains("Join"),
      s"gaps-and-islands must stay window-only:\n$plan")
    // lag/run window + (user,run) agg + chaining window + output sort
    assert(count(plan, "+- ShuffleQueryStage") <= 4, plan)
  }

  test("vocab growth never re-scans per slice (min-bucket formulation)") {
    val plan = explained("q138_vocab_growth")
    assert(plan.contains("partial_min"),
      s"first-appearance slice must be a min aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // node headers "(n) Scan parquet" count each scan once: the bounds
    // probe + the token explode + the per-slice doc count = 3, never a
    // scan per slice
    assert(count(plan, ") Scan parquet") <= 4,
      s"min-bucket formulation scans the table O(1) times, not per slice:\n$plan")
  }

  test("characteristic terms heap-select per source; vocab totals join by key") {
    val plan = explained("q139_characteristic_terms")
    assert(!plan.contains("CartesianProduct"), plan)
    // phase-2 ranking window runs on the heap-reduced frame, so the
    // only row_number window sits above a MapPartitions, not the corpus
    assert(plan.contains("MapPartitions"),
      s"selection must ride TopKPerGroup's bounded heaps:\n$plan")
  }

  test("trend slope is one partial+final moment aggregate (no window)") {
    val plan = explained("q140_trend_slope")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    assert(plan.contains("partial_"),
      s"moment sums must partial-aggregate map-side:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"one agg shuffle + output sort:\n$plan")
  }

  test("winsorize joins per-group bounds through a broadcast") {
    val plan = explained("q141_winsorize")
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny per-group quantile frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("trigram paths: one user window, then TakeOrdered (no global sort)") {
    val plan = explained("q142_trigram_paths")
    assert(plan.contains("windowspecdefinition(user_id"), plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k paths must not globally sort:\n$plan")
  }

  test("funnel latency folds per user then rank-selects 2 stages (no join chain)") {
    val plan = explained("q147_funnel_latency")
    assert(!plan.contains("Join"),
      s"latencies come from q93's fold, not a join chain:\n$plan")
    // the stage quartiles ride GroupQuantile's keyed window
    val winLine = plan.linesIterator
      .find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("windowspecdefinition(stage"),
      s"stage quantile window must partition by stage:\n$winLine")
  }

  test("phrase search probes posting lists (filter below the adjacency joins)") {
    val plan = explained("q145_phrase_search")
    assert(!plan.contains("CartesianProduct"), plan)
    // the probe filters postings to the phrase tokens BEFORE joining:
    // the (doc,pos) adjacency joins must be equi-joins, and the token
    // equality predicate must sit in a Filter below them, not a join
    // condition over raw postings. r15: the census is SIZE-ADAPTIVE
    // (PhraseSearchSpec pins arm parity + dispatch) — the declared
    // fixture sits below the cutover, so its census may window; the
    // only census window allowed is the per-doc lead window (never an
    // empty PARTITION BY, which would gather the token stream into one
    // task)
    plan.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach { l =>
        assert(l.contains("windowspecdefinition(doc_id"),
          s"census window must partition by doc:\n$l")
      }
    assert(count(plan, "BroadcastNestedLoopJoin") <= 3,
      s"only the 1-row phrase frame may nested-loop:\n$plan")
  }

  test("sliding distinct never materializes the user-hour cross product") {
    val plan = explained("q146_sliding_distinct")
    assert(!plan.contains("CartesianProduct"), plan)
    // the engine-side formulation has NO range join: the only joins are
    // the grid's equi-join on (type, hour) and the 1-row bounds cross
    assert(!plan.contains("h#") || !plan.contains(">= (h#"),
      s"no 24-hour range join on the engine side:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("windowspecdefinition(event_type") && l.contains("user_id")),
      s"island merge rides the per-user window:\n$plan")
  }

  test("cusum chart streams each series through a sorted-group fold") {
    val plan = explained("q144_cusum_alerts")
    // med/MAD/h are a 5-row per-series map riding the fold CLOSURE
    // (collected, never joined — the event stream shuffles only its 4
    // fold columns), and the fold itself is MapGroups over the keyed
    // secondary sort — O(1) state, no per-series array, no collect_list
    assert(plan.contains("MapGroups"),
      s"fold must stream via flatMapSortedGroups:\n$plan")
    assert(!plan.contains("Join"),
      s"params ride the closure; no join belongs in the fold plan:\n$plan")
    assert(!plan.contains("collect_list"), plan)
  }

  test("q83 decontaminate shares ONE materialized shingle pass") {
    val full = explained("q83_decontaminate")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // the tokenize+shingle pass localCheckpoints; BOTH consumers (eval
    // broadcast set + probe side) must read the checkpointed RDD. A
    // parquet scan in this plan means the shingle pass re-ran per
    // consumer — the r5 9× regression (4.42 s → 0.49 s when shared)
    assert(count(plan, "Scan parquet") == 0,
      s"shingle pass must be checkpoint-shared, not re-scanned:\n$plan")
    assert(count(plan, "Scan ExistingRDD") >= 2,
      s"eval set AND probe must both reuse the materialized shingles:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the eval shingle set must broadcast into the probe:\n$plan")
  }

  test("q150 WITH-TIES windows the distinct-value frame, never the raw stream") {
    val full = explained("q150_topk_ties")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // rank derives from a running SUM of tie counts over the
    // (event_type, value)-aggregated frame: the Window must sit ABOVE a
    // HashAggregate (the map-side pre-aggregation), so the shuffle/sort
    // moves distinct values only — a Window with the scan directly
    // below it re-sorts the raw stream
    val win = plan.indexOf("Window")
    assert(win >= 0, s"expected a Window stage:\n$plan")
    assert(plan.substring(win).contains("HashAggregate"),
      s"window input must be the pre-aggregated tie-count frame:\n$plan")
    assert(full.contains("partial_count"),
      s"tie counting must map-side combine:\n$full")
    val winLine = full.linesIterator
      .find(_.contains("windowspecdefinition(event_type")).getOrElse("")
    assert(winLine.contains("sum("),
      s"rank must derive from SUM of tie counts (semantics-bearing):\n$winLine")
    assert(count(plan, "+- ShuffleQueryStage") <= 3,
      s"agg + window + output sort are the only exchanges:\n$plan")
  }

  test("centroid drift aggregates per (label,dim); corpus never self-joins") {
    val plan = explained("q143_centroid_drift")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_sum"),
      s"per-dim sums must partial-aggregate:\n$plan")
    // the only join runs on the labels×dims centroid frame
    assert(count(plan, ") Scan parquet") <= 1,
      s"one embedding scan feeds everything:\n$plan")
  }

  test("q158 line dedup: two corpus scans, common lines broadcast") {
    val full = explained("q158_line_dedup")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // a global-frequency filter needs two passes (count, then flag) —
    // a third scan means the totals/kept/reassembly aggregations split
    assert(count(plan, "Scan parquet") == 2,
      s"line dedup is a two-pass op, found a different scan count:\n$plan")
    // the common-line (boilerplate) table is small by construction and
    // must broadcast into the flag join — a shuffle join here re-keys
    // the whole exploded corpus by line text
    assert(plan.contains("BroadcastHashJoin"),
      s"common lines must broadcast:\n$plan")
  }

  test("q159 sequence packing: window below the cutover; per-partition " +
      "window + broadcast offsets above") {
    // r14: the prefix sum under SequencePack rides ShardPack.priors'
    // size cutover — the tiny fixture takes the plain window; above the
    // cutover the running sum must partition by the physical partition
    // id with the p-row offset table broadcast in (an empty partition
    // spec there is the one-task-sorts-the-corpus scale killer)
    val plan = explained("q159_sequence_pack")
    assert(plan.contains("windowspecdefinition"),
      s"small input should take the window arm:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val d = graft.Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", "size(split(text, ' ')) AS w")
    val big = graft.operators.ShardPack.distributedPriors(d,
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("w"))
    big.collect()
    val bigPlan = big.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    val winLine = bigPlan.linesIterator
      .find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("windowspecdefinition(_pid"),
      s"prefix-sum window must partition by _pid:\n$winLine")
    assert(bigPlan.contains("BroadcastHashJoin"),
      s"the p-row offset frame must broadcast:\n$bigPlan")
  }

  test("q160 chunk windows: pure per-row compute before the output sort") {
    val full = explained("q160_chunk_windows")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // tokenize → explode → slice is all per-row: no join, no window, no
    // aggregate — the ONLY exchange is the presentation orderBy
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("HashAggregate"),
      s"chunking must stay embarrassingly parallel:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 1,
      s"only the output sort may shuffle:\n$plan")
    assert(count(plan, "Scan parquet") == 1,
      s"one documents scan feeds everything:\n$plan")
  }

  test("q166 best-fit packing: one keyed shuffle, sorted-group kernel") {
    val full = explained("q166_bestfit_pack")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // chunking is a per-row explode; the ONLY exchanges are the
    // (group, shard) shuffle into the packing kernel and the output
    // sort — a global sort of the chunk stream would be the scale
    // killer the secondary-sort shape exists to avoid
    assert(plan.contains("MapGroups") || full.contains("MapGroups"),
      s"expected the sorted-groups packing kernel:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 2,
      s"group shuffle + output sort only:\n$plan")
    assert(!plan.contains("windowspecdefinition()"),
      s"no empty-partition global window:\n$plan")
    assert(count(plan, "Scan parquet") == 1,
      s"one documents scan:\n$plan")
  }

  test("q167 batch plan: global ranks are size-adaptive — window below " +
      "the cutover, offset stamp (never a one-task window) above") {
    // r14: GlobalRank.withRowNumber gained ntile's size cutover. On the
    // tiny fixture the chosen arm IS the plain window (one sort, no
    // extra jobs — the right plan at this size)...
    val plan = explained("q167_batch_plan")
    assert(plan.contains("windowspecdefinition") ||
      plan.contains("RunningWindowFunction"),
      s"small input should take the window arm:\n$plan")
    assert(!plan.contains("monotonically_increasing_id"),
      s"small input should skip the stamp machinery:\n$plan")
    // ...and the LARGE arm (called by name) keeps the scale
    // shape: range partition + broadcast offsets + mid stamping, no
    // empty-partition window sorting the corpus in one task
    val d = graft.Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
    val big = graft.operators.GlobalRank.stampedRowNumber(d,
      Seq(org.apache.spark.sql.functions.col("doc_id")), "rn")
    big.collect()
    val bigPlan = big.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!bigPlan.contains("windowspecdefinition()"),
      s"no single-task global window above the cutover:\n$bigPlan")
    assert(bigPlan.contains("BroadcastHashJoin"),
      s"partition offsets must broadcast:\n$bigPlan")
    assert(bigPlan.contains("monotonically_increasing_id"),
      s"expected the mid-based local index stamp:\n$bigPlan")
  }

  test("q163 blocklist gate: per-row gate, one scan, sort-only exchange") {
    val full = explained("q163_blocklist_gate")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // plan-literal term arrays: no join to a blocklist table, no
    // aggregate, no window — the gate must stay embarrassingly parallel
    assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
      !plan.contains("Window"),
      s"blocklist gate must be pure per-row compute:\n$plan")
    assert(count(plan, "+- ShuffleQueryStage") <= 1,
      s"only the presentation sort may shuffle:\n$plan")
    assert(count(plan, "Scan parquet") == 1, s"one documents scan:\n$plan")
  }

  test("q171 incremental BM25: merged postings broadcast dfs and stats") {
    val plan = explained("q171_bm25_incremental")
    // the per-term df table and the 1-row corpus stats must broadcast
    // into the posting scan — shuffling the postings by term would be
    // the O(occurrences) re-key the broadcast exists to avoid
    assert(count(plan, "BroadcastHashJoin") >= 1,
      s"dfs must broadcast into the postings:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      count(plan, "BroadcastHashJoin") >= 2,
      s"the 1-row stats frame must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must never global-sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q161 KS drift: ECDF window runs on the distinct-cents frame") {
    val full = explained("q161_ks_drift")
    val plan = full.indexOf("Initial Plan") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // the cumulative window must sit above the (series, cents) hash
    // aggregate — windowing the raw event stream re-sorts every event;
    // aggregated first, the window frame is bounded by the value domain
    val win = plan.indexOf("Window")
    assert(win >= 0, s"expected a cumulative-count Window:\n$plan")
    assert(plan.substring(win).contains("HashAggregate"),
      s"window input must be the per-cents aggregated frame:\n$plan")
    val winLine = full.linesIterator
      .find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("windowspecdefinition(event_type"),
      s"ECDF window must partition by series:\n$winLine")
    // the global time bounds and per-half totals are 1-row/series-count
    // frames: both must broadcast, never shuffle the event stream
    assert(count(plan, "BroadcastHashJoin") >= 1 ||
      count(plan, "BroadcastNestedLoopJoin") >= 1,
      s"totals must broadcast into the ECDF frame:\n$plan")
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("exact quantiles never buffer a group in an aggregation array") {
    // q128/q141/q144 select nearest ranks via shuffle-sort (spillable)
    // — a collect_list aggregation buffer never spills, so a hot series
    // at 100 TB is an executor OOM, not a slowdown (VERDICT r8 #1)
    for (q <- Seq("q128_robust_outliers", "q141_winsorize",
        "q144_cusum_alerts", "q123_bucket_quantiles",
        "q172_length_quantiles")) {
      val plan = explained(q)
      assert(!plan.contains("collect_list"),
        s"$q must not materialize per-group value arrays:\n$plan")
    }
    // q147 keeps its per-USER fold list (user-bounded) but the per-STAGE
    // latency quartiles — one entry per converting user, corpus-sized —
    // must come from rank selection, not a collected array
    val funnel = explained("q147_funnel_latency")
    assert(!funnel.contains("collect_list(lat_s"),
      s"q147 stage quartiles must not collect the latency column:\n$funnel")
  }
}
