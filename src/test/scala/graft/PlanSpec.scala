package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the properties that make the battery
  * scale — pushdown reaching the scan, dims broadcast, top-k as
  * TakeOrderedAndProject, pair generation without self-joins, as-of
  * without a join — pinned as assertions on the physical plan so a
  * regression fails the suite instead of only showing up in BENCH. */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("In(p_size"),
      s"expected p_size IN pushdown:\n$p")
    // column pruning: the scan must not read unreferenced wide columns
    assert(!p.contains("p_comment"), s"p_comment should be pruned:\n$p")
  }

  test("q03: dimension tables join via broadcast, not shuffle") {
    val p = plan("q03_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims should broadcast:\n$p")
  }

  test("q04/q05: semi and anti joins stay semi/anti (no join+distinct)") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05_anti_join").contains("LeftAnti"))
  }

  test("q18: global top-k runs as TakeOrderedAndProject, not global sort") {
    val p = plan("q18_global_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k plan:\n$p")
  }

  test("q41: pair generation never shuffles a join — grouped explode only") {
    // the one allowed join is the broadcast of the ONE-ROW corpus-relative
    // df-cap aggregate into the posting filter; a posting-list self-join
    // (SortMergeJoin/ShuffledHashJoin) or a cartesian is the regression
    val p = plan("q41_jaccard_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"jaccard must be grouped-explode, not a self-join:\n$p")
  }

  test("q21: as-of is union+window — no join node in the plan") {
    val p = plan("q21_asof_join")
    assert(!p.contains("Join"), s"as-of must not join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected a window operator:\n$p")
  }

  test("q48: corpus side of brute-force top-k is never shuffled before scoring") {
    val p = plan("q48_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side should broadcast into a NLJ:\n$p")
  }

  test("q84: the partitioned fact scan is dynamically pruned by the dim filter") {
    val p = plan("q84_partitioned_dpp")
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan's PartitionFilters:\n$p")
  }

  test("q49: band exchange carries ids only — no vector payload below it") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // Force the shuffled-join path the assertion is about: at test SF
    // everything fits in a broadcast, which would hide the band exchange
    // entirely (and the plan must come from executedPlan — sparkPlan is
    // pre-EnsureRequirements, so join/agg exchanges don't exist yet).
    // AQE off so executedPlan is the materialized EnsureRequirements
    // output, not an AdaptiveSparkPlanExec wrapper.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = SparkEntry.queries("q49_ann_lsh")(spark, dir)
        .queryExecution.executedPlan
      val bandExchanges = exec.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
              case h: HashPartitioning =>
                // lshTopK's candidate exchange keys on (table, sig) —
                // unlike the pair family, which renamed to (band, bucket)
                // when MinHash and embedding merged onto shared machinery
                h.expressions.flatMap(_.references.map(_.name).toSeq).contains("sig")
              case _ => false
            }) => e
      }
      assert(bandExchanges.nonEmpty, s"expected a (table, sig) exchange:\n$exec")
      bandExchanges.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"an array column rides the band exchange (×tables shuffle payload):\n$e")
      }
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q115/q118: the incremental pair paths keep every (band, bucket) " +
    "exchange id-only — no vector payload rides the probe") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (q <- Seq("q115_incremental_embed", "q118_incremental_semantic")) {
        val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
        val bandExchanges = exec.collect {
          case e: ShuffleExchangeExec if (e.outputPartitioning match {
                case h: HashPartitioning =>
                  h.expressions.flatMap(_.references.map(_.name).toSeq)
                    .contains("bucket")
                case _ => false
              }) => e
        }
        assert(bandExchanges.nonEmpty, s"$q: expected a (band, bucket) exchange")
        bandExchanges.foreach { e =>
          assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"$q: a vector column rides the probe exchange:\n$e")
        }
      }
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q52: embedding-LSH bucket exchange carries ids only, like q49") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = SparkEntry.queries("q52_embed_dup_lsh")(spark, dir)
        .queryExecution.executedPlan
      val bandExchanges = exec.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
              case h: HashPartitioning =>
                // the bucket exchange keys on (band, bucket) — the LSH
                // table/signature pair, renamed when the MinHash and
                // embedding paths merged onto shared machinery
                h.expressions.flatMap(_.references.map(_.name).toSeq).contains("bucket")
              case _ => false
            }) => e
      }
      assert(bandExchanges.nonEmpty, s"expected a (band, bucket) exchange:\n$exec")
      bandExchanges.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"a vector column rides the bucket exchange (×tables payload):\n$e")
      }
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q103: IVF-PQ cell exchange carries codes, never raw vectors") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // the compression contract: the corpus rides the probe join as
    // (cand_id, cell, norm, codes) — m small ints — while the full
    // array<float> embedding crosses only the bounded re-rank joins.
    // A `cv` below the cell exchange would mean PQ compresses nothing.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = SparkEntry.queries("q103_ann_ivfpq")(spark, dir)
        .queryExecution.executedPlan
      val cellExchanges = exec.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.flatMap(_.references.map(_.name).toSeq) == Seq("cell")
              case _ => false
            }) => e
      }
      assert(cellExchanges.nonEmpty, s"expected a cell exchange:\n$exec")
      cellExchanges.foreach { e =>
        assert(!e.output.exists(_.dataType == ArrayType(FloatType, true)) &&
          !e.output.exists(_.dataType == ArrayType(FloatType, false)),
          s"a raw embedding rides the IVF-PQ cell exchange:\n$e")
      }
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q28: bucketed co-located join plans with zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // materialize the bucketed tables (the query writes them itself),
    // then pin the join+agg plan: bucket metadata must satisfy both the
    // join and the same-key aggregation with NO hash exchange (the only
    // allowed shuffle is the final orderBy's range exchange)
    val df = SparkEntry.queries("q28_bucketed_join")(spark, dir)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join/agg must be exchange-free:\n${df.queryExecution.executedPlan}")
  }

  test("q30: upsert decomposition broadcasts the batch on both legs") {
    val p = plan("q30_merge_upsert")
    assert(!p.contains("SortMergeJoin"),
      s"upsert must not sort-merge the full target:\n$p")
  }

  test("q67: bucketed as-of joins only the tiny per-bucket summary, never pairs") {
    val p = plan("q67_asof_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"bucketed as-of must not fan out pairs:\n$p")
    assert(p.contains("Window"), s"expected window operators:\n$p")
  }

  test("q68: packing is pure window layout — no join anywhere") {
    val p = plan("q68_pack_chunks")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(p.contains("Window"), s"expected the sharded cumsum window:\n$p")
  }

  test("q73: stratified sample plans with a window group limit") {
    // the row_number+filter shape must keep Spark's WindowGroupLimit
    // rewrite (per-task top-n before the shuffle) — without it a
    // billion-doc stratum sorts fully in one task
    val p = plan("q73_stratified_sample")
    assert(p.contains("WindowGroupLimit"), s"expected group-limit pushdown:\n$p")
  }

  test("q70/q71: contamination and tf-idf join equi-wise, never cartesian") {
    Seq("q70_ngram_contamination", "q71_tfidf_top_terms").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q must join on keys:\n$p")
    }
  }

  test("q90/q92: survivor selection and LM scoring are window-free aggregates") {
    // both key their heavy state on a skewable column (cluster, term);
    // the survivor/probability tables must be aggregates, never windows.
    // q92's broadcast of the 1-row (N,V) totals IS a nested-loop join by
    // construction (no key exists), so only an unbroadcast cartesian is
    // outlawed there.
    Seq("q90_cluster_survivors", "q92_lm_quality").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not plan a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
    assert(!plan("q90_cluster_survivors").contains("NestedLoop"),
      "q90 must join on keys")
  }

  test("q91: shard offsets broadcast into the scan — never a sort-merge join") {
    val p = plan("q91_token_budget")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast offsets join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"offsets must not shuffle the corpus:\n$p")
  }

  test("q88: span removal is window-free — a hot gram never lands in one partition") {
    // the first-occurrence table must be an aggregate (map-side
    // combinable), not a row_number window whose per-gram partition
    // would hold every copy of a boilerplate gram; the doc rebuild is a
    // groupBy too, so NO Window node may appear anywhere in the plan
    val p = plan("q88_dup_span_removal")
    assert(!p.contains("Window"), s"q88 must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"q88 must join on keys:\n$p")
  }

  test("q96: the Bloom prefilter runs below any exchange — the corpus is " +
    "filtered before it shuffles") {
    // the point of the operator: at 100 TB the corpus-side scan must
    // drop non-members BEFORE the join's exchange, so the UDF filter
    // has to sit under the first Exchange on the train-side branch
    val p = plan("q96_bloom_decontamination")
    val udfAt = p.indexOf("UDF")
    assert(udfAt >= 0, s"expected the Bloom-membership UDF in the plan:\n$p")
    // walk upward from the filter: the plan string lists parents before
    // children, so every Exchange ABOVE the filter appears at a smaller
    // index; the train branch's own scan (below it) must carry no
    // exchange between scan and filter — i.e. no Exchange line between
    // the UDF filter and the next scan below it
    val below = p.substring(udfAt)
    val nextScan = below.indexOf("Scan parquet")
    assert(nextScan >= 0, s"expected the corpus scan below the filter:\n$p")
    assert(!below.substring(0, nextScan).contains("Exchange"),
      s"Bloom filter must apply before the corpus shuffles:\n$p")
  }

  test("q98: hashed classifier is one explode + one aggregate — no join, " +
    "no window") {
    val p = plan("q98_hashed_classifier")
    assert(!p.contains("Window"), s"q98 must not plan a window:\n$p")
    assert(!p.toLowerCase.contains("join"), s"q98 must not plan a join:\n$p")
  }

  test("q99: keyed lookup scans ONLY the buckets its keys hash to — " +
    "untouched buckets' dirs are never listed") {
    val df = SparkEntry.queries("q99_keyed_lookup")(spark, dir)
    // the buckets the battery's key list hashes to (16-bucket layout)
    import spark.implicits._
    val expect = Seq(7L, 42L, 101L, 555L, 998L).toDF("c_custkey")
      .select(graft.sink.BucketedMergeSink.bucketExpr(Seq("c_custkey"), 16).as("b"))
      .distinct().as[Int].collect().toSet
    val scanned = df.inputFiles.map { f =>
      val m = s"${graft.sink.BucketedMergeSink.bucketCol}=(\\d+)".r.findFirstMatchIn(f)
      assert(m.isDefined, s"q99 scanned a non-bucket path: $f")
      m.get.group(1).toInt
    }.toSet
    assert(scanned == expect,
      s"q99 scanned buckets $scanned but its keys hash to $expect " +
        "(untouched bucket dirs must never be listed)")
    assert(expect.size < 16, "key list should touch a strict subset of buckets")
  }

  test("q109: the change feed never shuffles the target — broadcast " +
    "joins only, pre/post pairs from a narrow explode") {
    // the scale promise of MergeSink.changeFeed(broadcastBatch = true):
    // the (huge) target is scanned once per leg and the batch rides
    // broadcasts; a SortMergeJoin/ShuffledHashJoin here means the feed
    // costs a target shuffle the merge itself never pays
    val p = plan("q109_change_feed")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q109 must not shuffle the target for the feed:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"q109's matched/insert legs should broadcast the batch:\n$p")
    assert(p.contains("Generate explode"),
      s"q109's pre/post pair emission should be a narrow explode:\n$p")
  }

  test("q113: semantic decontamination is one broadcast scan + one " +
    "partial-aggregated max — no shuffle join, no window") {
    // the scale promise of TrainingPrep.semanticContamination: the
    // holdout broadcasts, the corpus is scanned once, and the per-row
    // max collapses map-side so the exchange carries one row per vector
    val p = plan("q113_semantic_decontamination")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q113 must not shuffle-join the corpus:\n$p")
    assert(!p.contains("Window"), s"q113 must not plan a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q113's holdout side should broadcast:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"q113's max must partial-aggregate below the exchange:\n$p")
  }

  test("q47/q100/q101/q102: multimodal codec pipelines are narrow — no exchange " +
    "between scan and sink") {
    // the scale promise of the asset path (Multimodal scaladoc): encode,
    // decode, resize and featurize are all partition-local mapPartitions
    // over the scan — at 10^8 assets a shuffle of image/audio BYTES would
    // dwarf every other cost in the pipeline. The final orderBy is the
    // only allowed exchange (presentation sort for the oracle diff).
    for (q <- Seq("q47_multimodal_features", "q100_audio_features",
        "q101_multimodal_resize", "q102_video_frames")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 1,
        s"$q: codec pipeline must be narrow, found ${exchanges.size} " +
          s"exchanges:\n${df.queryExecution.executedPlan}")
      exchanges.foreach(e =>
        assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
          s"$q: the only allowed exchange is the presentation sort's " +
            s"range partitioning, found: ${e.outputPartitioning}"))
    }
  }

  test("q128: the heavy-hitters sketch partial-aggregates below the " +
    "exchange — the shuffle carries capacity-bounded map buffers, " +
    "never the token stream") {
    val p = plan("q128_heavy_hitters_audit")
    // the typed aggregator plans as ObjectHashAggregate with a partial
    // stage per partition; a SortAggregate (no map-side combine for the
    // object buffer) or a missing partial stage would ship every token
    // row through the exchange and the 100 TB claim dies
    assert(p.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate for the typed MG buffer:\n$p")
    assert(p.contains("partial_frequentitemsaggregator") ||
      p.contains("partial_FrequentItemsAggregator"),
      s"expected a PARTIAL sketch stage below the exchange:\n$p")
  }

  test("freq_items via the SQL registry plans the same partial-below-" +
    "exchange shape as the Column API") {
    // the registry bridge hands the planner a Complete-mode
    // AggregateExpression (GraftSqlBridge.udafExpression); AggUtils must
    // still split it into partial/final — if a bridge regression ever
    // planned it single-stage, every SQL caller would ship raw rows
    // through the exchange
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    (1 to 100).map(i => (i % 7, s"t${i % 13}")).toDF("g", "tok")
      .createOrReplaceTempView("ps_hh_toks")
    val df = spark.sql(
      "SELECT g, freq_items(tok, 8) AS sk FROM ps_hh_toks GROUP BY g")
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("objecthashaggregate"),
      s"expected ObjectHashAggregate for the SQL-registered MG buffer:\n$p")
    assert(p.contains("partial_frequentitemsaggregator"),
      s"expected a PARTIAL sketch stage below the exchange:\n$p")
  }

  test("theta_sketch_agg plans its partial below the exchange — raw " +
    "values never ride the shuffle") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    (1 to 200).map(i => (i % 5, s"u${i % 37}")).toDF("g", "item")
      .createOrReplaceTempView("ps_theta_rows")
    val df = spark.sql(
      "SELECT g, theta_sketch_agg(item) AS sk FROM ps_theta_rows GROUP BY g")
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("objecthashaggregate"),
      s"expected ObjectHashAggregate for the theta Union gadget:\n$p")
    assert(p.contains("partial_theta_sketch_agg"),
      s"expected a PARTIAL sketch stage below the exchange — without " +
        s"it every raw item ships through the shuffle:\n$p")
  }

  test("kll_sketch_agg plans its partial below the exchange — raw " +
    "values never ride the shuffle, and the merge side reads bytes") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    (1 to 200).map(i => (i % 5, i.toDouble)).toDF("g", "v")
      .createOrReplaceTempView("ps_kll_rows")
    val df = spark.sql(
      "SELECT g, kll_sketch_agg(v) AS sk FROM ps_kll_rows GROUP BY g")
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("objecthashaggregate"),
      s"expected ObjectHashAggregate for the live KLL buffer:\n$p")
    assert(p.contains("partial_kll_sketch_agg"),
      s"expected a PARTIAL sketch stage below the exchange — without " +
        s"it every raw value ships through the shuffle:\n$p")
    // the persisted-read rollup has the same shape: stored bytes in,
    // one constant-size summary per group through the exchange
    val m = spark.sql(
      "SELECT kll_merge_agg(sk) FROM (SELECT g, kll_sketch_agg(v) AS sk " +
        "FROM ps_kll_rows GROUP BY g)")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(m.contains("partial_kll_merge_agg"),
      s"expected a PARTIAL merge stage below the exchange:\n$m")
  }

  test("exemplar_agg plans its partial below the exchange (bounded " +
    "bottom-k per group, not raw rows, rides the shuffle), and the " +
    "global exemplarSample is TakeOrderedAndProject — no shuffle at all") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    (1 to 300).map(i => (i % 5, i.toLong)).toDF("g", "id")
      .createOrReplaceTempView("ps_ex_rows")
    val df = spark.sql(
      "SELECT g, exemplar_agg(md5(CAST(id AS STRING)), " +
        "CAST(id AS STRING), 5) AS ex FROM ps_ex_rows GROUP BY g")
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("objecthashaggregate"),
      s"expected ObjectHashAggregate for the bounded exemplar buffer:\n$p")
    assert(p.contains("partial_exemplar_agg"),
      s"expected a PARTIAL exemplar stage below the exchange — without " +
        s"it every raw row ships through the shuffle:\n$p")
    // the global sample composes to a per-partition bounded heap with
    // a driver-side merge of k-sized lists: the 100 TB shape is ONE
    // narrow pass, no exchange
    val sample = graft.ops.Profiling.exemplarSample(
      (1 to 300).map(i => (i.toLong, s"t$i")).toDF("id", "text"), "id", 10)
    val sp = sample.queryExecution.executedPlan.toString.toLowerCase
    assert(sp.contains("takeorderedandproject"),
      s"expected TakeOrderedAndProject for the global bottom-k:\n$sp")
    assert(!sp.contains("exchange"),
      s"a global exemplar sample must not shuffle:\n$sp")
  }

  test("deflate_ratio stays inside whole-stage codegen — no fallback " +
    "projection in the scoring scan") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // a real scan: a projection over a local relation constant-folds at
    // optimization time and leaves no codegen stage to inspect
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan-dr").toString + "/docs"
    Seq((1L, "some text here"), (2L, "other words there"))
      .toDF("id", "text").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("ps_dr_docs")
    val df = spark.sql(
      "SELECT id, deflate_ratio(text) AS r FROM ps_dr_docs WHERE text IS NOT NULL")
    val plan = df.queryExecution.executedPlan
    val gen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(gen.nonEmpty &&
      gen.exists(_.toString.toLowerCase.contains("deflate_ratio")),
      s"the quality-signal projection must codegen (UDF would ser/de " +
        s"every row):\n$plan")
    df.collect() // the generated code must actually compile and run
  }

  test("q123: the 2-dim range predicate reaches the z-ordered parquet " +
    "scan — pushdown is what turns tight file stats into skipped IO") {
    val p = plan("q123_zorder_scan")
    assert(p.contains("PushedFilters:") &&
      p.contains("LessThanOrEqual(user_id") &&
      p.contains("GreaterThanOrEqual(value"),
      s"expected both range predicates pushed to the scan:\n$p")
  }

  test("readPostings: the flat probe view of a postings index is a " +
    "narrow generate over the scan — no exchange, postings not pruned away") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-plan-idx").toString + "/t"
    val idx = path + "-mh"
    graft.sink.BucketedMergeSink.merge(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, "eps zeta eta theta"))
        .toDF("doc_id", "text"),
      path, "upsert", Seq("doc_id"), numBuckets = 2, retainVersions = 2)
    graft.sink.BucketedMergeSink.syncMinhashIndex(spark, path,
      graft.core.Derived.MinhashIndex(idx))
    val df = graft.sink.BucketedMergeSink.readPostings(spark, idx)
    val exec = df.queryExecution.executedPlan
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"readPostings must not shuffle — the explode is per-row:\n$exec")
    assert(exec.toString.contains("Generate"),
      s"expected the nested postings to explode via Generate:\n$exec")
    assert(df.select("id", "band", "bucket").count() == 16,
      "2 docs x 8 bands of flat postings")
  }
}
