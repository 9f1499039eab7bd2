package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineSpec
import graft.core.Runner
import graft.sink.MergeSink

/** Layer A query battery: the reference's own operator surface — MERGE
  * semantics (upsert Pype.py:97-117, update Pype.py:119-130, delete
  * Pype.py:179-186, exclusions Pype.py:132-143) and the YAML-driven
  * pipeline lifecycle (Pypeline.py:26-50) — each verified against a pure
  * SQL oracle that re-derives the expected merge result relationally.
  */
object QueriesEngine {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- upsert with an excluded-from-update column (A5 + A8)
    "q30_merge_upsert" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 1000)
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderstatus", lit("X"))
      MergeSink.upsert(target, batch, Seq("o_orderkey"),
          excluded = Seq("o_orderpriority"), broadcastBatch = true)
        .orderBy("o_orderkey")
    }),

    // -- update-only: unmatched batch rows dropped (A6)
    "q31_merge_update" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 1000)
      val batch = o.filter(col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      MergeSink.update(target, batch, Seq("o_orderkey"),
          excluded = Seq("o_orderdate"), broadcastBatch = true)
        .orderBy("o_orderkey")
    }),

    // -- delete by identifier list, ids deduped (A7 + A9)
    "q32_merge_delete" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val ids = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("o_orderkey"))
      MergeSink.delete(o, ids, "o_orderkey").orderBy("o_orderkey")
    }),

    // -- SCD2 history-preserving merge: bootstrap first versions at t1,
    //    then a t2 batch where only urgent orders changed — urgent keys
    //    in the overlap close + reopen, identical rows are no-ops
    //    (change detection), keys 1001..1500 insert open first versions.
    //    The batch deliberately DROPS o_orderpriority: changed keys
    //    carry it forward from the closed version, brand-new keys load
    //    NULL — the schema-evolution lattice applied to versioning
    "q105_scd2_merge" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val t0 = MergeSink.openVersions(
        o.filter(col("o_orderkey") <= 1000), Seq("o_orderkey"),
        to_timestamp(lit("2024-01-01 00:00:00")))
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_orderstatus",
          when(col("o_orderpriority") === "1-URGENT", lit("Z"))
            .otherwise(col("o_orderstatus")))
        .drop("o_orderpriority")
      MergeSink.scd2(t0, batch, to_timestamp(lit("2024-02-01 00:00:00")),
          Seq("o_orderkey"), broadcastBatch = true)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
          // emit version bounds as wall-clock strings: the comparator
          // must see identical values whatever session tz either side
          // formats timestamps in
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),

    // -- the read side of SCD2: point-in-time (AS OF) probes over the
    //    q105 merged history — one BEFORE the change batch (the closed
    //    originals are still the visible versions) and one AFTER (new
    //    versions + inserts visible, closed ones not). A filter over the
    //    version bounds, never a join
    "q106_scd2_asof" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val t0 = MergeSink.openVersions(
        o.filter(col("o_orderkey") <= 1000), Seq("o_orderkey"),
        to_timestamp(lit("2024-01-01 00:00:00")))
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_orderstatus",
          when(col("o_orderpriority") === "1-URGENT", lit("Z"))
            .otherwise(col("o_orderstatus")))
        .drop("o_orderpriority")
      val merged = MergeSink.scd2(
        t0, batch, to_timestamp(lit("2024-02-01 00:00:00")),
        Seq("o_orderkey"), broadcastBatch = true).localCheckpoint(true)
      def probe(p: String) = MergeSink
        .scd2AsOf(merged, to_timestamp(lit(p)))
        .select(lit(p).as("probe_ts"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
      probe("2024-01-15 00:00:00").unionByName(probe("2024-07-01 00:00:00"))
        .orderBy("probe_ts", "o_orderkey", "valid_from")
    }),

    // -- CDC change feed: what an upsert + a delete CHANGE, as
    //    insert / update_pre / update_post / delete rows — the derived
    //    Delta-CDF analogue an incremental consumer applies instead of
    //    re-reading the target. 'F'-status batch rows are shipped
    //    UNCHANGED, so their matches must emit nothing (no-op
    //    suppression is the semantics under test); o_orderpriority is
    //    excluded, so it can never be the change
    "q109_change_feed" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 1000)
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(col("o_totalprice") * 2))
        .withColumn("o_orderstatus",
          when(col("o_orderstatus") === "F", col("o_orderstatus"))
            .otherwise(lit("X")))
      val ids = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("o_orderkey"))
      MergeSink.changeFeed(target, batch, Seq("o_orderkey"),
          excluded = Seq("o_orderpriority"), broadcastBatch = true)
        .unionByName(MergeSink.deleteFeed(target, ids, "o_orderkey"))
        .orderBy("o_orderkey", "_op")
    }),

    // -- snapshot-diff CDC over a bucketed target: three committed
    //    versions (create, upsert-with-exclusion, delete), then the NET
    //    change v1→v3 from the manifest diff — only buckets whose
    //    manifest entry moved are read (non-listing pinned in
    //    BucketedMergeSinkSpec); the oracle replays both states in SQL
    "q112_snapshot_diff" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 1000)
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderstatus", lit("X"))
      val dels = o.filter(col("o_orderkey").between(100, 200))
        .select("o_orderkey")
      val tmp = Tables.scratchPath("graft-cdcdiff", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val sink = graft.sink.BucketedMergeSink
      sink.merge(s, target, tmp, "upsert", Seq("o_orderkey"),
        numBuckets = 8, retainVersions = 4)
      sink.merge(s, batch, tmp, "upsert", Seq("o_orderkey"),
        excluded = Seq("o_orderpriority"))
      sink.merge(s, dels, tmp, "delete", identifier = "o_orderkey")
      val vs = sink.manifestVersions(s, tmp)
      sink.changesBetween(s, tmp, vs.head, vs.last)
        .orderBy("o_orderkey", "_op")
    }),

    // -- bucket-partitioned merge target (the 100 TB incremental-load
    //    shape): create → upsert-with-exclusion → delete against a
    //    hash-bucketed layout, where each batch rewrites only the bucket
    //    directories it touches (BucketedMergeSinkSpec pins the
    //    one-bucket rewrite; this entry pins the SEMANTICS against the
    //    same relational oracle shape as q30/q32)
    "q83_merge_bucketed" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 1000)
      val batch = o.filter(col("o_orderkey").between(500, 1500))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderstatus", lit("X"))
      val dels = o.filter(col("o_orderkey").between(100, 200))
        .select("o_orderkey")
      // deterministic per-sf path, cleared up front (same rationale as q33)
      val tmp = Tables.scratchPath("graft-bm", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      graft.sink.BucketedMergeSink.merge(s, target, tmp, "upsert",
        Seq("o_orderkey"), numBuckets = 8)
      graft.sink.BucketedMergeSink.merge(s, batch, tmp, "upsert",
        Seq("o_orderkey"), excluded = Seq("o_orderpriority"))
      graft.sink.BucketedMergeSink.merge(s, dels, tmp, "delete",
        identifier = "o_orderkey")
      graft.sink.BucketedMergeSink.read(s, tmp).orderBy("o_orderkey")
    }),

    // -- full pipeline lifecycle: YAML registry → hydrated extract →
    //    transformer chain → upsert sink → read-back (A1,A3,A4,A5,A12,A13)
    "q33_pipeline_e2e" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [revenue_stage]
          |pypes:
          |  revenue_stage:
          |    extract_query: "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag FROM lineitem WHERE l_shipdate < TIMESTAMP '{cutoff}'"
          |    transformers: [graft.transformers.AddRevenue]
          |    target_table: q33_revenue
          |    type: upsert
          |    key: [l_orderkey, l_linenumber]
          |    post_query: "CREATE OR REPLACE TEMP VIEW q33_post AS SELECT count(*) AS n FROM q33_revenue"
          |""".stripMargin
      // deterministic per-sf path, NOT a fresh uuid dir per invocation
      // (repeated verify/bench rounds would accumulate unbounded /tmp
      // parquet) — but cleared up front so a target left by a PREVIOUS
      // round can never leak stale rows into this run's merge
      val tmp = Tables.scratchPath("graft-run", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("cutoff" -> "1996-01-01"), tmp)
      runner.run("demo")
      s.read.parquet(s"$tmp/q33_revenue").orderBy("l_orderkey", "l_linenumber")
    }),

    // -- A12's opt-in concurrency under the driver's eye: TWO independent
    //    pypes (disjoint sources, disjoint targets) run as parallel Spark
    //    jobs in one `run(parallel = true)` call — the race guards
    //    (distinct views/targets, no source/target crossing, hydrated
    //    producer/consumer outbox check) admit the plan and the results
    //    must equal the sequential semantics, which is exactly what the
    //    DuckDB oracle re-derives. Long-only aggregates keep the hash
    //    comparison exact.
    "q124_pipeline_parallel" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  par: [flag_counts, status_counts]
          |pypes:
          |  flag_counts:
          |    extract_query: "SELECT l_returnflag AS k, count(*) AS cnt, count(DISTINCT l_orderkey) AS dk FROM lineitem GROUP BY l_returnflag"
          |    target_table: q124_flags
          |    type: upsert
          |    key: [k]
          |  status_counts:
          |    extract_query: "SELECT o_orderstatus AS k, count(*) AS cnt, count(DISTINCT o_custkey) AS dk FROM orders GROUP BY o_orderstatus"
          |    target_table: q124_status
          |    type: upsert
          |    key: [k]
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runpar", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml), Map.empty, tmp)
      runner.run("par", parallel = true)
      s.read.parquet(s"$tmp/q124_flags").withColumn("src", lit("lineitem"))
        .unionByName(
          s.read.parquet(s"$tmp/q124_status").withColumn("src", lit("orders")))
        .select("src", "k", "cnt", "dk")
        .orderBy("src", "k")
    }),

    // -- q33's pipeline lifecycle with `buckets: 16` in the stage YAML:
    //    the SAME extract→transform→upsert run, but the target lives
    //    hash-bucketed (BucketedMergeSink via Runner) — identical
    //    semantics (same oracle as q33), different physical layout; the
    //    config-level switch a user flips for incremental loads at scale
    "q86_pipeline_bucketed" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [revenue_bucketed]
          |pypes:
          |  revenue_bucketed:
          |    extract_query: "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag FROM lineitem WHERE l_shipdate < TIMESTAMP '{cutoff}'"
          |    transformers: [graft.transformers.AddRevenue]
          |    target_table: q86_revenue
          |    type: upsert
          |    key: [l_orderkey, l_linenumber]
          |    buckets: 16
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runb", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("cutoff" -> "1996-01-01"), tmp)
      runner.run("demo")
      graft.sink.BucketedMergeSink.read(s, s"$tmp/q86_revenue")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // -- the minhash_index stage key end-to-end: two pipeline runs load
    //    growing document slices into a bucketed target while the config
    //    keeps a near-dup postings index in lockstep (syncMinhashIndex
    //    replays each load's snapshot diff, signing only changed docs).
    //    The emitted rows are VIOLATIONS — postings in the synced index
    //    but not in a fresh signing of the target's current state, or
    //    vice versa — so the oracle is the empty relation and any drift
    //    is a hard hash mismatch.
    "q116_pipeline_minhash_index" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [docs_indexed]
          |pypes:
          |  docs_indexed:
          |    extract_query: "SELECT doc_id, text FROM documents WHERE doc_id % 20 < {slice}"
          |    target_table: q116_docs
          |    type: upsert
          |    key: [doc_id]
          |    buckets: 4
          |    retain_versions: 2
          |    minhash_index: q116_minhash
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runmi", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("demo")
      runner.run("demo", Map("slice" -> "2")) // second load grows the slice
      val stored = graft.sink.BucketedMergeSink.readPostings(s, s"$tmp/q116_minhash")
        .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
        .withColumn("src", lit("index"))
      val freshly = graft.ops.Dedup.minhashBandIndex(
        graft.sink.BucketedMergeSink.read(s, s"$tmp/q116_docs"), idCol = "doc_id")
        .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
        .withColumn("src", lit("fresh"))
      stored.unionByName(freshly)
        .groupBy("id", "band", "bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2) // present on exactly one side = drift
        .select(col("id"), col("band"),
          lit("index_drift").as("violation"))
        .orderBy("id", "band")
    }),

    // -- the `profile:` stage key end-to-end: two pipeline runs load
    //    growing document slices while config keeps a per-version
    //    corpus-profile table (n, fixed-bin n_chars histogram,
    //    psi_prev drift) in lockstep (Profiling.syncProfile:
    //    version-marker catch-up, like the index keys). Emitted rows
    //    are VIOLATIONS — a stored version whose histogram or n
    //    differs from a fresh histSketch of that retained snapshot, a
    //    version missing from either side, or a psi_prev that
    //    disagrees with histPsi recomputed from the STORED rows — so
    //    the oracle is the empty relation.
    "q134_pipeline_profile" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [docs_profiled]
          |pypes:
          |  docs_profiled:
          |    extract_query: "SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 20 < {slice}"
          |    target_table: q134_docs
          |    type: upsert
          |    key: [doc_id]
          |    buckets: 4
          |    retain_versions: 2
          |    profile: q134_profile
          |    profile_column: n_chars
          |    profile_lo: 0
          |    profile_hi: 20000
          |    profile_bins: 64
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runprof", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("demo")
      runner.run("demo", Map("slice" -> "2")) // second load grows the slice
      val tgt = s"$tmp/q134_docs"
      val fresh = graft.sink.BucketedMergeSink.manifestVersions(s, tgt).sorted
        .map { v =>
          graft.ops.Profiling.histSketch(
            graft.sink.BucketedMergeSink.readVersion(s, tgt, v),
            "n_chars", 0.0, 20000.0, 64, Seq.empty)
            .select(lit(v).as("version"), col("hist").as("hist_f"))
        }.reduce(_ unionByName _)
      val stored = s.read.parquet(s"$tmp/q134_profile")
        .select(col("version").cast("long").as("version"),
          col("n"), col("hist"), col("psi_prev"))
      val histBad = stored.join(fresh, Seq("version"), "full")
        .filter(col("hist").isNull || col("hist_f").isNull ||
          sort_array(map_entries(col("hist"))) =!=
            sort_array(map_entries(col("hist_f"))) ||
          col("n") =!= aggregate(map_values(col("hist_f")),
            lit(0L), (a, c) => a + c))
        .select(col("version"), lit("profile_mismatch").as("violation"))
      // psi_prev must replay from the STORED rows alone (tiny table —
      // the unpartitioned window holds one row per version)
      val w = org.apache.spark.sql.expressions.Window.orderBy("version")
      val psiBad = stored
        .withColumn("hist_prev", lag("hist", 1).over(w))
        .filter(
          (col("hist_prev").isNull && col("psi_prev").isNotNull) ||
          (col("hist_prev").isNotNull && (col("psi_prev").isNull ||
            abs(col("psi_prev") - graft.ops.Profiling.histPsi(
              col("hist"), col("hist_prev"))) > lit(1e-9))))
        .select(col("version"), lit("psi_mismatch").as("violation"))
      histBad.union(psiBad).orderBy("version", "violation")
    }),

    // -- the `profile_max_psi:` bad-data circuit breaker end-to-end
    //    (q134's monitoring key ARMED): load 1 baselines the stored
    //    profile; load 2's extract is deliberately drifted — every
    //    n_chars shifted past profile_hi, so its whole mass lands in
    //    the carried overflow bin and PSI >> bound — and must refuse
    //    BEFORE any write (Runner.scala drift gate). Emitted rows are
    //    the target's post-refusal state, which the oracle replays as
    //    load 1 alone; a poison row rides along if the refusal never
    //    fired, so BOTH halves of the contract (refusal fired, target
    //    untouched) are hash-gated.
    "q140_drift_guard_refusal" -> ((s, dir) => {
      import s.implicits._
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [docs_guarded]
          |pypes:
          |  docs_guarded:
          |    extract_query: "SELECT doc_id, text, n_chars + {shift} AS n_chars FROM documents WHERE doc_id % 20 < 1"
          |    target_table: q140_docs
          |    type: upsert
          |    key: [doc_id]
          |    buckets: 4
          |    retain_versions: 2
          |    profile: q140_profile
          |    profile_column: n_chars
          |    profile_lo: 0
          |    profile_hi: 20000
          |    profile_bins: 64
          |    profile_max_psi: 0.25
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runguard", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("shift" -> "0"), tmp)
      runner.run("demo") // first load: no stored baseline, never trips
      val refused =
        try { runner.run("demo", Map("shift" -> "1000000")); false }
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("profile_max_psi") => true
        }
      val tgt = graft.sink.BucketedMergeSink.read(s, s"$tmp/q140_docs")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val poison =
        if (refused) tgt.limit(0)
        else Seq((-1L, "DRIFTED LOAD WAS NOT REFUSED", -1L))
          .toDF("doc_id", "text", "n_chars")
      tgt.unionByName(poison).orderBy("doc_id")
    }),

    // -- the `kll_profile:` + `kll_profile_max_ks:` circuit breaker
    //    end-to-end (q140's twin for metrics with NO declared range):
    //    load 1 baselines the stored sketch, load 2 grows the slice
    //    with the SAME distribution (KS small — must pass the gate AND
    //    extend the profile history), load 3's extract is shifted by
    //    1e6 (CDFs disjoint, KS ≈ 1 >> bound) and must refuse BEFORE
    //    any write. Emitted rows are the target's post-refusal state —
    //    the oracle replays loads 1+2 — plus poison rows if any half
    //    of the contract broke: refusal never fired, profile history
    //    not exactly two versions, ks_prev not (null, then ≤ bound),
    //    or a stored n differing from its snapshot's exact count.
    "q147_kll_guard_refusal" -> ((s, dir) => {
      import s.implicits._
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [docs_ksguard]
          |pypes:
          |  docs_ksguard:
          |    extract_query: "SELECT doc_id, text, n_chars + {shift} AS n_chars FROM documents WHERE doc_id % 20 < {slice}"
          |    target_table: q147_docs
          |    type: upsert
          |    key: [doc_id]
          |    buckets: 4
          |    retain_versions: 2
          |    kll_profile: q147_profile
          |    kll_profile_column: n_chars
          |    kll_profile_max_ks: 0.5
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runksguard", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("shift" -> "0", "slice" -> "1"), tmp)
      runner.run("demo") // load 1: no stored baseline, never trips
      // load 2: bigger slice, same distribution — KS stays small
      runner.run("demo", Map("shift" -> "0", "slice" -> "2"))
      val refused =
        try {
          runner.run("demo", Map("shift" -> "1000000", "slice" -> "2"))
          false
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("kll_profile_max_ks") => true
        }
      val tgt = graft.sink.BucketedMergeSink.read(s, s"$tmp/q147_docs")
        .select(col("doc_id"), col("text"), col("n_chars"))
      def poisonRow(id: Long, msg: String) =
        Seq((id, msg, -1L)).toDF("doc_id", "text", "n_chars")
      // profile-history contract: exactly loads 1 and 2 profiled, with
      // (ks_prev, n) per version as documented — read back the tiny
      // stored rows (<= 2)
      val profRows = graft.sink.BucketedMergeSink
        .manifestVersions(s, s"$tmp/q147_docs").sorted.map { v =>
          val r = s.read.parquet(s"$tmp/q147_profile/version=$v")
            .select(col("n"), col("ks_prev")).head()
          (v, r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getDouble(1)))
        }
      val exactNs = graft.sink.BucketedMergeSink
        .manifestVersions(s, s"$tmp/q147_docs").sorted.map(v =>
          graft.sink.BucketedMergeSink
            .readVersion(s, s"$tmp/q147_docs", v).count())
      val profileOk = profRows.length == 2 &&
        profRows.map(_._2) == exactNs &&
        profRows.head._3.isEmpty &&
        profRows(1)._3.exists(ks => ks >= 0.0 && ks <= 0.5)
      val poison =
        (if (refused) tgt.limit(0)
         else poisonRow(-1L, "DRIFTED LOAD WAS NOT REFUSED"))
          .unionByName(
            if (profileOk) tgt.limit(0)
            else poisonRow(-2L, s"PROFILE HISTORY BROKEN: $profRows"))
      tgt.unionByName(poison).orderBy("doc_id")
    }),

    // -- the `exemplar_profile:` stage key end-to-end: two upsert
    //    loads over growing documents slices, each landing its
    //    per-version deterministic bottom-15-by-md5(doc_id) exemplar
    //    rows in the maintenance pass. Because the sample is a pure
    //    function of each snapshot's key set and md5 is cross-engine,
    //    the ORACLE REPLAYS THE STORED PROFILE ROWS THEMSELVES in
    //    DuckDB — (version, h, n) hash-gated, the q147 pattern but
    //    with a direct value oracle instead of poison rows.
    "q151_exemplar_profile" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [docs_exemplar]
          |pypes:
          |  docs_exemplar:
          |    extract_query: "SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <= {res}"
          |    target_table: q151_docs
          |    type: upsert
          |    key: [doc_id]
          |    buckets: 4
          |    retain_versions: 2
          |    exemplar_profile: q151_profile
          |    exemplar_key: doc_id
          |    exemplar_k: 15
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runexprof", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("res" -> "0"), tmp)
      runner.run("demo") // version 1: residue-0 slice
      runner.run("demo", Map("res" -> "1")) // version 2: residues {0,1}
      graft.sink.BucketedMergeSink
        .manifestVersions(s, s"$tmp/q151_docs").sorted
        .map(v => s.read.parquet(s"$tmp/q151_profile/version=$v")
          .select(lit(v).cast("int").as("version"), col("h"), col("n")))
        .reduce(_ unionByName _)
        .orderBy("version", "h")
    }),

    // -- the delete_where stage key end-to-end: a load followed by a
    //    config-driven predicate purge on the TARGET (row-level TTL /
    //    GDPR erasure — the set-based complement of the reference's
    //    id-list delete, Pype.py:179-186), with the retention cutoff
    //    riding a placeholder. On the bucketed target only buckets
    //    holding matching rows rewrite (BucketedMergeSinkSpec pins
    //    that); the oracle replays load + purge in plain SQL.
    "q119_delete_where" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [orders_ttl]
          |pypes:
          |  orders_ttl:
          |    extract_query: "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 0"
          |    target_table: q119_orders
          |    type: upsert
          |    key: [o_orderkey]
          |    buckets: 8
          |    delete_where: "o_totalprice > {cap}"
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-rundw", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      new Runner(s, PipelineSpec.fromYaml(yaml), Map("cap" -> "200000"), tmp)
        .run("demo")
      graft.sink.BucketedMergeSink.read(s, s"$tmp/q119_orders")
        .orderBy("o_orderkey")
    }),

    // -- q116's embedding twin: the lsh_index stage key end-to-end. Two
    //    pipeline runs load growing embedding slices while the config
    //    keeps the cosine-LSH bucket postings in lockstep (syncLshIndex
    //    replays each load's snapshot diff, signing only changed
    //    vectors). Emitted rows are VIOLATIONS — postings in the synced
    //    index xor a fresh signing of the target's current state — so
    //    the oracle is the empty relation and any drift hash-fails.
    "q120_pipeline_lsh_index" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [vecs_indexed]
          |pypes:
          |  vecs_indexed:
          |    extract_query: "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 < {slice}"
          |    target_table: q120_vecs
          |    type: upsert
          |    key: [vec_id]
          |    buckets: 4
          |    retain_versions: 2
          |    lsh_index: q120_lsh
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runli", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("demo")
      runner.run("demo", Map("slice" -> "2")) // second load grows the slice
      val stored = graft.sink.BucketedMergeSink.readPostings(s, s"$tmp/q120_lsh")
        .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
        .withColumn("src", lit("index"))
      val freshly = graft.ops.Similarity.lshBucketIndex(
        graft.sink.BucketedMergeSink.read(s, s"$tmp/q120_vecs"), idCol = "vec_id")
        .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
        .withColumn("src", lit("fresh"))
      stored.unionByName(freshly)
        .groupBy("id", "band", "bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2) // present on exactly one side = drift
        .select(col("id"), col("band"),
          lit("index_drift").as("violation"))
        .orderBy("id", "band")
    }),

    // -- q116's SemDeDup twin: the semantic_index stage key end-to-end.
    //    Two pipeline runs; centroids train at the FIRST run's bootstrap
    //    and freeze (persisted at <index>.centroids); each later load's
    //    delta is assigned under that frozen model. Violations = synced
    //    postings xor the frozen-model assignment of the target's
    //    current state (the incremental path's whole promise: never a
    //    retrain, never a stale or missing posting).
    "q121_pipeline_semantic_index" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [vecs_cells]
          |pypes:
          |  vecs_cells:
          |    extract_query: "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 < {slice}"
          |    target_table: q121_vecs
          |    type: upsert
          |    key: [vec_id]
          |    buckets: 4
          |    retain_versions: 2
          |    semantic_index: q121_cells
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runsi", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("demo")
      runner.run("demo", Map("slice" -> "2")) // second load grows the slice
      val stored = graft.sink.BucketedMergeSink.readPostings(s, s"$tmp/q121_cells")
        .select(col("id"), col("pcell").cast("long").as("pcell"))
        .withColumn("src", lit("index"))
      val freshly = graft.ops.Similarity.assignBatchCells(
          graft.sink.BucketedMergeSink.read(s, s"$tmp/q121_vecs"),
          s.read.parquet(s"$tmp/q121_cells.centroids"))
        .select(col("id"), col("pcell").cast("long").as("pcell"))
        .withColumn("src", lit("fresh"))
      stored.unionByName(freshly)
        .groupBy("id", "pcell").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2) // present on exactly one side = drift
        .select(col("id"), col("pcell"),
          lit("index_drift").as("violation"))
        .orderBy("id", "pcell")
    }),

    // -- CDC replication end-to-end from config: a PRODUCER stage loads
    //    a growing orders slice, purges high-price rows (delete_where,
    //    in the load's one commit) and publishes every version to its
    //    outbox (change_feed) which outbox_keep log-compacts down to the
    //    newest batch (the second run rebases history into a marked base
    //    the consumer, one batch behind, applies as a full
    //    replacement); a CONSUMER stage (subscribe_feed) replays
    //    the outbox into a replica it never reads the producer target
    //    for. Two pipeline runs; the emitted rows are the REPLICA's
    //    final state, so the DuckDB oracle re-derives it from the
    //    source relation alone — inserts, updates, feed-carried
    //    deletes, and the rebase all have to survive the outbox
    //    round-trip for the hash to match.
    "q122_pipeline_subscribe_feed" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  demo: [producer, consumer]
          |pypes:
          |  producer:
          |    extract_query: "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 20 < {slice}"
          |    target_table: q122_orders
          |    type: upsert
          |    key: [o_orderkey]
          |    buckets: 4
          |    retain_versions: 3
          |    change_feed: q122_outbox
          |    outbox_keep: 1
          |    delete_where: "o_totalprice > 200000"
          |  consumer:
          |    subscribe_feed: q122_outbox
          |    target_table: q122_replica
          |    key: [o_orderkey]
          |    buckets: 4
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runsf", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("demo")
      runner.run("demo", Map("slice" -> "2")) // second load grows the slice
      graft.sink.BucketedMergeSink.read(s, s"$tmp/q122_replica")
        .orderBy("o_orderkey")
    }),

    // -- the engine's two CDC layouts CHAINED, with real micro-batches:
    //    a STREAMING producer (streamingMergeWithFeed — bases the feed
    //    on the pre-attach target at batch_id=1, epoch deltas at
    //    batch_id=epoch+2) feeds the TABLE-level replication daemon
    //    (subscribeFeedStream). Two source files under
    //    maxFilesPerTrigger=1 make two genuine micro-batches; every key
    //    appears exactly once so the final state is independent of the
    //    batch split and the DuckDB oracle re-derives it from the source
    //    relation alone. The pre-attach rows reach the replica ONLY via
    //    the marked base partition — losing it drops a third of the
    //    rows and the hash goes red. 4 buckets (not the battery's usual
    //    8): the chain replays ~3% slices whose cost is pure task
    //    overhead × bucket count — the clamp/replay semantics are
    //    bucket-count-independent, so the harness runs at the smaller
    //    width (same for the other tiny-slice Runner chains: q116,
    //    q120, q121, q122, q126; realistic widths stay pinned by q33
    //    at 16, q83/q86/q89/q112/q119 at 8, q99 at 16).
    "q125_stream_cdc_chain" -> ((s, dir) => {
      val tmp = Tables.scratchPath("graft-streamcdc", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // pre-attach target: the %20==2 slice from a BATCH load — the
      // stream's first act must snapshot this as the feed's base
      graft.sink.BucketedMergeSink.merge(s,
        orders.filter(col("o_orderkey") % 100 === 2),
        s"$tmp/target", "upsert", Seq("o_orderkey"),
        identifier = "o_orderkey", numBuckets = 4)
      // two single-file "arrivals" → two micro-batches
      def arrive(slice: Int, i: Int): Unit = {
        val stage = s"$tmp/stage$i"
        orders.filter(col("o_orderkey") % 100 === slice)
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dstDir = new java.io.File(s"$tmp/src"); dstDir.mkdirs()
        val dst = new java.io.File(dstDir, f"b$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L): Unit
      }
      arrive(0, 0); arrive(1, 1)
      val stream = s.readStream
        .schema(s.read.parquet(s"$tmp/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
      val prod = graft.streaming.Streams.streamingMergeWithFeed(
        stream, s"$tmp/target", s"$tmp/feed", Seq("o_orderkey"),
        numBuckets = 4)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try prod.processAllAvailable() finally prod.stop()
      val cons = graft.streaming.Streams.subscribeFeedStream(
        s, s"$tmp/feed", s"$tmp/replica", Seq("o_orderkey"), numBuckets = 4)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/cck")
        .start()
      cons.awaitTermination()
      graft.sink.BucketedMergeSink.read(s, s"$tmp/replica")
        .orderBy("o_orderkey")
    }),

    // -- outbox log-compaction vs a LAGGING registered consumer: the
    //    producer keeps loading while the registered replica stops after
    //    the first run, so `outbox_keep: 1` drives BOTH clamp regimes —
    //    run 2's rebase lands exactly AT cursor+1 (allowed: the lagging
    //    consumer can still apply the rebased base), run 3's WANTS to go
    //    past it and must be HELD (the outbox temporarily holds more
    //    than `keep`). A regressed clamp rebases past the cursor and the
    //    final catch-up REFUSES loudly (battery goes red on the thrown
    //    run, not a silent wrong hash); the hash itself pins that the
    //    held-back base + delta — including the base applied as a FULL
    //    REPLACEMENT over the stale replica — replay to exactly the
    //    producer's final state.
    "q126_outbox_consumer_clamp" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val yaml =
        """pypelines:
          |  boot: [producer, consumer]
          |  grow: [producer]
          |  sync: [consumer]
          |pypes:
          |  producer:
          |    extract_query: "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 100 < {slice}"
          |    target_table: q126_orders
          |    type: upsert
          |    key: [o_orderkey]
          |    buckets: 4
          |    retain_versions: 2
          |    change_feed: q126_outbox
          |    outbox_keep: 1
          |  consumer:
          |    subscribe_feed: q126_outbox
          |    consumer_name: replica1
          |    target_table: q126_replica
          |    key: [o_orderkey]
          |    buckets: 4
          |""".stripMargin
      val tmp = Tables.scratchPath("graft-runclamp", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val runner = new Runner(s, PipelineSpec.fromYaml(yaml),
        Map("slice" -> "1"), tmp)
      runner.run("boot") // replica1 registers at cursor=1
      runner.run("grow", Map("slice" -> "2")) // rebase@2 = cursor+1: allowed
      runner.run("grow", Map("slice" -> "3")) // wants rebase@3 > cursor+1: HELD
      runner.run("sync", Map("slice" -> "3")) // catch-up: base@2 + delta 3
      graft.sink.BucketedMergeSink.read(s, s"$tmp/q126_replica")
        .orderBy("o_orderkey")
    }),

    // -- LIVE jdbc round-trip (A2 + Layer B jdbc scan/sink): parquet →
    //    Derby (embedded, in-process — the only live DB this container
    //    has; same Spark jdbc codepath as MySQL/Postgres) via writeJdbc,
    //    read back through the jdbc SourceSpec with the parallel-read
    //    quartet (partitionColumn splits the read across 4 tasks — the
    //    shape that matters at scale; without it a JDBC read is one
    //    executor on one socket). Oracle = the original parquet table.
    "q35_jdbc_roundtrip" -> ((s, dir) => {
      val url = s"jdbc:derby:memory:graft${math.abs(dir.hashCode)};create=true"
      val drv = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      graft.sources.Sources.writeJdbc(
        Tables.load(s, dir, "nation"), url, "nation_rt",
        org.apache.spark.sql.SaveMode.Overwrite, drv)
      val back = graft.sources.Sources.read(s, graft.sources.SourceSpec("jdbc",
        options = drv ++ Map(
          "url" -> url, "dbtable" -> "nation_rt",
          "partitionColumn" -> "n_nationkey",
          "lowerBound" -> "0", "upperBound" -> "25",
          "numPartitions" -> "4")))
      // Derby (like Oracle/DB2) uppercases unquoted identifiers, and
      // Spark takes jdbc column names from ResultSet metadata — fold
      // them back so the oracle compare sees the parquet names
      back.toDF(back.columns.map(_.toLowerCase): _*)
        .orderBy("n_nationkey")
    }),

    // -- non-parquet sources: stage-declared csv + json + orc inputs
    //    registered as views for the extract query (Layer B "Scans"; the
    //    reference reads MySQL at Pype.py:33-36 — jdbc uses the identical
    //    SourceSpec path, exercised LIVE by q35 against embedded Derby)
    "q34_source_csv_json" -> ((s, dir) => {
      // fixtures: csv/json/orc copies of dim tables, derived from the
      // parquet testdata once per sf dir (deterministic content);
      // path keyed on the source parquet's file listing + pid — see
      // Tables.fixturePath for the staleness/race rationale
      val fix = Tables.fixturePath("graft-fix", s"$dir/nation.parquet")
      // existence-guarded so the fixtures really are written once per sf
      // dir (deterministic content; bench invokes every query twice).
      // The guard keys on the LAST artifact written: guarding on an
      // earlier one would make a crash between writes persistent — the
      // half-built dir's key never changes, so every later run would
      // skip regeneration and fail on the missing pieces
      if (!new java.io.File(s"$fix/supplier_orc/_SUCCESS").exists()) {
        Tables.load(s, dir, "nation").coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(s"$fix/nation_csv")
        Tables.load(s, dir, "region").coalesce(1)
          .write.mode("overwrite").json(s"$fix/region_json")
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
          .coalesce(1).write.mode("overwrite").orc(s"$fix/supplier_orc")
      }
      val yaml =
        s"""pypes:
           |  src_stage:
           |    extract_query: "SELECT n.n_nationkey, n.n_name, r.r_name AS region_name, CAST(coalesce(sp.n_supp, 0) AS BIGINT) AS n_supp FROM nation_src n JOIN region_src r ON n.n_regionkey = r.r_regionkey LEFT JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier_src GROUP BY s_nationkey) sp ON sp.s_nationkey = n.n_nationkey"
           |    sources:
           |      nation_src:
           |        format: csv
           |        path: $fix/nation_csv
           |        schema: "n_nationkey INT, n_name STRING, n_regionkey INT"
           |        options: {header: "true"}
           |      region_src:
           |        format: json
           |        path: $fix/region_json
           |        schema: "r_regionkey INT, r_name STRING"
           |      supplier_src:
           |        format: orc
           |        path: $fix/supplier_orc
           |        schema: "s_suppkey INT, s_nationkey INT"
           |""".stripMargin
      val spec = PipelineSpec.fromYaml(yaml)
      val out = new Runner(s, spec).extract(spec.stages("src_stage"), Map.empty)
        .orderBy("n_nationkey")
      // extract() is called directly (no runStage lifecycle), so drop the
      // source views here — the DataFrame is already analyzed, and leaked
      // views would trip runStage's collision guard for later stages
      spec.stages("src_stage").sources.keys.foreach(s.catalog.dropTempView)
      out
    }),

    // -- bucketed-target maintenance: three upsert batches fragment the
    //    bucket dirs (each rewrite leaves one file per writing task),
    //    compact() collapses them to one file per bucket; the relation is
    //    unchanged — the oracle checks content, BucketedMergeSinkSpec
    //    pins the physical effect (file counts, untouched-bucket mtimes)
    "q89_bucket_compaction" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val tmp = Tables.scratchPath("graft-bc", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val b1 = c.filter(col("c_custkey") <= 400)
      val b2 = c.filter(col("c_custkey").between(200, 600))
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
      val b3 = c.filter(col("c_custkey").between(500, 800))
        .withColumn("c_mktsegment", lit("COMPACTED"))
      graft.sink.BucketedMergeSink.merge(s, b1, tmp, "upsert",
        Seq("c_custkey"), numBuckets = 8)
      graft.sink.BucketedMergeSink.merge(s, b2, tmp, "upsert", Seq("c_custkey"))
      graft.sink.BucketedMergeSink.merge(s, b3, tmp, "upsert", Seq("c_custkey"))
      graft.sink.BucketedMergeSink.compact(s, tmp)
      graft.sink.BucketedMergeSink.read(s, tmp).orderBy("c_custkey")
    }),

    // -- q99: keyed POINT-LOOKUP over a bucketed layout (readForKeys):
    //    the serving-side read shape — resolve the manifest, hash the
    //    requested keys, and list/scan ONLY their buckets' dirs (path
    //    pruning; untouched buckets are never listed — pinned in
    //    PlanSpec). readForKeys returns the touched-bucket slice
    //    (superset); the point filter on top yields the exact rows, with
    //    scan cost O(touched buckets), not O(target).
    "q99_keyed_lookup" -> ((s, dir) => {
      import s.implicits._
      val c = Tables.load(s, dir, "customer")
      val tmp = Tables.scratchPath("graft-kl", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      graft.sink.BucketedMergeSink.merge(s, c, tmp, "upsert",
        Seq("c_custkey"), numBuckets = 16)
      val keyVals = Seq(7L, 42L, 101L, 555L, 998L)
      val keys = keyVals.toDF("c_custkey")
      graft.sink.BucketedMergeSink.readForKeys(s, tmp, keys)
        .filter(col("c_custkey").isin(keyVals: _*))
        .orderBy("c_custkey")
    }))

  val oracles: Map[String, String] = Map(
    "q35_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // SCD2 oracle: the same four row populations (closed / reopened /
    // unchanged-or-unmatched / brand-new-key inserts) derived with plain
    // SQL; IS DISTINCT FROM mirrors the sink's null-safe change
    // detection, the reopened branch carries o_orderpriority forward
    // from the closed version, the insert branch loads it NULL
    "q105_scd2_merge" ->
      """WITH t0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey <= 1000),
        |b AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'Z'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey BETWEEN 500 AND 1500),
        |j AS (
        |  SELECT t.*, b.o_orderkey IS NOT NULL AS matched,
        |    b.o_custkey AS b_custkey, b.o_orderstatus AS b_status,
        |    b.o_totalprice AS b_price, b.o_orderdate AS b_date,
        |    (t.o_custkey IS DISTINCT FROM b.o_custkey
        |     OR t.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |     OR t.o_totalprice IS DISTINCT FROM b.o_totalprice
        |     OR t.o_orderdate IS DISTINCT FROM b.o_orderdate) AS changed
        |  FROM t0 t LEFT JOIN b ON t.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority,
        |  '2024-01-01 00:00:00' AS valid_from,
        |  CASE WHEN matched AND changed THEN '2024-02-01 00:00:00'
        |       ELSE CAST(NULL AS VARCHAR) END AS valid_to,
        |  NOT (matched AND changed) AS is_current
        |FROM j
        |UNION ALL
        |SELECT o_orderkey, b_custkey, b_status, b_price, b_date,
        |  o_orderpriority, '2024-02-01 00:00:00', CAST(NULL AS VARCHAR), TRUE
        |FROM j WHERE matched AND changed
        |UNION ALL
        |SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
        |  b.o_orderdate, CAST(NULL AS VARCHAR),
        |  '2024-02-01 00:00:00', CAST(NULL AS VARCHAR), TRUE
        |FROM b ANTI JOIN t0 t ON b.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey, valid_from""".stripMargin,
    // AS-OF oracle: rebuild q105's merged state in SQL, then apply the
    // version-bound filter per probe; the stringified bounds compare
    // chronologically (fixed-width format)
    "q106_scd2_asof" ->
      """WITH t0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey <= 1000),
        |b AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'Z'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey BETWEEN 500 AND 1500),
        |j AS (
        |  SELECT t.*, b.o_orderkey IS NOT NULL AS matched,
        |    b.o_custkey AS b_custkey, b.o_orderstatus AS b_status,
        |    b.o_totalprice AS b_price, b.o_orderdate AS b_date,
        |    (t.o_custkey IS DISTINCT FROM b.o_custkey
        |     OR t.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |     OR t.o_totalprice IS DISTINCT FROM b.o_totalprice
        |     OR t.o_orderdate IS DISTINCT FROM b.o_orderdate) AS changed
        |  FROM t0 t LEFT JOIN b ON t.o_orderkey = b.o_orderkey),
        |m AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    '2024-01-01 00:00:00' AS valid_from,
        |    CASE WHEN matched AND changed THEN '2024-02-01 00:00:00'
        |         ELSE CAST(NULL AS VARCHAR) END AS valid_to,
        |    NOT (matched AND changed) AS is_current
        |  FROM j
        |  UNION ALL
        |  SELECT o_orderkey, b_custkey, b_status, b_price, b_date,
        |    o_orderpriority, '2024-02-01 00:00:00', CAST(NULL AS VARCHAR), TRUE
        |  FROM j WHERE matched AND changed
        |  UNION ALL
        |  SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
        |    b.o_orderdate, CAST(NULL AS VARCHAR),
        |    '2024-02-01 00:00:00', CAST(NULL AS VARCHAR), TRUE
        |  FROM b ANTI JOIN t0 t ON b.o_orderkey = t.o_orderkey)
        |SELECT p.probe_ts, m.*
        |FROM m, (VALUES ('2024-01-15 00:00:00'), ('2024-07-01 00:00:00')) p(probe_ts)
        |WHERE m.valid_from <= p.probe_ts
        |  AND (m.valid_to IS NULL OR m.valid_to > p.probe_ts)
        |ORDER BY probe_ts, o_orderkey, valid_from""".stripMargin,
    // change-feed oracle: inserts = batch anti target; updates = matched
    // rows where a shipped non-key non-EXCLUDED column IS DISTINCT FROM
    // the target's (pre = target row, post = merged row with the excluded
    // o_orderpriority kept from the target); deletes = semi join on the
    // id list. 'F'-status matches are shipped identical → absent.
    "q109_change_feed" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
        |b AS (SELECT o_orderkey, o_custkey,
        |        CASE WHEN o_orderstatus = 'F' THEN o_orderstatus ELSE 'X' END AS o_orderstatus,
        |        CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE o_totalprice * 2 END AS o_totalprice,
        |        o_orderdate, o_orderpriority
        |      FROM orders WHERE o_orderkey BETWEEN 500 AND 1500),
        |ins AS (SELECT 'insert' AS _op, b.* FROM b
        |        WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM t)),
        |upd AS (SELECT t.o_orderkey,
        |          t.o_custkey AS tc, b.o_custkey AS bc,
        |          t.o_orderstatus AS ts, b.o_orderstatus AS bs,
        |          t.o_totalprice AS tp, b.o_totalprice AS bp,
        |          t.o_orderdate AS td, b.o_orderdate AS bd,
        |          t.o_orderpriority AS prio
        |        FROM t JOIN b ON t.o_orderkey = b.o_orderkey
        |        WHERE t.o_custkey IS DISTINCT FROM b.o_custkey
        |           OR t.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |           OR t.o_totalprice IS DISTINCT FROM b.o_totalprice
        |           OR t.o_orderdate IS DISTINCT FROM b.o_orderdate),
        |pre AS (SELECT 'update_pre' AS _op, o_orderkey, tc AS o_custkey,
        |          ts AS o_orderstatus, tp AS o_totalprice, td AS o_orderdate,
        |          prio AS o_orderpriority FROM upd),
        |post AS (SELECT 'update_post' AS _op, o_orderkey, bc AS o_custkey,
        |          bs AS o_orderstatus, bp AS o_totalprice, bd AS o_orderdate,
        |          prio AS o_orderpriority FROM upd),
        |del AS (SELECT 'delete' AS _op, t.* FROM t
        |        WHERE t.o_orderkey IN
        |          (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45))
        |SELECT * FROM ins UNION ALL SELECT * FROM pre
        |UNION ALL SELECT * FROM post UNION ALL SELECT * FROM del
        |ORDER BY o_orderkey, _op""".stripMargin,
    // net snapshot diff v1→v3: v1 = t; v3 = (t upsert b, o_orderpriority
    // excluded) minus keys 100-200. Keys 100-200 delete (v1 rows), batch
    // keys >1000 insert, matched keys 500-1000 all change (status→'X')
    // → pre (v1 row) + post (merged row, priority kept from target)
    "q112_snapshot_diff" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
        |b AS (SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |        o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        |      FROM orders WHERE o_orderkey BETWEEN 500 AND 1500),
        |m AS (
        |  SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_custkey ELSE t.o_custkey END AS o_custkey,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |    CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
        |  FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey),
        |del AS (SELECT 'delete' AS _op, t.* FROM t
        |        WHERE o_orderkey BETWEEN 100 AND 200),
        |ins AS (SELECT 'insert' AS _op, m.* FROM m WHERE o_orderkey > 1000),
        |pre AS (SELECT 'update_pre' AS _op, t.* FROM t
        |        WHERE o_orderkey BETWEEN 500 AND 1000),
        |post AS (SELECT 'update_post' AS _op, m.* FROM m
        |         WHERE o_orderkey BETWEEN 500 AND 1000)
        |SELECT * FROM del UNION ALL SELECT * FROM ins
        |UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post
        |ORDER BY o_orderkey, _op""".stripMargin,
    "q30_merge_upsert" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
        |b AS (SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |        o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        |      FROM orders WHERE o_orderkey BETWEEN 500 AND 1500)
        |SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_custkey ELSE t.o_custkey END AS o_custkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
        |FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q31_merge_update" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
        |b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |      FROM orders WHERE o_orderstatus = 'O')
        |SELECT t.o_orderkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_custkey ELSE t.o_custkey END AS o_custkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |  t.o_orderdate,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM t LEFT JOIN b ON t.o_orderkey = b.o_orderkey
        |ORDER BY t.o_orderkey""".stripMargin,
    "q32_merge_delete" ->
      """SELECT * FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    // q30's upsert oracle followed by the delete leg (keys 100-200 all
    // exist in orders, so NOT BETWEEN re-derives the id-list delete)
    "q83_merge_bucketed" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
        |b AS (SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |        o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        |      FROM orders WHERE o_orderkey BETWEEN 500 AND 1500),
        |m AS (
        |  SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_custkey ELSE t.o_custkey END AS o_custkey,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |    CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |    CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
        |  FROM t FULL OUTER JOIN b ON t.o_orderkey = b.o_orderkey)
        |SELECT * FROM m WHERE o_orderkey NOT BETWEEN 100 AND 200
        |ORDER BY o_orderkey""".stripMargin,
    // last-writer-wins per key across the three upsert batches (pri 3 >
    // 2 > 1); compaction changes only the file layout, so the oracle is
    // the same relation the merges produce
    "q89_bucket_compaction" ->
      """WITH u AS (
        |  SELECT 3 AS pri, c_custkey, c_name, c_nationkey, c_acctbal,
        |    'COMPACTED' AS c_mktsegment
        |  FROM customer WHERE c_custkey BETWEEN 500 AND 800
        |  UNION ALL
        |  SELECT 2, c_custkey, c_name, c_nationkey, c_acctbal + 1000, c_mktsegment
        |  FROM customer WHERE c_custkey BETWEEN 200 AND 600
        |  UNION ALL
        |  SELECT 1, c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey <= 400)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM u
        |QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY pri DESC) = 1
        |ORDER BY c_custkey""".stripMargin,
    // the synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    // keys; the upsert sink resolves them deterministically (smallest
    // full row wins — MergeSink.dedupeBatch), which QUALIFY re-derives
    // q86 = q33's run through a bucketed target: layout changes, the
    // relation does not — the oracle is intentionally identical
    "q119_delete_where" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 10 = 0 AND NOT (o_totalprice > 200000)
        |ORDER BY o_orderkey""".stripMargin,
    "q116_pipeline_minhash_index" ->
      """SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS band,
        |  CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    "q120_pipeline_lsh_index" ->
      """SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS band,
        |  CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    "q121_pipeline_semantic_index" ->
      """SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS pcell,
        |  CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    "q122_pipeline_subscribe_feed" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 20 < 2 AND NOT (o_totalprice > 200000)
        |ORDER BY o_orderkey""".stripMargin,
    "q124_pipeline_parallel" ->
      """SELECT 'lineitem' AS src, l_returnflag AS k, count(*) AS cnt,
        |  count(DISTINCT l_orderkey) AS dk
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'orders' AS src, o_orderstatus AS k, count(*) AS cnt,
        |  count(DISTINCT o_custkey) AS dk
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY src, k""".stripMargin,
    "q125_stream_cdc_chain" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 100 IN (0, 1, 2)
        |ORDER BY o_orderkey""".stripMargin,
    "q126_outbox_consumer_clamp" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 100 < 3
        |ORDER BY o_orderkey""".stripMargin,
    "q134_pipeline_profile" ->
      """SELECT CAST(NULL AS BIGINT) AS version,
        |  CAST(NULL AS VARCHAR) AS violation
        |WHERE false""".stripMargin,
    // the drifted second load must have been refused, so the target is
    // exactly load 1's slice (no poison row)
    "q140_drift_guard_refusal" ->
      """SELECT doc_id, text, n_chars FROM documents
        |WHERE doc_id % 20 < 1 ORDER BY doc_id""".stripMargin,
    // loads 1+2 landed (same distribution), the shifted third was
    // refused — the target is the slice<2 rows, no poison rows
    "q147_kll_guard_refusal" ->
      """SELECT doc_id, text, n_chars FROM documents
        |WHERE doc_id % 20 < 2 ORDER BY doc_id""".stripMargin,
    // DuckDB replays the STORED exemplar rows: version v's snapshot is
    // the deterministic slice doc_id % 3 <= v-1, its sample the 15
    // smallest md5 hexes, its n the slice's exact count
    "q151_exemplar_profile" ->
      """WITH v1 AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS h
        |            FROM documents WHERE doc_id % 3 <= 0),
        |     v2 AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS h
        |            FROM documents WHERE doc_id % 3 <= 1)
        |SELECT * FROM (
        |  SELECT 1 AS version, h, (SELECT count(*) FROM v1) AS n
        |  FROM v1 ORDER BY h LIMIT 15)
        |UNION ALL
        |SELECT * FROM (
        |  SELECT 2 AS version, h, (SELECT count(*) FROM v2) AS n
        |  FROM v2 ORDER BY h LIMIT 15)
        |ORDER BY version, h""".stripMargin,
    "q86_pipeline_bucketed" ->
      """WITH x AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag,
        |    l_extendedprice * (1.0 - l_discount) AS revenue
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01')
        |SELECT * FROM x
        |QUALIFY row_number() OVER (
        |  PARTITION BY l_orderkey, l_linenumber
        |  ORDER BY l_quantity, l_extendedprice, l_discount, l_returnflag, revenue) = 1
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q33_pipeline_e2e" ->
      """WITH x AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag,
        |    l_extendedprice * (1.0 - l_discount) AS revenue
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01')
        |SELECT * FROM x
        |QUALIFY row_number() OVER (
        |  PARTITION BY l_orderkey, l_linenumber
        |  ORDER BY l_quantity, l_extendedprice, l_discount, l_returnflag, revenue) = 1
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the looked-up rows are exactly the key list's rows of the source
    // table (the bucketed layout holds customer verbatim)
    "q99_keyed_lookup" ->
      """SELECT * FROM customer
        |WHERE c_custkey IN (7, 42, 101, 555, 998)
        |ORDER BY c_custkey""".stripMargin,
    "q34_source_csv_json" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name AS region_name,
        |  CAST(coalesce(sp.n_supp, 0) AS BIGINT) AS n_supp
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |LEFT JOIN (SELECT s_nationkey, count(*) AS n_supp
        |           FROM supplier GROUP BY s_nationkey) sp
        |  ON sp.s_nationkey = n.n_nationkey
        |ORDER BY n_nationkey""".stripMargin)
}
