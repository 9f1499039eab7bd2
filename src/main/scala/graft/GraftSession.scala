package graft

import org.apache.spark.sql.SparkSession

/** Pre-configured session builder: the Spark settings this library's
  * scale design assumes, plus the native-kernel SQL functions injected
  * ([[graft.functions.GraftExtensions]]). A host application can start
  * from `GraftSession.builder(...)` / `GraftSession.create(...)` instead
  * of remembering the knobs.
  *
  * Why each knob (see docs/SCALE.md for the operator-level story):
  *   - AQE on: runtime broadcast decisions for candidate rehydration
  *     joins (the candidate-id union is unbounded, so plans place no
  *     broadcast hints) and post-shuffle coalescing where operators
  *     haven't pinned an exchange.
  *   - AQE skew join on: the contamination/TF-IDF/salted-join designs
  *     route hot keys through joins PRECISELY because joins are
  *     skew-splittable (windows are not).
  *   - shuffle partitions: sized to 3× `defaultParallelism` (total
  *     scheduler cores), the 2-3×-cores rule — derived from the LIVE
  *     cluster, not a constant, because a constant is wrong in both
  *     directions (200 starves a 1000-executor cluster and floods a
  *     laptop). At 100 TB, also bound it below by
  *     (shuffled bytes / target partition size ~128-200 MB) so
  *     partitions fit executor memory — that bound needs job knowledge,
  *     so it stays a caller override (`shufflePartitions > 0`).
  *   - UTC session timezone: timestamp determinism across engines —
  *     every oracle comparison in the battery assumes it.
  */
object GraftSession {

  /** True when the host explicitly opted in to RAM-backed Spark scratch
    * dirs (see the builder's tmpfs block). */
  private def tmpfsScratchOptIn: Boolean =
    sys.env.get("SPARK_GRAFT_TMPFS_SCRATCH")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Builder with every static knob set. `shufflePartitions <= 0` (the
    * default) leaves `spark.sql.shuffle.partitions` to be derived from
    * the live cluster — use [[create]], which finishes that step; a
    * positive value pins it here. */
  def builder(shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Bound plan-string generation: Spark stringifies the physical
      // plan for every SQL execution event and AGAIN on every AQE
      // replan; with machine-generated plans that embed large literal
      // trees (LSH hyperplane arrays, minhash permutations, wide CASE
      // chains) the DRIVER otherwise burns seconds-to-minutes per query
      // building multi-MB strings nobody reads (measured: the recall
      // gate at 37 s vs 368 s run-to-run — the variance was exactly
      // this, AQE replan count × plan size). 64 KB keeps explain output
      // humanly complete while capping the cost.
      .config("spark.sql.maxPlanStringLength", (64 * 1024).toString)
      // Whole-stage-codegen class cache (static conf, so it must be set
      // here, pre-session): the default is 100 entries JVM-wide, while
      // one pass over this library's operator battery generates a few
      // THOUSAND distinct codegen units — every repeated execution
      // (bench passes, scheduled pipeline re-runs, any long-lived host
      // application with a working set of queries) recompiled every
      // stage from scratch through Janino. Raising the cache to cover a
      // realistic working set measured 22% off a 30-query battery
      // subset at sf0.1 (plan-heavy entries halved: 5.6→2.7, 3.9→1.8 s)
      // with bounded memory (~50 KB per compiled unit ⇒ ≲200 MB ceiling
      // at 4096, against the multi-GB driver heaps Spark deployments
      // run). Scale-independent: compilation cost is pure driver/JVM
      // fixed overhead, so the right value does not depend on data
      // size.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // ...and keyed on the generated code alone: by default each
      // whole-stage class name carries its stage id, so an identical
      // stage that lands at another position of another plan (the same
      // scan-and-join feeding a different join, or an AQE replan that
      // numbers stages differently) misses the cache and compiles again
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Catalyst constraint propagation OFF (r17 optimization): the
      // documented planning-cost knob ("computationally expensive for
      // plans with a large number of predicates and aliases" — Spark
      // docs). This library's operators place their predicates
      // explicitly and early by design — semi-joins before per-doc
      // derivation, hand-written isnotnull guards, outer generates
      // chosen precisely so no filter gets inferred and pushed into the
      // expensive derivation (see Dedup.jaccardPairs) — so inference
      // adds optimizer time on every plan AND every AQE stage replan
      // without adding pruning the operators haven't already done.
      // Measured −12% on a 30-query battery subset (deep-plan entries
      // −15-30%: incremental/CDC/streaming chains), worst regression
      // +0.3 s. Semantics-neutral (inference only ever ADDS redundant
      // predicates). A host whose own queries lean on cross-join
      // constraint inference for scan pruning can flip it back in its
      // builder overrides.
      .config("spark.sql.constraintPropagation.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
    // Shuffle/spill scratch on tmpfs — OPT-IN via
    // SPARK_GRAFT_TMPFS_SCRATCH=1 (the bench harness sets it): local-fs
    // shuffle churn (write then delete thousands of small files per
    // stage) can serialize in the kernel — on this sandbox's root fs
    // (ext4 mounted with synchronous `discard`, virtio) it measured as
    // minutes-long 99%-sys-time windows that made random bench passes
    // 8-15x slower, with executor threads pinned in ext4
    // block-allocation paths. RAM-backed dirs take the filesystem out
    // of the hot path entirely. NOT the library default: tmpfs is
    // typically capped at half of RAM, so a large job spilling there
    // can ENOSPC mid-shuffle or pressure host memory — a host
    // application opts in only when it knows its spill volume. On a
    // real cluster the manager provisions SPARK_LOCAL_DIRS (env beats
    // this conf in Spark's resolution order) either way.
    if (tmpfsScratchOptIn && !sys.env.contains("SPARK_LOCAL_DIRS") &&
        new java.io.File("/dev/shm").isDirectory)
      b.config("spark.local.dir", "/dev/shm/graft-local")
    if (shufflePartitions > 0)
      b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    else b
  }

  /** Build the session and, unless the caller pinned a value, set
    * shuffle partitions to 3× the cluster's `defaultParallelism` —
    * the runtime-derived form of the 2-3×-cores rule (the conf is
    * runtime-settable, so deriving after `getOrCreate` is safe).
    *
    * Caveats that matter in production:
    *   - `create()` should run BEFORE any other session exists: when
    *     `getOrCreate` returns a pre-existing session, the builder's
    *     extensions and static confs do NOT apply to it, and the
    *     derivation is skipped rather than clobbering a value someone
    *     pinned on that session deliberately.
    *   - Under dynamic allocation, `defaultParallelism` at startup
    *     reflects only the INITIAL executors — on an autoscaling
    *     cluster the derived count can be far too small for the
    *     session's lifetime. Pass an explicit `shufflePartitions`
    *     there (e.g. 2-3× the expected peak core count, or bound it by
    *     shuffled-bytes / ~128-200 MB per partition). */
  def create(
      shufflePartitions: Int = 0,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val preexisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = configure(builder(shufflePartitions)).getOrCreate()
    if (shufflePartitions <= 0 && !preexisting.contains(spark))
      spark.conf.set("spark.sql.shuffle.partitions",
        (3 * spark.sparkContext.defaultParallelism).toString)
    spark
  }
}
