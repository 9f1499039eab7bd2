package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import graft.config.{PipelineSpec, StageSpec}
import graft.sources.Sources

/** Per-stage metrics, the analogue of the reference's per-batch debug log
  * (rows + wall-times at Pype.py:65-75, process RSS at Pype.py:73).
  * Spark's own UI/listeners add executor-level detail for free; this is
  * the compact driver-side summary.
  *
  * `rows` is the STAGE RESULT row count: the post-merge target for load
  * stages (a parquet-footer count — counting the batch would re-run the
  * whole lazy extract+transform plan a second time), the extracted batch
  * for target-less stages. This intentionally diverges from the
  * reference's per-batch "N items" log, which counts each 2000-row
  * cursor batch — a unit that does not exist in Spark's one-plan-per-
  * stage model.
  *
  * Memory gauges (the RSS-log analogue):
  *   - `peakTaskMemoryBytes`: max single-task peak execution memory
  *     (shuffle/agg/sort buffers) observed during the stage, from
  *     SparkListener task metrics. 0 for stages whose plan never
  *     allocates execution memory (pure scan→write).
  *   - `driverUsedHeapBytes`: driver JVM used heap at stage end — the
  *     closest analogue of the reference's single-process RSS. */
final case class StageMetrics(
    stage: String,
    rows: Long,
    extractSec: Double,
    transformSec: Double,
    loadSec: Double,
    peakTaskMemoryBytes: Long,
    driverUsedHeapBytes: Long)

/** Executes a named pipeline from a PipelineSpec — the analogue of
  * `Pypeline.run` (Pypeline.py:26-35) + the `Pype.run` ETL loop
  * (Pype.py:31-80), collapsed into Spark's lazy model:
  *
  *   extract (spark.sql over registered views, hydrated) →
  *   transformer chain (one logical plan) →
  *   load (MergeSink upsert/update/delete into a parquet target) →
  *   post query (spark.sql on the target side, hydrated).
  *
  * Where the reference makes 2 network hops per 2000-row batch, this
  * builds ONE Catalyst plan per stage and crosses driver→executors once,
  * at the write. Targets are parquet dirs registered as temp views so
  * later stages and post-queries can read them by name.
  */
final class Runner(
    spark: SparkSession,
    spec: PipelineSpec,
    placeholders: Map[String, String] = Map.empty,
    targetRoot: String = "") {

  private val log = LoggerFactory.getLogger(classOf[Runner])

  private def targetPath(table: String): String =
    if (targetRoot.isEmpty) table else s"$targetRoot/$table"

  /** Where a derived or consumed table named in a stage lives: its name
    * hydrates like the extract (`change_feed: "outbox_{run}"`), so the
    * producer and consumer of one outbox resolve the same path. */
  private def tablePath(ph: Map[String, String])(table: String): String =
    targetPath(Hydrate(table, ph))

  /** Run every stage of `pipeline` in order; placeholder overrides follow
    * the reference rule (run-time placeholders replace ctor ones when
    * non-empty, Pypeline.py:27-28). Returns per-stage metrics.
    *
    * `parallel = true` runs the stages as CONCURRENT Spark jobs (SURVEY
    * A12: "independent pypes can run as parallel Spark jobs") — opt-in
    * because it is only sound when no stage reads another stage's target;
    * the reference's strictly sequential semantics (Pypeline.py:32-35)
    * stay the default. Metrics return in declared stage order. */
  def run(
      pipeline: String,
      runPlaceholders: Map[String, String] = Map.empty,
      parallel: Boolean = false): Seq[StageMetrics] = {
    val ph = if (runPlaceholders.nonEmpty) runPlaceholders else placeholders
    val stages = spec.resolve(pipeline)
    if (!parallel || stages.sizeIs <= 1) stages.map(runStage(_, ph))
    else {
      // temp views are session-global: concurrent stages sharing a source
      // view name, a target table, or crossing one's source with
      // another's target would race and read/write each other's data
      val viewNames = stages.flatMap(_.sources.keys)
      require(viewNames.distinct.size == viewNames.size,
        s"parallel pipeline '$pipeline' has stages declaring the same " +
          s"source view name: ${viewNames.diff(viewNames.distinct).distinct.mkString(", ")}")
      val targets = stages.map(_.targetTable).filter(_.nonEmpty)
      require(targets.distinct.size == targets.size,
        s"parallel pipeline '$pipeline' has stages writing the same " +
          s"target table: ${targets.diff(targets.distinct).distinct.mkString(", ")}")
      val cross = viewNames.toSet.intersect(targets.toSet)
      require(cross.isEmpty,
        s"parallel pipeline '$pipeline' uses the same name as a source " +
          s"view and a target table: ${cross.mkString(", ")}")
      // a consumer catching up WHILE its producer publishes races the
      // outbox listing (and the producer's own rebase) — the
      // producer→consumer chain is inherently sequential. Compare
      // HYDRATED values: both stages hydrate the outbox name at use
      // (tablePath), so a placeholder-bearing name must not dodge the guard
      val feedRace = stages.map(s => Hydrate(s.subscribeFeed, ph))
        .filter(_.nonEmpty).toSet
        .intersect(stages.flatMap(_.derived)
          .collect { case f: Derived.ChangeFeed => Hydrate(f.path, ph) }.toSet)
      require(feedRace.isEmpty,
        s"parallel pipeline '$pipeline' runs a subscribe_feed consumer " +
          s"concurrently with the producer publishing that outbox: " +
          s"${feedRace.mkString(", ")} — run them sequentially")
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(stages.size, 4))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(stages.map(s => Future(runStage(s, ph)))), Duration.Inf)
      finally pool.shutdown()
    }
  }

  def runStage(stage: StageSpec, ph: Map[String, String]): StageMetrics = {
    // Stage-scoped memory gauge: a listener tracks the max per-task peak
    // execution memory while this stage's jobs run. The gauge is
    // JVM-global — under `parallel = true` concurrent stages observe each
    // other's tasks, so the value is an upper bound per stage there.
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val gauge = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val v = m.peakExecutionMemory
          peakTaskMem.getAndUpdate(p => math.max(p, v))
        }
      }
    }
    spark.sparkContext.addSparkListener(gauge)
    try runStageInner(stage, ph, peakTaskMem)
    finally {
      spark.sparkContext.removeSparkListener(gauge)
      // sources are STAGE-LOCAL: dropping them here keeps a stage's csv
      // view named like a warehouse table from permanently shadowing that
      // table for every later stage (temp views are session-global).
      // NOTE the load is an action inside this stage, so the views have
      // already served their purpose when we get here.
      stage.sources.keys.foreach(spark.catalog.dropTempView)
    }
  }

  private def runStageInner(
      stage: StageSpec,
      ph: Map[String, String],
      peakTaskMem: java.util.concurrent.atomic.AtomicLong): StageMetrics = {
    val t0 = System.nanoTime()
    val (t1, t2, rows) =
      if (stage.subscribeFeed.nonEmpty) (t0, t0, subscribe(stage, ph))
      else {
        // reject collisions up front: createOrReplaceTempView would
        // overwrite an existing warehouse/target view and the
        // stage-local drop below would then DELETE it (temp views don't
        // layer — a drop can't un-shadow). Also a source view named like
        // this stage's own target would drop the target view registered
        // during load.
        stage.sources.keys.foreach { v =>
          require(v != stage.targetTable,
            s"stage '${stage.name}': source view '$v' collides with its target table")
          require(!spark.catalog.tableExists(v),
            s"stage '${stage.name}': source view '$v' collides with an existing table/view")
        }
        val extracted = extract(stage, ph)
        val t1 = System.nanoTime()
        val transformed = TransformerRegistry.applyChain(
          extracted, TransformerRegistry.loadChain(stage.transformers))
        (t1, System.nanoTime(), load(stage, transformed, ph))
      }
    if (stage.postQuery.nonEmpty)
      // count(), NOT collect(): the reference's post-hook is side-effect
      // SQL (Pype.py:80,164-168) whose result is discarded — a user
      // post_query of `SELECT * FROM big_target` must still execute with
      // CONSTANT driver memory, not materialize the target on the driver
      spark.sql(Hydrate(stage.postQuery, ph)).count()
    val t3 = System.nanoTime()
    // drain the async listener bus so the gauge has seen the final task
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    val rt = Runtime.getRuntime
    val m = StageMetrics(stage.name, rows,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      peakTaskMem.get(), rt.totalMemory() - rt.freeMemory())
    if (stage.debug)
      log.info(s"Pype: ${m.stage}, ${m.rows} items; ETL: " +
        f"${m.extractSec}%.3fs/${m.transformSec}%.3fs/${m.loadSec}%.3fs; " +
        s"peakTaskMem: ${m.peakTaskMemoryBytes}B, driverHeap: ${m.driverUsedHeapBytes}B")
    m
  }

  /** A `subscribe_feed:` CONSUMER stage's load: no extract/transform —
    * the stage's input is a CDC outbox (another stage's `change_feed:`
    * target, or any [[graft.sink.BucketedMergeSink.publishChangeFeed]]
    * layout), and its load applies every not-yet-applied batch to the
    * replica at `target_table`, in order, with marker-tracked progress
    * ([[graft.sink.BucketedMergeSink.subscribeFeed]]). Downstream
    * replication from config: the producer pipeline ships feeds, the
    * consumer pipeline replays them — never snapshots. `compact: true`
    * is honored in the apply's own commit (one file per written dir,
    * fragmented bases folded), exactly like any other incremental load;
    * the extract and every producer-side
    * stage key are refused when the stage is parsed — a replica derives
    * its own feeds/indexes from its OWN pipeline stage if needed,
    * pointed at the replica as a target. Returns the replica's row
    * count. */
  private def subscribe(stage: StageSpec, ph: Map[String, String]): Long = {
    val replica = targetPath(stage.targetTable)
    graft.sink.BucketedMergeSink.subscribeFeed(
      spark, tablePath(ph)(stage.subscribeFeed), replica,
      key = stage.key,
      numBuckets = if (stage.buckets > 0) stage.buckets else 64,
      retainVersions = stage.retainVersions,
      consumerName = stage.consumerName,
      compactMaxFiles = Option.when(stage.compact)(stage.compactMaxFiles)): Unit
    register(stage, bucketed = true)
  }

  /** The extract is declarative SQL over registered views — the engine-side
    * replacement for the reference's pass-through extract_query
    * (Pype.py:34-36), with `{key}` hydration (Pype.py:170-177). Stage-local
    * `sources` (csv/json/orc/parquet/jdbc, SURVEY Layer B "Scans") are
    * registered as temp views first, so a stage can bring its own inputs
    * instead of depending on pre-registered tables. */
  def extract(stage: StageSpec, ph: Map[String, String]): DataFrame = {
    stage.sources.foreach { case (view, src) =>
      Sources.read(spark, src).createOrReplaceTempView(view)
    }
    spark.sql(Hydrate(stage.extractQuery, ph))
  }

  private def load(stage: StageSpec, df: DataFrame, ph: Map[String, String]): Long = {
    if (stage.targetTable.isEmpty) return df.count()
    val path = targetPath(stage.targetTable)
    // `buckets: N` in the stage YAML stores the target hash-bucketed on
    // the merge key (graft.sink.BucketedMergeSink): an incremental load
    // reads and rewrites only the bucket dirs its keys touch instead of
    // the whole target — the config-level switch for the 100 TB load
    // shape. Without it, Derived.Load still takes the bucketed write
    // when the path already holds a bucketed layout, so a stage can't
    // silently flatten a target created with buckets. Every derived
    // artifact, refusal and guard rides that shared load path.
    Derived.Load(s"stage ${stage.name}", path, stage.key,
      stage.identifier, stage.loadType, stage.fieldsExcludedFromUpdate,
      stage.buckets, stage.retainVersions, stage.derived.map(_.at(tablePath(ph))),
      // scd2_ts and delete_where hydrate like the extract: an
      // incremental pipeline passes each run's batch timestamp / TTL
      // cutoff as a placeholder — a hardcoded literal would stamp every
      // run's versions identically
      scd2Ts = Hydrate(stage.scd2Ts, ph),
      deleteWhere = Hydrate(stage.deleteWhere, ph),
      compactMaxFiles = Option.when(stage.compact)(stage.compactMaxFiles))
      .run(spark, df)
      // a delete against an absent target loads nothing and registers
      // no view
      .fold(0L)(register(stage, _))
  }

  /** Register the loaded target as a view named like the table and
    * count it. The metrics row count comes from the WRITTEN parquet (a
    * footer-metadata count) — counting the batch instead would re-run
    * the whole extract+transform plan a second time just for the log
    * line, doubling stage cost. */
  private def register(stage: StageSpec, bucketed: Boolean): Long = {
    val path = targetPath(stage.targetTable)
    val result =
      if (bucketed) graft.sink.BucketedMergeSink.read(spark, path)
      else spark.read.parquet(path)
    result.createOrReplaceTempView(stage.targetTable)
    result.count()
  }
}
