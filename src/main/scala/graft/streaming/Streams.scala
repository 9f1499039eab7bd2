package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.core.Derived
import graft.sink.{BucketedMergeSink, MergeSink}

/** Structured Streaming surface (SURVEY §2 Layer B "Streaming").
  *
  * The reference's only incremental behaviour is its batch loop
  * (Pype.py:38-78); these are the Spark-native streaming equivalents a
  * user of the engine gets on top: watermarked windowed aggregation,
  * file-source ingestion, and custom session state via
  * flatMapGroupsWithState. All transforms are identical for batch and
  * streaming DataFrames — the same `DataFrame => DataFrame` transformer
  * contract the engine uses everywhere (readStream swaps in for read).
  */
object Streams {

  /** Tumbling-window per-type counts with a watermark: the canonical
    * streaming aggregation. Works on a batch frame too (window() is the
    * same expression either way). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Tumbling-window heavy hitters over any string-able column — the
    * streaming twin of [[graft.ops.TextAnalysis.heavyHitters]]: one
    * bounded Misra–Gries summary (`map<string,bigint>`,
    * [[graft.functions.FrequentItemsAggregator]]) per window, so the
    * aggregation STATE is capacity-bounded per window regardless of
    * stream rate — profiling "most frequent tokens/domains this hour"
    * over an unbounded stream with constant memory, where an exact
    * per-item count would grow state with distinct items. The same
    * expression runs on a batch frame (window() is an ordinary
    * expression; the watermark is a no-op); on a stream the watermark
    * closes windows. Downstream consumes the audited MG contract only
    * (presence of guaranteed-heavy items + the two-sided band — see the
    * aggregator scaladoc; q128/q131/q132 replay it in the battery). */
  def windowedHeavyHitters(
      events: DataFrame,
      itemCol: String,
      capacity: Int,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(graft.functions.FrequentItems
        .freqItems(col(itemCol).cast("string"), capacity).as("sk"))
      .select(col("window.start").as("window_start"), col("sk"))

  /** Tumbling-window distribution profile — the streaming twin of
    * [[graft.ops.Profiling.histSketch]], emitting (window_start, bin,
    * cnt) ROWS rather than an assembled map: streaming allows ONE
    * aggregation per query, so the map_from_entries second stage is
    * left to the (batch) consumer — `Profiling.histMerge` accepts the
    * re-assembled rows, and per-window state is ≤ nbins+2 counters
    * either way. Same fixed-edge bin contract as Profiling.binOf
    * (underflow -1, overflow nbins, NULLs uncounted), so stored stream
    * profiles roll up exactly against batch-built ones. */
  def windowedHistogram(
      events: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nbins: Int,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .filter(col(valueCol).isNotNull)
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen),
        graft.ops.Profiling.binOf(col(valueCol), lo, hi, nbins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("bin"), col("cnt"))

  /** Streaming DRIFT ALERT — the monitoring family's closing piece:
    * each event-time window's value distribution is profiled against a
    * STORED reference histogram (a row of the `profile:` table, or any
    * [[graft.ops.Profiling.histSketch]] map) and only windows whose PSI
    * exceeds `threshold` emit. Streaming allows one aggregation per
    * query, so the whole window profile + PSI lives in ONE custom
    * Aggregator whose buffer is the (nbins+2) counter array — state
    * stays constant per open window regardless of stream rate — and
    * whose finish replays [[graft.ops.Profiling.histPsi]]'s exact
    * fold (same bin order, same ε floor, same operation order), so the
    * emitted psi is BITWISE the batch kernel's (StreamsSpec pins the
    * parity). Emits (window_start, n, hist, psi); batch frames work
    * identically (the watermark is a no-op). */
  def windowedDriftAlert(
      events: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nbins: Int,
      reference: Map[Int, Long],
      threshold: Double,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(reference.nonEmpty,
      "drift needs a non-empty reference profile (an empty side has no " +
        "distribution to drift from — histPsi would be null on every window)")
    val agg = udaf(
      new WindowDriftAggregator(lo, hi, nbins, reference),
      org.apache.spark.sql.Encoders.scalaDouble)
    events
      .filter(col(valueCol).isNotNull)
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(agg(col(valueCol).cast("double")).as("p"))
      .select(col("window.start").as("window_start"),
        col("p.n"), col("p.hist"), col("p.psi"))
      .filter(col("psi") > lit(threshold))
  }

  /** Tumbling-window QUANTILE profile — the streaming twin of the KLL
    * family ([[graft.functions.KllSketch]], q144), completing the
    * per-family streaming symmetry (MG → [[windowedHeavyHitters]],
    * fixed-bin → [[windowedHistogram]]/[[windowedDriftAlert]], KLL →
    * here): one mergeable KLL sketch per event-time window, so the
    * aggregation STATE is ~3k-item-bounded per open window regardless
    * of stream rate and NO value range needs declaring up front — the
    * fixed-bin twin profiles only inside its configured [lo, hi).
    * Emits per closed window: `n` (EXACT count — KLL counts updates
    * precisely), the sketch BYTES (stored stream profiles roll up
    * losslessly against batch-built ones via `kll_merge_agg`, the
    * mergeable-summaries contract), and a probe→value `quantiles` map.
    * The error contract is the family's: rank-space only (≈1.65% at
    * k=200, preserved under merge), value-space unbounded — consumers
    * audit ranks, never values (the q144/q145 pattern). Batch frames
    * run the identical expression (the watermark is a no-op). */
  def windowedQuantiles(
      events: DataFrame,
      valueCol: String,
      probes: Seq[Double],
      k: Int = graft.functions.KllSketch.DefaultK,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(probes.nonEmpty, "windowedQuantiles needs at least one probe rank")
    probes.foreach(q => require(q >= 0.0 && q <= 1.0,
      s"probe ranks must be in [0, 1], got $q"))
    import graft.functions.KllSketch
    events
      .filter(col(valueCol).isNotNull)
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(KllSketch.kllSketch(col(valueCol).cast("double"), k).as("sk"))
      .select(
        col("window.start").as("window_start"),
        KllSketch.kllN(col("sk")).as("n"),
        col("sk"),
        map_from_arrays(
          array(probes.map(lit): _*),
          array(probes.map(q =>
            KllSketch.kllQuantile(col("sk"), lit(q))): _*)).as("quantiles"))
  }

  /** Streaming KS DRIFT ALERT — [[windowedDriftAlert]]'s twin for
    * metrics with NO declared value range: each event-time window's
    * value distribution is sketched (KLL, [[windowedQuantiles]]'s
    * state shape) and compared against a STORED reference sketch (a
    * `kll_profile:` table row, or any `kll_sketch_agg` bytes) by
    * Kolmogorov–Smirnov distance; only windows past the gate emit.
    * The gate is `threshold` as a direct KS bound when > 0 (the
    * `kll_profile_max_ks:` convention), or — when `threshold` is 0 —
    * the per-window significance test `kll_ks_threshold(sig)`, which
    * adapts to each window's n (small windows need more evidence;
    * the PSI twin has no such option because PSI has no sampling
    * theory attached). Emits (window_start, n, sk, ks); the sketch
    * bytes ride along so alerts can be drilled into (quantile reads)
    * and rolled up without re-scanning. Batch frames run identically
    * (the watermark is a no-op). */
  def windowedKsAlert(
      events: DataFrame,
      valueCol: String,
      reference: Array[Byte],
      threshold: Double,
      sig: Double = 0.01,
      k: Int = graft.functions.KllSketch.DefaultK,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(reference != null && reference.nonEmpty,
      "KS drift needs a non-empty reference sketch (an empty side has " +
        "no CDF to drift from — kll_ks would be null on every window)")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be a KS distance in [0, 1] (0 = use the " +
        s"significance test at sig), got $threshold")
    import graft.functions.KllSketch
    val windowed = events
      .filter(col(valueCol).isNotNull)
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(KllSketch.kllSketch(col(valueCol).cast("double"), k).as("sk"))
      .select(
        col("window.start").as("window_start"),
        KllSketch.kllN(col("sk")).as("n"),
        col("sk"),
        KllSketch.kllKs(col("sk"), lit(reference)).as("ks"))
    val gate =
      if (threshold > 0.0) col("ks") > lit(threshold)
      else col("ks") >
        KllSketch.kllKsThreshold(col("sk"), lit(reference), lit(sig))
    windowed.filter(gate)
  }

  /** Streaming EXEMPLAR samples — the drill-down twin of
    * [[windowedQuantiles]]/[[windowedKsAlert]] (family #6,
    * [[graft.functions.Exemplar]]): per event-time window, the k rows
    * whose `md5(cast(keyCol as string))` sorts smallest, as
    * `(window_start, n, exemplars)` with `exemplars` an ascending
    * `array<struct<h, payload>>` (payload = the row as JSON over
    * `payloadCols`, or all columns) and `n` the window's exact row
    * count — ALL rows, including null-key ones (which the sample
    * itself skips), so an all-null-key window emits (n, empty sample)
    * rather than disappearing from monitoring.
    * State is BOUNDED at ≤ k (hash, payload) pairs per open window
    * regardless of stream rate, and the sample is a pure function of
    * each window's key set — deterministic across retries, replays,
    * and batch/stream execution (batch frames run the identical
    * expression; the watermark is a no-op). Stored window samples
    * merge exactly: re-cutting the k smallest across stored windows
    * IS the corpus sample of those windows (q150's identity), so an
    * alerting window's rows can be eyeballed and corpus-level
    * examples assembled without touching the raw stream again. */
  def windowedExemplars(
      events: DataFrame,
      keyCol: String,
      k: Int,
      payloadCols: Seq[String] = Nil,
      windowLen: String = "1 hour",
      timeCol: String = "ts",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(k >= 1, s"windowedExemplars k must be >= 1, got $k")
    import graft.functions.Exemplar
    val cols =
      if (payloadCols.nonEmpty) payloadCols else events.columns.toSeq
    // no null-key pre-filter: the aggregate skips null hashes itself,
    // and `n` must count EVERY row in the window (a null-key pre-filter
    // would undercount, and a window whose keys are ALL null would
    // vanish from monitoring instead of emitting (n, empty sample) —
    // the corrupted-key signature worth seeing)
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(
        Exemplar.exemplarAgg(
          md5(col(keyCol).cast("string")),
          to_json(struct(cols.map(col): _*)), k).as("exemplars"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("n"), col("exemplars"))
  }

  /** File-stream reader over a directory of event parquet (schema fixed
    * up front — streaming sources can't infer). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)
  final case class SessionAgg(user_id: Long, n_events: Long, start: Timestamp, end: Timestamp)
  // public: the streaming state-store encoder constructs this from
  // GENERATED code (batch mode never serializes state, so a private
  // constructor only breaks the streaming path)
  final case class SessionState(n: Long, start: Long, last: Long)
  /** [[windowedDriftAlert]]'s per-window emission. */
  final case class DriftProfile(n: Long, hist: Map[Int, Long], psi: Option[Double])

  // state timestamps are kept in MICROseconds: Timestamp.getTime is
  // millis-precision and would silently truncate the micro component of
  // event times (TimestampType is micros)
  private def toMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos(((us - math.floorDiv(us, 1000000L) * 1000000L) * 1000L).toInt)
    t
  }

  /** Session aggregation with a 30-minute inactivity gap, via
    * flatMapGroupsWithState — the custom-state escape hatch the engine
    * exposes for semantics windowed aggs can't express. Emits one row per
    * closed session; state is per-user and O(1).
    *
    * BATCH contract: each user's complete history arrives in one pass,
    * so the trailing session is closed at the end. Deployed on a stream
    * this would fragment sessions at every micro-batch boundary — use
    * [[sessionizeStreaming]] there, which keeps state across batches and
    * closes sessions by event-time timeout instead. */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // batch-mode contract: all of a user's events arrive sorted here
          val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
          val closed = Seq.newBuilder[SessionAgg]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            if (st == null) st = SessionState(1, t, t)
            else if (t - st.last > gapUs) {
              closed += SessionAgg(user, st.n, fromMicros(st.start), fromMicros(st.last))
              st = SessionState(1, t, t)
            } else st = SessionState(st.n + 1, st.start, t)
          }
          if (st != null) {
            // close the trailing session too (batch semantics; a streaming
            // deployment would keep it open via timeout instead)
            closed += SessionAgg(user, st.n, fromMicros(st.start), fromMicros(st.last))
            state.remove()
          }
          closed.result().iterator
      }
  }

  /** Streaming exact dedup on `keys` with BOUNDED state: per-key dedup
    * state lives only until the event-time watermark passes its arrival
    * window (`dropDuplicatesWithinWatermark`). A plain `dropDuplicates`
    * on an unbounded stream accumulates every key ever seen — at
    * pipeline scale that state grows without limit; the watermark bound
    * is what makes streaming ingest dedup (the streaming twin of
    * [[graft.ops.Dedup.exact]]) deployable. Late duplicates beyond the
    * delay can re-emit — the standard correctness/state tradeoff,
    * tuned via `watermarkDelay`. */
  def dedupStream(
      events: DataFrame,
      keys: Seq[String],
      timeCol: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Built-in session-window aggregation — the declarative sibling of
    * [[sessionize]]: the engine merges dynamic-gap windows itself, the
    * same expression runs on batch and streaming frames, and on a
    * stream the watermark closes windows (no custom state code at all).
    *
    * Boundary contract (pinned by StreamsSpec): touching windows
    * coalesce, so two events EXACTLY `gap` apart DO merge — the same
    * inclusive boundary as [[sessionize]]'s explicit-state form; the
    * battery oracle (q72) splits on strictly-greater gaps to match.
    * Window end = last event + gap. */
  def sessionWindowCounts(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "2 hours") // no-op on a batch frame
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming merge: the reference's batch loop (extract → merge) as
    * a Structured Streaming sink. Every micro-batch is ONE load of the
    * code path a pipeline stage runs ([[graft.core.Derived.Load]]):
    * catch-up, drift guards, merge, catch-up again, `outboxKeep`
    * compaction. A streaming deployment therefore gets the stage's
    * merge semantics (batch dedupe, column exclusions, atomic commit),
    * its refusals and its derived artifacts, and a micro-batch into a
    * bucketed target commits exactly one version. Caller starts the
    * returned writer with its own `checkpointLocation`.
    *
    * Layout: with `numBuckets = 0` and no layout at `path` the target
    * is flat parquet and every batch is a full read-merge-write (fine
    * for modest targets / coarse cadences). `numBuckets > 0`, or an
    * existing bucketed layout, stores it hash-bucketed on the key
    * ([[graft.sink.BucketedMergeSink]]): each micro-batch then reads
    * and rewrites ONLY the buckets it touches — the shape that holds
    * when the target dwarfs the batch. `retainVersions` is persisted
    * into the layout when the first micro-batch creates it (0: the
    * layout's own, 1 at creation).
    *
    * `derived` keeps any combination of derived artifacts — change
    * feed, postings indexes, profiles ([[graft.core.Derived]]) — in
    * lockstep per micro-batch: continuous ingest whose corpus stays
    * incrementally near-dup-queryable, profiled and replicable without
    * ever re-signing or re-scanning it. The feed here is version-keyed
    * (`batch_id=<version>`), unlike [[streamingMergeWithFeed]]'s
    * micro-batch-keyed one; an scd2 stream's feed pairs rows on (key,
    * `valid_from`), as a YAML stage's does.
    *
    * Exactly-once under at-least-once foreachBatch, with no extra
    * machinery: upserting/updating the same batch twice converges to
    * the same target, and every catch-up is keyed on the TARGET's
    * deterministic manifest versions, not on batchId — a replayed
    * micro-batch re-merges idempotently (content-identical new
    * version), its snapshot diff is empty, and versions already
    * applied are marker-skipped. A crash between a trigger's merge and
    * its catch-up self-heals at the next trigger, BEFORE that trigger's
    * merge can slide the retention window past the pending version.
    *
    * Refusals land at construction, far from the first micro-batch:
    * the stream needs a key, a known load type, `scd2TsOf` for scd2 and
    * one key column for deletes; everything else is the YAML stage's
    * rule — artifacts and `compactEvery` need a bucketed target, feeds
    * and indexes `retainVersions >= 2`, indexes a single-column key,
    * indexes and profiles no scd2.
    *
    * Backlog sizing: the first micro-batch after a fresh checkpoint is
    * the WHOLE backlog unless the source is throttled — set
    * `maxFilesPerTrigger` (file sources) or the source's rate limit so
    * batches stay merge-sized. The sink no longer force-broadcasts a
    * batch (it is gated on the size estimate, MergeSink.fitsBroadcast),
    * so an unthrottled backlog degrades to a sort-merge join rather
    * than a driver OOM — but throttling is still what keeps per-batch
    * latency flat. */
  def streamingMerge(
      stream: DataFrame,
      path: String,
      key: Seq[String],
      loadType: String = "upsert",
      excluded: Seq[String] = Nil,
      numBuckets: Int = 0,
      retainVersions: Int = 0,
      derived: Seq[Derived] = Nil,
      // scd2 only: batchId -> the batch's version timestamp (parsed by
      // to_timestamp). MUST be a pure deterministic function so an
      // at-least-once micro-batch replay stamps the SAME version bound
      // it did the first time; with scd2's change detection that makes
      // the replay a no-op. Wall-clock here would fork history on
      // recovery. Typically batchId -> the batch's source watermark or
      // an external batch-metadata timestamp.
      scd2TsOf: Long => String = null,
      // OPT-IN (default off): compactEvery = N makes every Nth
      // micro-batch a `compact: true` load — its one commit writes one
      // file per written dir and folds the fragmented bases, bounding
      // files-per-bucket at the cost of a latency cliff on that one
      // trigger. Keyed on batchId (stable across replays): a replayed
      // compacting batch compacts again, which is idempotent. Needs a
      // bucketed target. Leave 0 and compact out-of-band if the
      // stream's latency SLO can't absorb the periodic spike.
      compactEvery: Int = 0): DataStreamWriter[Row] = {
    val load = streamLoad("streamingMerge", stream, path, key, loadType,
      excluded, numBuckets, retainVersions, derived, scd2TsOf,
      compacts = compactEvery > 0)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      load.copy(scd2Ts = Option(scd2TsOf).fold("")(_(batchId)),
        compactMaxFiles = Option.when(
          compactEvery > 0 && batchId % compactEvery == compactEvery - 1)(1))
        .run(batch.sparkSession, batch): Unit
    }
  }

  /** The one load a streaming merge runs per micro-batch, refused at
    * construction: key, load type, scd2 timestamp and delete key are
    * the stream's own rules (a bad one would otherwise surface as an
    * obscure streaming-query death far from the call site); the rest
    * is [[graft.core.Derived.Load]]'s `validate` against the target as
    * it is now. `compacts` validates `compact: true`'s rule. */
  private def streamLoad(who: String, stream: DataFrame, path: String,
      key: Seq[String], loadType: String, excluded: Seq[String],
      numBuckets: Int, retainVersions: Int, derived: Seq[Derived],
      scd2TsOf: Long => String, compacts: Boolean): Derived.Load = {
    require(key.nonEmpty, s"$who needs at least one key column")
    require(Set("upsert", "update", "delete", "scd2")(loadType),
      s"unknown load type: $loadType (expected upsert/update/delete/scd2)")
    require(loadType != "scd2" || scd2TsOf != null,
      "scd2 streams need scd2TsOf: a deterministic batchId -> version " +
        "timestamp mapping (replay-stable, never wall-clock)")
    require(loadType != "delete" || key.size == 1,
      "delete streams key on exactly ONE identifier column " +
        s"(MergeSink.delete matches a single id), got ${key.mkString(", ")}")
    val load = Derived.Load(who, path, key, identifier = key.head, loadType,
      excluded, numBuckets, retainVersions, derived,
      compactMaxFiles = Option.when(compacts)(1))
    load.validate(stream.sparkSession, stream.columns.toSeq)
    load
  }

  /** [[streamingMerge]] that ALSO materializes each micro-batch's CDC
    * change feed ([[graft.sink.MergeSink.changeFeed]] vocabulary:
    * insert / update_pre / update_post / delete) under
    * `feedPath/batch_id=<id>/` — the continuously-maintained input of
    * an incremental downstream consumer (a replicated table, a running
    * aggregate, an audit trail). The merge itself is the same one load
    * per micro-batch (no derived artifacts, no compaction).
    *
    * Exactly-once feed under at-least-once foreachBatch, with no
    * transaction layer: the feed for a batch id is computed against the
    * PRE-merge target and written BEFORE the merge, and a batch id
    * whose feed partition is already COMMITTED (has `_SUCCESS` — bare
    * dir existence spans the parquet job's whole crash window) skips
    * the write. Crash between feed write and merge → replay skips the
    * (already correct) feed and re-merges; crash mid-feed-write →
    * replay finds no `_SUCCESS` and rewrites (the target is still
    * pre-merge, so the recomputed feed is identical); crash after merge
    * → replay sees the feed present and the merge idempotent. Consumers
    * read `feedPath` as ordinary partitioned parquet (`batch_id` is the
    * partition column).
    *
    * The outbox SHARES [[graft.sink.BucketedMergeSink.publishChangeFeed]]'s
    * layout, so the table-level consumer machinery —
    * [[graft.sink.BucketedMergeSink.subscribeFeed]], the
    * [[subscribeFeedStream]] daemon, `subscribe_feed:` stages,
    * [[graft.sink.BucketedMergeSink.compactOutbox]] — consumes a
    * streaming outbox unchanged: the FIRST micro-batch stages a marked
    * all-inserts base of the pre-attach target at `batch_id=1` (a
    * zero-row base when the stream creates the target — `_SUCCESS` +
    * `_base`, applied as a no-op), and epoch N's delta lands at
    * `batch_id=N+2`. Without the base, a stream attached to an EXISTING
    * target would emit a delta-from-nonempty first partition that a
    * fresh replica could silently mistake for history-from-empty.
    *
    * Scale: against a bucketed target the pre-merge read is
    * [[graft.sink.BucketedMergeSink.readForKeys]] — only the buckets
    * the batch's keys hash to are listed, so the feed costs the same
    * O(touched buckets) as the merge itself (falls back to a full read
    * only when the batch lacks the layout's key columns, e.g. a
    * delete by a non-layout identifier). scd2 streams don't need this
    * operator: the SCD2 target IS its own history. */
  def streamingMergeWithFeed(
      stream: DataFrame,
      path: String,
      feedPath: String,
      key: Seq[String],
      loadType: String = "upsert",
      excluded: Seq[String] = Nil,
      numBuckets: Int = 0): DataStreamWriter[Row] = {
    require(loadType != "scd2", "streamingMergeWithFeed: an scd2 target " +
      "carries its own history — read it with scd2AsOf")
    val load = streamLoad("streamingMergeWithFeed", stream, path, key,
      loadType, excluded, numBuckets, retainVersions = 0, derived = Nil,
      scd2TsOf = null, compacts = false)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // epoch N's delta is batch_id=N+2; batch_id=1 is the bootstrap base
      val dir = new Path(feedPath, s"batch_id=${batchId + 2}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bucketed = BucketedMergeSink.isBucketed(spark, path)
      // the whole pre-merge target, None when the stream creates it
      def whole: Option[DataFrame] =
        if (bucketed) Some(BucketedMergeSink.read(spark, path))
        else Option.when(fs.exists(new Path(path)))(spark.read.parquet(path))
      def inserts(df: DataFrame): DataFrame =
        df.select((lit("insert").as("_op") +: df.columns.toSeq.map(col)): _*)
      // bootstrap: the first micro-batch into an EMPTY outbox bases the
      // feed at batch_id=1 — a marked all-inserts snapshot of the
      // pre-attach target (zero rows when the stream creates it), the
      // same contract publishChangeFeed's bootstrap gives a mid-life
      // feed. Gated on "no batch partitions at all", so a later
      // compactOutbox pruning batch 1 never re-triggers it; atomic via
      // the shared stage-and-rename.
      if (BucketedMergeSink.outboxBatches(fs, feedPath).isEmpty)
        BucketedMergeSink.writeFeedBase(fs, new Path(feedPath, "batch_id=1")) {
          staged => inserts(whole.getOrElse(batch.limit(0)))
            .write.mode("overwrite").parquet(staged)
        }: Unit
      if (!BucketedMergeSink.isPublished(fs, dir)) {
        // the feed diffs against the batch's own buckets when it carries
        // the layout key
        val target =
          if (bucketed && BucketedMergeSink.readMeta(spark, path).key
              .forall(batch.columns.contains))
            Some(BucketedMergeSink.readForKeys(spark, path, batch))
          else whole
        val feed: DataFrame = (target, loadType) match {
          case (None, "upsert") => // bootstrap: the whole batch inserts
            inserts(MergeSink.dedupeBatch(batch, key))
          // update/delete against nothing affect nothing — but the
          // partition must still exist (empty), or the outbox's batch
          // ids would gap and subscribeFeed would refuse the feed
          case (None, _) => inserts(batch.limit(0))
          case (Some(t), "delete") => MergeSink.deleteFeed(t, batch, key.head)
          case (Some(t), lt) =>
            val f = MergeSink.changeFeed(t, batch, key, excluded)
            // update-only never inserts unmatched batch rows
            if (lt == "update") f.filter(col("_op") =!= "insert") else f
        }
        feed.write.mode("overwrite").parquet(dir.toString)
      }
      load.run(spark, batch): Unit
    }
  }

  /** Continuous replica maintenance: the streaming CONSUMER of a
    * [[graft.sink.BucketedMergeSink.publishChangeFeed]] outbox. Each
    * trigger runs one idempotent [[graft.sink.BucketedMergeSink
    * .subscribeFeed]] catch-up — the marker-tracked batch machinery IS
    * the exactly-once state, so this wrapper adds only scheduling:
    * a replayed or overlapping trigger re-lists and finds nothing
    * pending. Pair with `.trigger(ProcessingTime("30 seconds"))` for a
    * replication daemon, or `Trigger.AvailableNow` for a one-shot
    * catch-up that terminates (the spec's shape). The rate source's
    * rows are ignored — it exists to give the scheduler a heartbeat. */
  def subscribeFeedStream(
      spark: SparkSession,
      feedPath: String,
      replicaPath: String,
      key: Seq[String] = Seq("id"),
      numBuckets: Int = 64,
      retainVersions: Int = 0,
      consumerName: String = ""): DataStreamWriter[Row] =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.foreachBatch { (_: DataFrame, _: Long) =>
        BucketedMergeSink.subscribeFeed(
          spark, feedPath, replicaPath, key, numBuckets, retainVersions,
          consumerName = consumerName): Unit
      }

  /** Corpus-backed streaming exact dedup: the complement of
    * [[dedupStream]]. That one bounds state with the watermark and
    * FORGETS old keys (late duplicates re-emit); this one keeps the
    * dedup state in the target table itself — each micro-batch merges
    * on the normalized text with every payload column excluded from
    * update, so the FIRST-seen document per distinct text is preserved
    * forever and later duplicates (any lateness) are no-ops. Within a
    * single micro-batch "first seen" has no arrival order: ties on the
    * same text resolve to the smallest whole row (MergeSink.dedupeBatch,
    * effectively the smallest doc id) — deterministic, and the same
    * smallest-survivor rule [[graft.ops.Dedup.exact]] documents.
    *
    * Cost contract: the default target layout is hash-bucketed on
    * `norm_text` ([[graft.sink.BucketedMergeSink]], `numBuckets`
    * buckets), so a micro-batch reads and rewrites only the buckets its
    * texts hash to — O(touched-buckets), not O(corpus), per batch;
    * untouched bucket directories are never scanned. `numBuckets = 0`
    * falls back to a flat parquet target with a full read-merge-write
    * per batch (the reference's own per-batch merge shape, q30–q33) —
    * acceptable for moderate corpora or coarse cadences. The merge
    * semantics are identical in both layouts
    * (BucketedMergeSinkSpec pins it). Bucketed targets self-compact
    * every 32 micro-batches (passed explicitly to streamingMerge, whose
    * own default leaves compaction opt-in, and only with
    * `numBuckets > 0`: a flat target has nothing to compact, and
    * streamingMerge refuses compactEvery on one), bounding small-file
    * growth for the life of the stream at the cost of a periodic
    * latency spike on the compacting trigger. */
  def dedupCorpusStream(
      stream: DataFrame,
      path: String,
      textCol: String = "text",
      numBuckets: Int = 64): DataStreamWriter[Row] = {
    require(!stream.columns.contains("norm_text"),
      "dedupCorpusStream derives its merge key as a new norm_text column; " +
        "the input stream already has one — rename it (silently replacing " +
        "it would change dedup keys and drop the original values)")
    val withNorm = stream.withColumn("norm_text",
      graft.ops.Dedup.normalize(col(textCol)))
    streamingMerge(withNorm, path, key = Seq("norm_text"),
      loadType = "upsert",
      excluded = withNorm.columns.filterNot(_ == "norm_text").toSeq,
      numBuckets = numBuckets, compactEvery = if (numBuckets > 0) 32 else 0)
  }

  /** Watermarked stream-stream interval join: each left row matches
    * right rows on `leftKey = rightKey` with `rightTime` in
    * `[leftTime - maxLag, leftTime]` (the enrich-events-with-recent-
    * context shape). Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can evict buffered rows once
    * the other side's watermark passes `time + maxLag + delay` — WITHOUT
    * the time bound a stream-stream join buffers both streams forever,
    * which is the difference between deployable and OOM at pipeline
    * scale. Works identically on batch frames (the watermarks become
    * no-ops and it is a plain interval join). */
  def intervalJoinStreams(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      maxLag: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(leftKey != rightKey && leftTime != rightTime,
      "intervalJoinStreams: rename columns so key/time names differ across sides")
    left.withWatermark(leftTime, watermarkDelay)
      .join(right.withWatermark(rightTime, watermarkDelay),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTime >= $leftTime - INTERVAL $maxLag AND $rightTime <= $leftTime"))
  }

  /** TRUE streaming sessionization: per-user state persists across
    * micro-batches, sessions close only when the event-time watermark
    * passes `last event + gap` (GroupStateTimeout.EventTimeTimeout), so
    * a session spanning many micro-batches is emitted exactly once as
    * one row. The open tail is held in state until the watermark proves
    * no more events can join it — the semantics [[sessionize]]'s batch
    * contract cannot provide on a stream. */
  def sessionizeStreaming(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is final now
            val st = state.get
            state.remove()
            Iterator.single(
              SessionAgg(user, st.n, fromMicros(st.start), fromMicros(st.last)))
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            val closed = Seq.newBuilder[SessionAgg]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              if (st == null) st = SessionState(1, t, t)
              else if (t - st.last > gapUs) {
                closed += SessionAgg(user, st.n, fromMicros(st.start), fromMicros(st.last))
                st = SessionState(1, t, t)
              } else st = SessionState(st.n + 1, st.start, t)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.floorDiv(st.last, 1000L) + gapMinutes * 60000L)
            }
            closed.result().iterator
          }
      }
  }
}

/** The one-aggregation window profiler behind
  * [[Streams.windowedDriftAlert]]: buffer = (nbins+2) counters
  * (underflow/overflow carried like [[graft.ops.Profiling.binOf]]),
  * finish = the histogram map plus a PSI replaying
  * [[graft.ops.Profiling.histPsi]]'s exact fold — same sorted-bin
  * order (the window map's keys are ascending by construction; pass a
  * sorted-key reference for bitwise parity), same ε floor, same
  * per-bin operation order, natural log. */
private[graft] class WindowDriftAggregator(
    lo: Double,
    hi: Double,
    nbins: Int,
    reference: Map[Int, Long])
    extends org.apache.spark.sql.expressions
      .Aggregator[Double, Array[Long], Streams.DriftProfile] {
  require(nbins >= 1 && hi > lo, "need nbins >= 1 and hi > lo")
  require(reference.nonEmpty, "reference profile must be non-empty")

  private val width = (hi - lo) / nbins

  override def zero: Array[Long] = new Array[Long](nbins + 2)

  override def reduce(b: Array[Long], v: Double): Array[Long] = {
    // identical arithmetic to Profiling.binOf so stream and batch
    // profiles of the same rows are map-for-map equal
    val bin =
      if (v < lo) -1
      else if (v >= hi) nbins
      else math.floor((v - lo) / width).toInt
    b(bin + 1) += 1L
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Streams.DriftProfile = {
    val hist = scala.collection.immutable.ListMap(
      r.indices.filter(r(_) > 0L).map(i => (i - 1) -> r(i)): _*)
    val n = r.sum
    val psi = {
      val (ta, tb) = (n.toDouble, reference.values.sum.toDouble)
      if (ta == 0.0 || tb == 0.0) None
      else {
        val bins = hist.keys.toSeq ++
          reference.keys.toSeq.sorted.filterNot(hist.contains)
        var acc = 0.0
        bins.foreach { bin =>
          val pa = math.max(hist.getOrElse(bin, 0L).toDouble / ta, 1e-6)
          val pb = math.max(reference.getOrElse(bin, 0L).toDouble / tb, 1e-6)
          // StrictMath, not math.log: Spark's Log expression evaluates
          // via StrictMath, and the JDK intrinsic differs by up to 1
          // ulp — enough to break the bitwise batch-kernel parity
          acc += (pa - pb) * java.lang.StrictMath.log(pa / pb)
        }
        Some(acc)
      }
    }
    Streams.DriftProfile(n, hist, psi)
  }

  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Streams.DriftProfile] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Streams.DriftProfile]()
}
