package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Profiling
import graft.sink.{BucketedMergeSink, MergeSink}

/** A table a load keeps in step with its bucketed target: the CDC
  * outbox, a postings index, or a per-version profile. Each case
  * carries exactly the parameters of its idempotent version-marker
  * catch-up; [[Derived.Load]] holds every rule about WHEN those
  * catch-ups run and what a load must satisfy first, once for all
  * seven — `Runner.load` (the stage keys) and
  * `Streams.streamingMerge` (one load per micro-batch) both go
  * through it. `stageKey` names the YAML key that declares the case;
  * `PipelineSpec` parses that key and its tuning keys straight into
  * the case, so each default below is the YAML default too. */
sealed abstract class Derived(val stageKey: String) {
  def path: String

  /** The case with its table name (as written in the stage) resolved
    * to a path. */
  def at(resolve: String => String): Derived = this match {
    case d: Derived.ChangeFeed => d.copy(path = resolve(d.path))
    case d: Derived.MinhashIndex => d.copy(path = resolve(d.path))
    case d: Derived.LshIndex => d.copy(path = resolve(d.path))
    case d: Derived.SemanticIndex => d.copy(path = resolve(d.path))
    case d: Derived.Profile => d.copy(path = resolve(d.path))
    case d: Derived.KllProfile => d.copy(path = resolve(d.path))
    case d: Derived.ExemplarProfile => d.copy(path = resolve(d.path))
  }
}

object Derived {

  /** The postings indexes: they replay per-version snapshot diffs
    * paired on ONE id column, and compact with the target in their
    * sync's commit. */
  sealed abstract class Index(stageKey: String) extends Derived(stageKey)

  /** The per-version profiles: one summary of each target version's
    * snapshot, kept by [[Profiling]]'s one catch-up. */
  sealed abstract class ProfileTable(stageKey: String) extends Derived(stageKey)

  /** `change_feed:` — [[BucketedMergeSink.publishChangeFeed]].
    * `outboxKeep > 0` log-compacts the outbox after each load
    * ([[BucketedMergeSink.compactOutboxKeep]]). */
  final case class ChangeFeed(path: String, outboxKeep: Int = 0)
      extends Derived("change_feed")

  /** `minhash_index:` — [[BucketedMergeSink.syncMinhashIndex]]; (k,
    * bands, rowsPerBand, charGrams) are the index's identity and must
    * match the probe side's. */
  final case class MinhashIndex(
      path: String,
      textCol: String = "text",
      k: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      charGrams: Boolean = false) extends Index("minhash_index")

  /** `lsh_index:` — [[BucketedMergeSink.syncLshIndex]]; (tables, bits,
    * dim) are the index's identity and must match the probe side's. */
  final case class LshIndex(
      path: String,
      vecCol: String = "embedding",
      tables: Int = 8,
      bits: Int = 12,
      dim: Int = 64) extends Index("lsh_index")

  /** `semantic_index:` — [[BucketedMergeSink.syncSemanticIndex]]:
    * centroids train once at the index's bootstrap and freeze at
    * `<path>.centroids` — on a stream created empty, on its first
    * micro-batch alone, so bootstrap the index from a batch load first
    * when the first batches are unrepresentative of the corpus.
    * `probeCells = 0` is AUTO (`Similarity.resolveProbes`): the SAME
    * default the query-side entry points resolve, so an index built and
    * queried on defaults has one probe width on both sides of the index
    * join. */
  final case class SemanticIndex(
      path: String,
      vecCol: String = "embedding",
      nlist: Int = 0,
      iters: Int = 3,
      trainPerCell: Int = 256,
      probeCells: Int = 0) extends Index("semantic_index")

  /** `profile:` — [[Profiling.syncProfile]]. `maxPsi > 0` arms the PSI
    * circuit breaker against the newest non-empty stored row. */
  final case class Profile(
      path: String,
      column: String = "",
      lo: Double = 0.0,
      hi: Double = 0.0,
      nbins: Int = 64,
      maxPsi: Double = 0.0) extends ProfileTable("profile")

  /** `kll_profile:` — [[Profiling.syncKllProfile]], the no-declared-range
    * quantile twin of `profile:`: it shares its shape contracts, with
    * no lo/hi/bins because a KLL sketch needs none (that is the point
    * of the key). `maxKs > 0` arms the KS circuit breaker against the
    * newest non-empty stored sketch. */
  final case class KllProfile(
      path: String,
      column: String = "",
      k: Int = graft.functions.KllSketch.DefaultK,
      maxKs: Double = 0.0) extends ProfileTable("kll_profile")

  /** `exemplar_profile:` — [[Profiling.syncExemplarProfile]], the
    * drill-down sibling: per-version example ROWS rather than a
    * distribution summary, bottom-k by md5 of `keyCol`; shares the
    * bucketed-target and no-scd2 shape contracts. */
  final case class ExemplarProfile(
      path: String,
      keyCol: String = "",
      k: Int = 20) extends ProfileTable("exemplar_profile")

  // an armed drift guard: the knob that arms it, the score it bounds,
  // the bound and the profiled column
  private final case class Gate(knob: String, score: String, bound: Double,
      column: String)

  /** One load into the target at `path` and the derived list it
    * maintains. `who` names the load in refusals; `deleteWhere` is an
    * already-hydrated purge predicate; `compactMaxFiles` is set when
    * the load compacts (`compact: true`). */
  private[graft] final case class Load(
      who: String,
      path: String,
      key: Seq[String],
      identifier: String,
      loadType: String,
      excluded: Seq[String],
      numBuckets: Int,
      retainVersions: Int,
      derived: Seq[Derived],
      scd2Ts: String = "",
      deleteWhere: String = "",
      compactMaxFiles: Option[Int] = None) {

    // scd2 feeds pair rows on (key, valid_from) — in the publish and in
    // the outbox_keep rebase fold alike
    private val feedKey = if (loadType == "scd2") Seq("valid_from") else Nil

    /** Every refusal, against the target as it is now and a batch with
      * `columns` — call before any write. */
    def validate(spark: SparkSession, columns: Seq[String]): Unit =
      check(spark, columns, BucketedMergeSink.isBucketed(spark, path))

    /** Validate, catch up, guard, load, catch up again and bound the
      * outbox. A bucketed load is ONE planned write: the merge, the
      * `delete_where:` purge and `compact: true` land in one version
      * ([[BucketedMergeSink.write]]), so the state between the merge and
      * the purge is never published — a row one load both inserts and
      * purges shows in no target version and no outbox partition. A flat
      * target merges, then purges in a second write. Returns whether the
      * target is bucketed after the load, or None when the load left no
      * target (a delete against an absent one): then there is nothing to
      * purge, compact or catch up. */
    def run(spark: SparkSession, batch: DataFrame): Option[Boolean] = {
      val wasBucketed = BucketedMergeSink.isBucketed(spark, path)
      check(spark, batch.columns.toSeq, wasBucketed)
      // the guards and both catch-ups read each stored profile row once
      val stored = new Profiling.Stored(spark)
      // CATCH UP BEFORE THE LOAD: versions left pending by a previous
      // run's crash between its load and its catch-up are
      // published/synced FIRST, while their predecessors are still
      // retained — committing this run's version first could slide
      // the retention window past the pending version, turning the
      // self-healing catch-up into a hard refusal (and leaving a
      // profile gap).
      if (wasBucketed) catchUp(spark, stored)
      // the drift guards are opt-in because they evaluate the batch
      // plan once more than the merge alone — the batch is persisted
      // across the check + merge so the extract never runs twice;
      // try/finally so a merge failure can't leak the persisted batch in
      // the block manager
      val guarded = derived.exists(armed)
      // an existing bucketed layout takes the bucketed write even when
      // the stage sets no `buckets:` (a flat write would flatten it)
      val bucketed = numBuckets > 0 || wasBucketed
      if (guarded) batch.persist()
      try {
        derived.foreach(guard(stored, batch, _))
        if (bucketed)
          // `deleteWhere` arrives hydrated (a retention cutoff rides
          // placeholders). `retainVersions` is persisted into the layout
          // at creation; on an existing target a non-zero value must
          // match the layout's
          BucketedMergeSink.write(spark, path,
            Some(BucketedMergeSink.Change(batch, loadType, key, identifier,
              excluded, scd2Ts)),
            purge = deleteWhere, compactMaxFiles = compactMaxFiles,
            numBuckets = numBuckets, retainVersions = retainVersions): Unit
        else
          MergeSink.mergeIntoParquet(spark, batch, path, loadType, key,
            identifier, excluded, scd2Ts = scd2Ts)
      } finally if (guarded) batch.unpersist()
      // a delete against an absent target creates none, and every step
      // below reads the target
      val exists =
        if (bucketed) wasBucketed || BucketedMergeSink.isBucketed(spark, path)
        else new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new Path(path))
      if (!exists) return None
      // `delete_where:` on a flat target: row-level TTL / GDPR erasure as
      // a second atomic rewrite after the merge
      if (!bucketed && deleteWhere.nonEmpty)
        MergeSink.deleteWhere(spark, path, deleteWhere)
      // catch-up AFTER the load: every retained version without a
      // published partition / applied marker / profile row gets one, so a
      // crash anywhere in this pass self-heals on the next load's
      // catch-up-BEFORE-load
      catchUp(spark, stored)
      // `outbox_keep: N` log-compacts the outbox after this load's
      // publishes: only the newest N batch partitions survive, the
      // oldest survivor rebased into a marked all-inserts base — the
      // outbox stays O(N) partitions for the life of the pipeline
      // instead of one per version forever (a load publishes one batch,
      // so a same-pipeline consumer lags at most one). scd2 feeds carry
      // no deletes, so their composite (key, valid_from) fold is fully
      // supported.
      derived.foreach {
        case ChangeFeed(feed, keep) if keep > 0 =>
          BucketedMergeSink.compactOutboxKeep(spark, feed, keep,
            key = key ++ feedKey): Unit
        case _ =>
      }
      Some(bucketed)
    }

    private def check(spark: SparkSession, columns: Seq[String],
        wasBucketed: Boolean): Unit = {
      // validated BEFORE the merge so a misconfigured load fails before
      // doing its full write, not after. First-load case: `buckets: N`
      // means the load itself will establish the layout, so an absent
      // target is fine there.
      val bucketed = numBuckets > 0 || wasBucketed
      def needsBucketed(what: String): Unit =
        require(bucketed, s"$who: $what needs a bucketed target " +
          "(set buckets: N, or point at an existing bucketed layout)")
      // compaction needs a bucketed layout; retention is likewise a
      // bucketed-layout capability — a flat target has no snapshots to
      // retain, so a retain_versions on one is a misconfiguration to
      // surface, not ignore
      if (compactMaxFiles.nonEmpty) needsBucketed("compact: true")
      if (retainVersions != 0) needsBucketed("retain_versions")
      // change_feed / *_index replay per-version snapshot diffs, so they
      // need a bucketed layout AND a retention window covering the one
      // version this load commits PLUS its predecessor (the feeds/indexes
      // catch up once at the end). The index families also need a
      // single-column merge key (postings pair on one id). Validate
      // BEFORE the merge: a misconfigured outbox must not cost a write.
      // The retention this load runs under: a non-zero request must
      // equal the layout's (the sink refuses any other), 0 means the
      // layout's own
      lazy val retain =
        if (retainVersions != 0 || !wasBucketed) retainVersions
        else BucketedMergeSink.retention(spark, path)
      // at a window of 1 the load's commit would GC its predecessor
      // before the feed ever diffs it, silently losing that batch from
      // the outbox
      def retained(d: Derived): Unit =
        require(retain >= 2,
          s"$who: ${d.stageKey} needs retain_versions >= 2 (the load " +
            "commits one version, and its predecessor must still be " +
            s"retained when the feed/index catches up), got $retain")
      // scd2 history is fine for the feed (it pairs on (key,
      // valid_from)); an index is undefined over it (multiple versions
      // per key), and a profile would count CLOSED history rows
      // alongside current ones — a distribution of bookkeeping, not of
      // the data
      def noScd2(d: Derived): Unit =
        require(loadType != "scd2",
          s"$who: ${d.stageKey} over an scd2 target would mix closed " +
            "history rows with current ones — build it from the current " +
            "view in a downstream stage instead")
      derived.foreach { d =>
        needsBucketed(d.stageKey)
        d match {
          case ChangeFeed(_, keep) =>
            retained(d)
            // the rebase fold routes delete ops by a single identifier
            // column — an outbox_keep load that can EMIT deletes (type:
            // delete, or a delete_where purge) with a composite non-scd2
            // key would only fail inside compactOutbox, AFTER the load
            // already committed; validate-before-write means refusing it
            // here (scd2 feeds never carry deletes — their composite
            // (key, valid_from) fold is fine)
            require(keep == 0 || loadType == "scd2" || key.size == 1 ||
                (loadType != "delete" && deleteWhere.isEmpty),
              s"$who: outbox_keep's rebase fold routes deletes by a " +
                s"single key column, but the key is composite " +
                s"(${key.mkString(",")}) and the load can emit delete ops " +
                (if (loadType == "delete") "(type: delete)" else "(delete_where)") +
                " — use a single-column key or drop outbox_keep")
          case _: Index =>
            retained(d)
            require(key.size == 1,
              s"$who: ${d.stageKey} needs a single-column key (postings " +
                s"pair on one id), got ${key.mkString(",")}")
            noScd2(d)
          case p: Profile =>
            // a profile snapshots each retained version directly
            // (readVersion, no predecessor diffs), so it needs a
            // bucketed layout but no extra retention beyond the
            // layout's own
            noScd2(d)
            require(p.column.nonEmpty, s"$who: profile needs " +
              "profile_column (the numeric column to bin)")
            require(p.hi > p.lo, s"$who: profile needs profile_hi > " +
              s"profile_lo, got [${p.lo}, ${p.hi})")
            require(p.nbins >= 1,
              s"$who: profile_bins must be >= 1, got ${p.nbins}")
            require(p.maxPsi >= 0.0,
              s"$who: profile_max_psi must be >= 0, got ${p.maxPsi}")
          case p: KllProfile =>
            noScd2(d)
            require(p.column.nonEmpty, s"$who: kll_profile needs " +
              "kll_profile_column (the numeric column to sketch)")
            require(p.k >= 8 && p.k <= 65535,
              s"$who: kll_profile_k must be in [8, 65535], got ${p.k}")
            require(p.maxKs >= 0.0 && p.maxKs <= 1.0,
              s"$who: kll_profile_max_ks must be in [0, 1] (a KS " +
                s"distance), got ${p.maxKs}")
          case p: ExemplarProfile =>
            noScd2(d)
            require(p.keyCol.nonEmpty, s"$who: exemplar_profile needs " +
              "exemplar_key (the row-identity column hashed for the sample)")
            require(p.k >= 1 && p.k <= 100000,
              s"$who: exemplar_k must be in [1, 100000], got ${p.k}")
        }
        neededColumn(d).foreach { case (knob, c, why) =>
          require(columns.contains(c),
            s"$who: $knob needs column $c but the extract does not " +
              s"produce it — refusing to load ($why)")
        }
      }
    }

    // an armed drift guard; delete batches carry ids, not a
    // distribution, and never trip
    private def gate(d: Derived): Option[Gate] =
      if (loadType == "delete") None else d match {
        case p: Profile if p.maxPsi > 0.0 =>
          Some(Gate("profile_max_psi", "PSI", p.maxPsi, p.column))
        case p: KllProfile if p.maxKs > 0.0 =>
          Some(Gate("kll_profile_max_ks", "KS", p.maxKs, p.column))
        case _ => None
      }

    private def armed(d: Derived): Boolean = gate(d).nonEmpty

    // (knob, column, why) of a batch column the load cannot do without.
    // A guarded load whose extract DROPPED the profiled column is
    // exactly the corrupted-extract scenario the breaker exists for —
    // skipping the gate silently would wave it straight through; the
    // exemplar sync hashes its key from the TARGET snapshot, so an
    // extract that dropped it would fail AFTER the merge committed.
    private def neededColumn(d: Derived): Option[(String, String, String)] =
      gate(d).map(g => (g.knob, g.column, "a drift guard must not " +
          "silently disarm when the profiled column vanishes"))
        .orElse(d match {
          case p: ExemplarProfile if loadType != "delete" => Some(("exemplar_profile",
            p.keyCol, "the sample sync would fail after the merge"))
          case _ => None
        })

    // the bad-data circuit breakers (`profile_max_psi:`,
    // `kll_profile_max_ks:`), one rule for both: refuse the load BEFORE
    // any write when the batch's distribution drifts past the bound vs
    // the newest NON-EMPTY stored profile row (a corrupted extract
    // should not reach the table; the operator raises the bound or
    // drops the key to override). Judging against the last distribution
    // actually seen keeps the gate armed across empty versions (a
    // purged snapshot, an all-null first batch); with no non-empty row
    // ever, the gate waits exactly like a first load.
    private def guard(stored: Profiling.Stored, batch: DataFrame, d: Derived): Unit =
      for (g <- gate(d); (refV, (batchN, score)) <- Profiling.drift(stored, batch, d)) {
        val against = s"stored profile version $refV of ${d.path}"
        // a null score must not read as "nothing to judge" when the
        // batch HAS rows: a profiled column that sketches to n=0 (every
        // value null/NaN/cast-to-null) is the same corrupted-extract
        // class the column-presence check refuses loudly (the reference
        // side is non-empty by construction)
        if (batchN == 0L && !batch.isEmpty)
          throw new IllegalStateException(
            s"$who: ${g.knob} guards column ${g.column} but the incoming " +
              "batch has rows whose profiled values are ALL null/NaN " +
              s"(sketch n=0) against non-empty $against — refusing to " +
              s"load; inspect the extract, or remove ${g.knob}")
        score.filter(_ > g.bound).foreach { s =>
          throw new IllegalStateException(
            f"$who: incoming batch drifts ${g.score}=$s%.4f > " +
              f"${g.knob}=${g.bound}%.4f vs $against (column " +
              s"${g.column}) — refusing to load; inspect the extract, or " +
              s"raise/remove ${g.knob}")
        }
      }

    /** Every artifact's idempotent catch-up: each retained target
      * version it has not published/synced/profiled yet gets applied
      * ([[BucketedMergeSink]]'s publish/sync contract). The outbox and
      * the indexes read each version's delta from one shared, persisted
      * diff, dropped when the pass ends; the profiles read their stored
      * rows through the load's `stored`. */
    private def catchUp(spark: SparkSession, stored: Profiling.Stored): Unit =
      BucketedMergeSink.withDeltas(spark, path, feedKey) { deltas =>
        derived.foreach {
          case ChangeFeed(feed, _) =>
            BucketedMergeSink.publishChangeFeed(spark, feed, deltas): Unit
          // indexes refuse scd2 loads, so `feedKey` is empty whenever one
          // is declared and the feed's diffs are the index's too.
          // `compact: true` extends to the postings indexes: the sync's
          // own commit writes one file per dir and folds fragmented
          // bases, so compacting an index costs no commit of its own
          case i: Index =>
            BucketedMergeSink.syncIndex(spark, deltas, i, compactMaxFiles): Unit
          case p: ProfileTable => Profiling.sync(stored, path, p): Unit
        }
      }
  }
}
