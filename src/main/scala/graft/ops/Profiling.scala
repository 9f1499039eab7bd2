package graft.ops

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, MapType, StructField, StructType}

import graft.core.Derived
import graft.functions.{Exemplar, KllKernel, KllSketch}
import graft.sink.BucketedMergeSink

/** Mergeable fixed-bin histogram sketches — the persisted-profile
  * warehouse pattern for DISTRIBUTIONS (the numeric sibling of the
  * q129 HLL and q132 Misra–Gries rollups): keep one `map<int,bigint>`
  * histogram per partition/day/shard, and answer corpus-level
  * distribution questions (quantiles, fractions below a threshold,
  * drift vs a reference window) by SUMMING the stored maps — no raw
  * re-scan.
  *
  * Why fixed bins and not a compactor sketch (KLL/t-digest): with the
  * bin edges fixed up front, the histogram is EXACTLY mergeable —
  * rollup-of-shards equals the direct one-pass histogram map-for-map,
  * with zero re-estimation drift (q129's HLL union pays ~1%; a
  * compactor's merge is lossy by design). The price is a value-domain
  * error bound instead of a rank bound: any quantile read from the
  * sketch is exact up to one bin width. For profiling pipelines whose
  * metrics live on known scales (chars/doc, tokens/doc, price ranges,
  * quality scores in [0,1]) that is the better trade, and the
  * composition is pure `functions._` — codegen'd, no UDAF state.
  *
  * Binning contract: `nbins` equal-width bins over [lo, hi); values
  * below `lo` land in bin -1, values at/above `hi` in bin `nbins`
  * (both carried, so the sketch loses nothing and a mis-sized range is
  * VISIBLE in the data rather than silently clamped). NULL values are
  * not counted.
  *
  * Scale design: one narrow scan + one hash-agg shuffle keyed on
  * (group, bin) — at most `groups × (nbins+2)` rows through the
  * exchange regardless of input size — then a capacity-bounded
  * map_from_entries per group. The rollup reads only the sketch table:
  * `groups × shards × (nbins+2)` tiny rows.
  */
object Profiling {

  /** Bin index of `v` under the fixed-edge contract above. */
  def binOf(v: Column, lo: Double, hi: Double, nbins: Int): Column = {
    require(nbins >= 1 && hi > lo, s"need nbins >= 1 and hi > lo")
    when(v < lit(lo), lit(-1))
      .when(v >= lit(hi), lit(nbins))
      .otherwise(floor((v - lit(lo)) / lit((hi - lo) / nbins)).cast("int"))
  }

  /** One histogram sketch per `groupCols` group: `map<int,bigint>` of
    * bin → count over `valueCol`. Store this per shard/day; roll up
    * with [[histMerge]]. */
  def histSketch(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nbins: Int,
      groupCols: Seq[String]): DataFrame = {
    val binned = df
      .filter(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+
        binOf(col(valueCol), lo, hi, nbins).as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))
    binned
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("bin"), col("cnt"))))).as("hist"))
  }

  /** Roll stored sketches up by summing counts bin-for-bin — EXACT:
    * the result equals the direct one-pass histogram of the
    * concatenated rows. `sketchCol` is the map column [[histSketch]]
    * emits; grouping by fewer columns than the sketch was built with
    * (e.g. drop the day) is the rollup. */
  def histMerge(
      df: DataFrame,
      sketchCol: String,
      groupCols: Seq[String]): DataFrame =
    df
      .select((groupCols.map(col) :+
        explode(col(sketchCol)).as(Seq("bin", "cnt"))): _*)
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("bin"), col("cnt"))))).as("hist"))

  /** Population-stability index between two sketch maps (the standard
    * distribution-drift score: `Σ (p_a − p_b)·ln(p_a/p_b)` over bins,
    * with the usual ε-floor so empty bins contribute finitely;
    * PSI < 0.1 ≈ stable, > 0.25 ≈ shifted). This is WHY profiles are
    * persisted: drift between today's corpus and a reference window is
    * two stored maps — no raw re-scan of either side. Pure map
    * manipulation, usable on [[histMerge]] output. */
  def histPsi(a: Column, b: Column, eps: Double = 1e-6): Column = {
    def total(m: Column): Column =
      aggregate(map_values(m), lit(0L), (acc, v) => acc + v).cast("double")
    def p(m: Column, tot: Column, bin: Column): Column =
      greatest(coalesce(element_at(m, bin), lit(0L)).cast("double") / tot,
        lit(eps))
    val bins = array_distinct(concat(map_keys(a), map_keys(b)))
    val (ta, tb) = (total(a), total(b))
    val raw = aggregate(bins, lit(0.0d), (acc, bin) => {
      val (pa, pb) = (p(a, ta, bin), p(b, tb, bin))
      acc + (pa - pb) * log(pa / pb)
    })
    // an EMPTY side has no distribution to drift from — null, not NaN
    when(ta === 0.0 || tb === 0.0, lit(null).cast("double")).otherwise(raw)
  }

  // ------------------------------------------------ per-version profiles
  //
  // The `profile:`, `kll_profile:` and `exemplar_profile:` stage keys
  // each keep a table of per-version summaries of a bucketed target:
  // the rows of version v under `profilePath/version=<v>/`, whose
  // `_SUCCESS` marker is the idempotency marker. One catch-up
  // ([[catchUp]]) and one reader ([[readStored]]) serve all three; a
  // family is only its stored row's schema, the closure that summarises
  // one snapshot, and (for the two distributions) its drift score.

  // each family's stored row, declared once: every read states it, so
  // no read of a stored row launches a schema-inference job, and every
  // write keeps the nullability the summary's columns have
  private val histRow = StructType(Seq(
    StructField("n", LongType),
    StructField("hist", MapType(IntegerType, LongType, valueContainsNull = false),
      nullable = false),
    StructField("psi_prev", DoubleType),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("nbins", IntegerType, nullable = false)))
  private val kllRow = StructType.fromDDL("n BIGINT NOT NULL, sk BINARY, ks_prev DOUBLE")
  private val exemplarRow = StructType.fromDDL("h STRING, payload STRING, n BIGINT NOT NULL")

  // the version ids a profile table holds (completed rows only — a torn
  // dir without _SUCCESS is invisible, same contract as the catch-up)
  private def profiledVersions(
      spark: SparkSession,
      profilePath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(profilePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("version=") &&
        BucketedMergeSink.isPublished(fs, p))
      .map(_.getName.stripPrefix("version=").toLong)
      .sorted
  }

  /** The retained target versions `profilePath` holds no row for, in
    * order, and the drift baseline: the newest version the PROFILE
    * TABLE holds below the first pending one (None when nothing is
    * pending, so an up-to-date catch-up reads no stored row). The
    * profile's history outlives the target's retention window (that is
    * what it is FOR), so the baseline comes from the stored rows, not
    * the manifest. */
  private def pendingVersions(
      spark: SparkSession,
      targetPath: String,
      profilePath: String): (Seq[Long], Option[Long]) = {
    val profiled = profiledVersions(spark, profilePath)
    val pending = BucketedMergeSink
      .manifestVersions(spark, targetPath).sorted.filterNot(profiled.toSet)
    (pending, pending.headOption.flatMap(first => profiled.filter(_ < first).lastOption))
  }

  // the one reader of stored profile rows: `versions` of the table at
  // `profilePath` under the family's `schema`, each row tagged with its
  // `version`
  private def readStored(
      spark: SparkSession,
      profilePath: String,
      schema: StructType,
      versions: Seq[Long]): DataFrame =
    spark.read.schema(schema.add("version", LongType))
      .option("basePath", profilePath)
      .parquet(versions.map(v => s"$profilePath/version=$v"): _*)

  /** The first stored row of each profile version, read at most once
    * (published rows never change; a hist or KLL version holds exactly
    * one row). [[graft.core.Derived.Load]] keeps one per load, so its
    * drift guards and both catch-ups share every read; each public sync
    * makes its own. */
  private[graft] final class Stored(val spark: SparkSession) {
    private val rows = scala.collection.mutable.Map.empty[(String, Long), Option[Row]]

    def apply(profilePath: String, schema: StructType, v: Long): Option[Row] =
      rows.getOrElseUpdate((profilePath, v),
        readStored(spark, profilePath, schema, Seq(v)).collect().headOption)

    private[Profiling] def wrote(profilePath: String, v: Long, row: Option[Row]): Unit =
      rows((profilePath, v)) = row

    /** The newest stored row with n > 0, and its version — the
      * reference a drift gate judges a batch against. An empty row (a
      * purged snapshot, an all-null first batch) has no distribution:
      * judging against it would disarm the gate forever, and refusing
      * on it would brick the pipeline with no in-band recovery. None
      * while no stored row is non-empty. Reads newest-first and stops
      * at the first non-empty row. */
    def newestNonEmpty(profilePath: String, schema: StructType): Option[(Long, Row)] =
      profiledVersions(spark, profilePath).reverseIterator
        .flatMap(v => apply(profilePath, schema, v).map(v -> _))
        .find(_._2.getAs[Long]("n") > 0L)
  }

  /** The catch-up every profile table shares: each retained target
    * version without a stored row gets the rows `summary` makes of its
    * snapshot in one Spark job, given the row of the previous profiled
    * version (None for the first), written under
    * `profilePath/version=<v>/`. The dir with its `_SUCCESS` marker IS
    * the idempotency marker (same contract as the outbox/index
    * catch-ups: overwrite-per-version, a crash mid-write leaves no
    * `_SUCCESS` and re-profiles next run; already-profiled versions are
    * never recomputed). Versions that fell out of retention before ever
    * being profiled are a monitoring GAP, not an error — their rows
    * cannot be computed and the catch-up moves on (unlike the index
    * syncs, nothing downstream depends on per-version continuity).
    * Returns the newly profiled version ids. */
  private def catchUp(
      stored: Stored,
      targetPath: String,
      profilePath: String,
      schema: StructType)(
      summary: (DataFrame, => Option[Row]) => Seq[Row]): Seq[Long] = {
    val spark = stored.spark
    val (pending, baseline) = pendingVersions(spark, targetPath, profilePath)
    // a version's predecessor is the baseline, then the version this
    // pass wrote before it, whose row `stored` holds since the write
    pending.zip(baseline +: pending.map(Some(_))).foreach { case (v, before) =>
      val rows = summary(BucketedMergeSink.readVersion(spark, targetPath, v),
        before.flatMap(stored(profilePath, schema, _)))
      spark.createDataFrame(rows.asJava, schema)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$profilePath/version=$v")
      // held with its schema, so a column read by name works as on a read
      stored.wrote(profilePath, v,
        rows.headOption.map(r => new GenericRowWithSchema(r.toSeq.toArray, schema)))
    }
    pending
  }

  // a stored hist's entries in bin order — the order the sketch emits
  // and the stored row keeps them
  private def binOrder(hist: scala.collection.Map[Int, Long]): Seq[(Int, Long)] =
    hist.toSeq.sortBy(_._1)

  // a stored row's hist as a PSI reference. A PSI sums over the
  // reference's bins in the map's iteration order, so the map is always
  // built from the entries in bin order: the same hist then scores the
  // same to the last bit wherever it was read from
  private def histOf(r: Row): Map[Int, Long] =
    binOrder(r.getMap[Int, Long](r.fieldIndex("hist"))).toMap

  /** Refuse when the configured binning no longer matches the binning
    * the stored profile rows were built with: bin indices from
    * different edges are incomparable, so every PSI / quantile read
    * against the stored reference would be silently meaningless.
    * Checked against the newest stored row by the `profile:` catch-up
    * and the `profile_max_psi` gate; a no-op while the table is empty.
    * Rows are always written with the stamp, so an UNSTAMPED populated
    * table predates the stamp and its binning is unknowable — refuse
    * rather than skip: silently no-op'ing would let a binning change
    * against a pre-stamp table compare bin indices from incompatible
    * edges, the exact failure the stamp exists to refuse. */
  private def requireBinningMatch(
      stored: Stored,
      profilePath: String,
      lo: Double,
      hi: Double,
      nbins: Int): Unit =
    for (v <- profiledVersions(stored.spark, profilePath).lastOption;
         r <- stored(profilePath, histRow, v)) {
      if (Seq("lo", "hi", "nbins").exists(c => r.isNullAt(r.fieldIndex(c))))
        throw new IllegalStateException(
          s"profile table $profilePath (version=$v) holds rows without " +
            "a lo/hi/nbins binning stamp — it predates the stamped " +
            "format, so the binning its bin indices were built with " +
            "cannot be verified; point profile: at a fresh path to " +
            "re-baseline (the unstamped history stays readable as " +
            "plain parquet)")
      val (slo, shi, sn) =
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Int]("nbins"))
      if (slo != lo || shi != hi || sn != nbins)
        throw new IllegalStateException(
          s"profile table $profilePath holds sketches binned " +
            s"[$slo, $shi) x $sn but the configuration now says " +
            s"[$lo, $hi) x $nbins — bin indices from different edges " +
            "are incomparable and every drift/quantile read would be " +
            "meaningless; restore the original profile_lo/hi/bins, or " +
            "point profile: at a fresh path to re-baseline")
    }

  /** PSI of a batch's `column` distribution against a stored reference
    * map — one aggregation over the batch (the global [[histSketch]])
    * plus the [[histPsi]] column kernel, so batch and stored-profile
    * drift scores are the same arithmetic. Returns `(batchN, psi)`:
    * batchN is the batch's count of non-null values, and psi is None
    * when either side is empty (nothing to judge). */
  def batchDrift(
      batch: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nbins: Int,
      reference: Map[Int, Long]): (Long, Option[Double]) = {
    val row = histSketch(batch, column, lo, hi, nbins, Seq.empty)
      .select(aggregate(map_values(col("hist")), lit(0L), (a, c) => a + c),
        histPsi(col("hist"), typedLit(ListMap(binOrder(reference): _*))))
      .head()
    (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getDouble(1)))
  }

  /** KS distance of a batch's `column` distribution vs a stored
    * reference sketch — one aggregation over the batch plus the
    * [[graft.functions.KllSketch.kllKs]] kernel, so batch and
    * stored-profile drift scores are the same arithmetic. Returns
    * `(batchN, ks)` like [[batchDrift]]: batchN is the batch sketch's
    * exact n, and ks is None when either side is empty. */
  def batchKsDrift(
      batch: DataFrame,
      column: String,
      k: Int,
      reference: Array[Byte]): (Long, Option[Double]) = {
    val row = batch
      .agg(KllSketch.kllSketch(col(column).cast("double"), k).as("sk"))
      .select(KllSketch.kllN(col("sk")).as("n"),
        KllSketch.kllKs(col("sk"), lit(reference)).as("ks"))
      .head()
    (row.getLong(0),
      if (row.isNullAt(1)) None else Some(row.getDouble(1)))
  }

  /** A drift gate's reading of `batch` against the newest NON-EMPTY
    * stored row of the distribution profile `table`: the reference
    * version, and the batch's sketched n with its PSI or KS score. None
    * while no stored row is non-empty — the gate waits, like a first
    * load — and for a table that profiles no distribution. The
    * `profile:` gate bins the batch with the configured edges, so it
    * first refuses a stored binning that differs. */
  private[graft] def drift(
      stored: Stored,
      batch: DataFrame,
      table: Derived): Option[(Long, (Long, Option[Double]))] = table match {
    case Derived.Profile(path, column, lo, hi, nbins, _) =>
      requireBinningMatch(stored, path, lo, hi, nbins)
      for ((v, ref) <- stored.newestNonEmpty(path, histRow))
        yield v -> batchDrift(batch, column, lo, hi, nbins, histOf(ref))
    case Derived.KllProfile(path, column, k, _) =>
      for ((v, ref) <- stored.newestNonEmpty(path, kllRow))
        yield v -> batchKsDrift(batch, column, k, ref.getAs[Array[Byte]]("sk"))
    case _ => None
  }

  /** Config-synced corpus profiling for a bucketed merge target (the
    * `profile:` stage key; the monitoring sibling of the
    * `minhash_index:`/`lsh_index:`/`semantic_index:` maintenance keys):
    * after each load, every RETAINED target version without a profile
    * row gets one — `(n, hist, psi_prev, lo, hi, nbins)` under
    * `profilePath/version=<v>/` — where `hist` is the global
    * [[histSketch]] of `column` over that snapshot and `psi_prev` is
    * the [[histPsi]] drift vs the previous profiled version (null for
    * the first). lo/hi/nbins ride every row, so a later run under a
    * CHANGED binning refuses instead of splicing incomparable bin
    * indices into the table. [[catchUp]]'s idempotency contract.
    *
    * Returns the newly profiled version ids. */
  def syncProfile(
      spark: SparkSession,
      targetPath: String,
      profilePath: String,
      column: String,
      lo: Double,
      hi: Double,
      nbins: Int): Seq[Long] =
    sync(new Stored(spark), targetPath,
      Derived.Profile(profilePath, column, lo, hi, nbins))

  /** [[syncProfile]]'s KLL twin (the `kll_profile:` stage key): corpus
    * quantile profiling for metrics with NO declared value range —
    * every retained target version without a profile row gets
    * `(n, sk, ks_prev)` under `profilePath/version=<v>/`, where `sk`
    * is the KLL sketch of `column` over that snapshot (n exact, read
    * from the sketch itself) and `ks_prev` is the Kolmogorov–Smirnov
    * distance (`kll_ks`) vs the previous profiled version (null
    * for the first). Same idempotency contract as [[syncProfile]].
    * Deliberately NO binning-stamp analogue: KLL
    * bytes are self-describing and sketches built under different k
    * remain comparable (each side's rank error rides the KS
    * threshold), so a k change degrades accuracy visibly rather than
    * corrupting comparisons — the failure mode fixed bins refuse for
    * does not exist here.
    *
    * Returns the newly profiled version ids. */
  def syncKllProfile(
      spark: SparkSession,
      targetPath: String,
      profilePath: String,
      column: String,
      k: Int): Seq[Long] =
    sync(new Stored(spark), targetPath, Derived.KllProfile(profilePath, column, k))

  /** The catch-up of any profile table of the target at `targetPath` —
    * the family's summary closure around [[catchUp]]. */
  private[graft] def sync(
      stored: Stored,
      targetPath: String,
      table: Derived.ProfileTable): Seq[Long] = table match {
    case Derived.Profile(path, column, lo, hi, nbins, _) =>
      // a profile table is one binning's history — a silent edge change
      // would splice incomparable bin indices into the same table
      requireBinningMatch(stored, path, lo, hi, nbins)
      catchUp(stored, targetPath, path, histRow) { (snap, prev) =>
        val psiPrev = prev.fold(lit(null).cast("double"))(p =>
          histPsi(col("hist"), typedLit(histOf(p))))
        val r = histSketch(snap, column, lo, hi, nbins, Seq.empty)
          .select(aggregate(map_values(col("hist")), lit(0L), (a, c) => a + c),
            col("hist"), psiPrev)
          .head()
        // the ListMap keeps the bin order the sketch emits into the row
        Seq(Row(r.getLong(0), ListMap(binOrder(r.getMap[Int, Long](1)): _*),
          r.get(2), lo, hi, nbins))
      }
    case Derived.KllProfile(path, column, k, _) =>
      catchUp(stored, targetPath, path, kllRow) { (snap, prev) =>
        // n and ks_prev derive from the collected bytes on the driver,
        // by the same KllKernel arithmetic the column kernels use
        val sk = snap.agg(KllSketch.kllSketch(col(column).cast("double"), k))
          .head().getAs[Array[Byte]](0)
        Seq(Row(KllKernel.n(sk), sk,
          prev.map(p => KllKernel.ksDelta(sk, p.getAs[Array[Byte]]("sk"))).orNull))
      }
    case Derived.ExemplarProfile(path, keyCol, k) =>
      catchUp(stored, targetPath, path, exemplarRow) { (snap, _) =>
        // sample and exact count ride one aggregation pass
        val row = snap.agg(
          Exemplar.exemplarAgg(
            md5(col(keyCol).cast("string")),
            to_json(struct(snap.columns.map(col).toIndexedSeq: _*)),
            k),
          count(lit(1))).head()
        row.getSeq[Row](0).map(r => Row(r.getString(0), r.getString(1), row.getLong(1)))
      }
  }

  // ------------------------------------------------- exemplar samples
  //
  // Family #6 — deterministic bottom-k-by-hash exemplar ROWS (see
  // graft.functions.Exemplar for the full contract). The drift
  // families above answer "did the distribution move?"; these answer
  // the question a fired breaker raises next — "show me what the rows
  // look like" — from stored profile rows alone, never a target scan.

  /** Deterministic exemplar sample of a frame: the `k` rows whose
    * `md5(cast(keyCol as string))` sorts smallest, as
    * `(h, payload)` with payload = the row as JSON (all columns, or
    * `payloadCols`). Pure composition — `ORDER BY h LIMIT k` is
    * Spark's TakeOrderedAndProject: per-partition bounded heaps, NO
    * shuffle, the driver merges k-sized lists — so the global sample
    * costs one narrow pass at any corpus size. md5 because every SQL
    * engine renders the identical FIXED-WIDTH hex (string order =
    * hash order, and the sample replays cross-engine); see
    * [[graft.functions.Exemplar]] for what an alternative hash must
    * preserve. Assumes `keyCol`
    * values are DISTINCT (a merged target's key): duplicate keys would
    * occupy multiple sample slots here, while [[graft.functions
    * .Exemplar.exemplarAgg]] dedups per hash — profile a keyed table,
    * not a raw multiset. */
  def exemplarSample(
      df: DataFrame,
      keyCol: String,
      k: Int,
      payloadCols: Seq[String] = Nil): DataFrame = {
    require(k >= 1, s"exemplarSample k must be >= 1, got $k")
    val cols = if (payloadCols.nonEmpty) payloadCols else df.columns.toSeq
    df.select(
        md5(col(keyCol).cast("string")).as("h"),
        to_json(struct(cols.map(col): _*)).as("payload"))
      .orderBy("h", "payload")
      .limit(k)
  }
  /** [[syncProfile]]/[[syncKllProfile]]'s exemplar sibling (the
    * `exemplar_profile:` stage key): every retained target version
    * without a profile gets `k` exemplar rows `(h, payload, n)` under
    * `profilePath/version=<v>/` — payload is the whole row as JSON, n
    * the snapshot's EXACT count (stamped on each row so any single
    * exemplar row sizes its snapshot). Sample + count ride ONE
    * aggregation pass (the exemplar_agg kernel + count(1)). Same
    * idempotency contract as the siblings. Because
    * bottom-k-by-hash merges exactly (`bottomK(A ∪ B) =
    * bottomK(bottomK(A) ∪ bottomK(B))`), [[mergedExemplars]] answers
    * corpus-level "show me examples" from these stored rows alone.
    *
    * Returns the newly profiled version ids. */
  def syncExemplarProfile(
      spark: SparkSession,
      targetPath: String,
      profilePath: String,
      keyCol: String,
      k: Int): Seq[Long] =
    sync(new Stored(spark), targetPath, Derived.ExemplarProfile(profilePath, keyCol, k))

  /** Corpus-level exemplars from STORED profile rows only: union every
    * version's bottom-k, re-take the k smallest — exact by the merge
    * identity, zero target reads. For versions that SUPERSEDE each
    * other (upsert history) this is the sample of all rows ever
    * resident; pass specific versions via the caller filtering the
    * parquet paths if a narrower union is wanted.
    *
    * The merge identity needs each stored version to contribute its
    * bottom-min(k, |version|): a version synced with a SMALLER build k
    * than the k requested here may have truncated rows the corpus
    * bottom-k needs, silently biasing the result — so this REFUSES
    * when any version's stored rows are both fewer than the requested
    * k and fewer than that version's exact key count (stored rows ==
    * n means the sample covers every key and any k is fine). */
  def mergedExemplars(
      spark: SparkSession,
      profilePath: String,
      k: Int): DataFrame = {
    require(k >= 1, s"mergedExemplars k must be >= 1, got $k")
    val versions = profiledVersions(spark, profilePath)
    require(versions.nonEmpty,
      s"mergedExemplars: no profiled versions under $profilePath — " +
        "run the exemplar_profile: stage (or syncExemplarProfile) first")
    val rows = readStored(spark, profilePath, exemplarRow, versions)
    // one tiny read (≤ buildK rows per version) sizes every version:
    // its stored row count and exact key count
    val sized = rows.groupBy("version").agg(count(lit(1)), max("n")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    versions.foreach { v =>
      val (stored, n) = sized.getOrElse(v, (0L, 0L))
      require(stored >= k || stored == n,
        s"mergedExemplars: version $v stores only $stored exemplars for " +
          s"$n keys — built with a smaller k than the requested $k, so " +
          "the corpus bottom-" + k + " may be missing truncated rows; " +
          "request k <= the build k, or re-sync the profile at the " +
          "larger k")
    }
    rows.select("h", "payload")
      // dedup BEFORE the limit: consecutive upsert snapshots repeat
      // surviving rows, and k duplicates would crowd out distinct
      // exemplars (the input here is versions × k rows — tiny)
      .dropDuplicates("h", "payload")
      .orderBy("h", "payload")
      .limit(k)
  }

  /** Quantile read from a sketch map: the LEFT EDGE of the bin holding
    * rank `ceil(q·n)` (edge error ≤ one bin width by construction;
    * overflow bins report the range bound). Pure map manipulation —
    * usable on the rollup output without touching raw rows. */
  def histQuantile(
      sketch: Column, lo: Double, hi: Double, nbins: Int,
      q: Double): Column = {
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    val w = (hi - lo) / nbins
    // entries sorted by bin; running cumulative vs target rank
    val entries = sort_array(map_entries(sketch))
    val n = aggregate(entries, lit(0L), (acc, e) => acc + e.getField("value"))
    val target = ceil(n.cast("double") * lit(q)).cast("long")
    // fold: carry (cum, answerBin); first bin whose cum >= target wins
    val folded = aggregate(
      entries,
      struct(lit(0L).as("cum"), lit(null).cast("int").as("bin")),
      (acc, e) => {
        val cum = acc.getField("cum") + e.getField("value")
        struct(cum.as("cum"),
          when(acc.getField("bin").isNotNull, acc.getField("bin"))
            .when(cum >= target, e.getField("key"))
            .as("bin"))
      })
    val b = folded.getField("bin")
    when(b.isNull, lit(null).cast("double"))
      .when(b < lit(0), lit(lo))
      .when(b >= lit(nbins), lit(hi))
      .otherwise(lit(lo) + b.cast("double") * lit(w))
  }
}
