package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField, StructType}

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

  // the version ids a profile table holds (completed rows only — a torn
  // dir without _SUCCESS is invisible, same contract as the catch-up)
  private def profiledVersions(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(profilePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("version=") &&
        graft.sink.BucketedMergeSink.isPublished(fs, p))
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
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      profilePath: String): (Seq[Long], Option[Long]) = {
    val profiled = profiledVersions(spark, profilePath)
    val pending = graft.sink.BucketedMergeSink
      .manifestVersions(spark, targetPath).sorted.filterNot(profiled.toSet)
    (pending, pending.headOption.flatMap(first => profiled.filter(_ < first).lastOption))
  }

  // stored profile maps are tiny — <= nbins+2 entries
  private def readStoredHist(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String,
      v: Long): Map[Int, Long] =
    spark.read.parquet(s"$profilePath/version=$v")
      .select(explode(col("hist")).as(Seq("bin", "cnt")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  // the binning a profile table's newest row was built with; None while
  // the table is empty. Rows are always written with the stamp (see
  // syncProfile), so an UNSTAMPED populated table predates the stamp
  // and its binning is unknowable — refuse rather than skip (r15
  // advice): silently no-op'ing here would let a binning change
  // against a pre-stamp table compare bin indices from incompatible
  // edges, the exact failure the stamp exists to refuse.
  private def storedBinning(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String): Option[(Double, Double, Int)] =
    profiledVersions(spark, profilePath).lastOption.flatMap { v =>
      val df = spark.read.parquet(s"$profilePath/version=$v")
      if (!Seq("lo", "hi", "nbins").forall(df.columns.contains))
        throw new IllegalStateException(
          s"profile table $profilePath (version=$v) holds rows without " +
            "a lo/hi/nbins binning stamp — it predates the stamped " +
            "format, so the binning its bin indices were built with " +
            "cannot be verified; point profile: at a fresh path to " +
            "re-baseline (the unstamped history stays readable as " +
            "plain parquet)")
      else df.select("lo", "hi", "nbins").collect().headOption
        .map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2)))
    }

  /** Refuse when the configured binning no longer matches the binning
    * the stored profile rows were built with: bin indices from
    * different edges are incomparable, so every PSI / quantile read
    * against the stored reference would be silently meaningless.
    * Called by [[syncProfile]] and the Runner's `profile_max_psi`
    * gate; a no-op while the profile table is empty. */
  def requireBinningMatch(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String,
      lo: Double,
      hi: Double,
      nbins: Int): Unit =
    storedBinning(spark, profilePath).foreach { case (slo, shi, sn) =>
      if (slo != lo || shi != hi || sn != nbins)
        throw new IllegalStateException(
          s"profile table $profilePath holds sketches binned " +
            s"[$slo, $shi) x $sn but the configuration now says " +
            s"[$lo, $hi) x $nbins — bin indices from different edges " +
            "are incomparable and every drift/quantile read would be " +
            "meaningless; restore the original profile_lo/hi/bins, or " +
            "point profile: at a fresh path to re-baseline")
    }

  /** The NEWEST stored profile row, as (version, hist) — the reference
    * a drift gate compares an incoming batch against. None while the
    * profile table is empty (a first load has no baseline). */
  def latestProfile(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String): Option[(Long, Map[Int, Long])] =
    profiledVersions(spark, profilePath).lastOption
      .map(v => v -> readStoredHist(spark, profilePath, v))

  /** PSI of a batch's `column` distribution against a stored reference
    * map — one aggregation over the batch (the global [[histSketch]])
    * plus the [[histPsi]] column kernel, so batch and stored-profile
    * drift scores are the same arithmetic. None when the batch holds
    * no non-null values (nothing to judge). */
  def batchDrift(
      batch: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nbins: Int,
      reference: Map[Int, Long]): Option[Double] = {
    val rows = histSketch(batch, column, lo, hi, nbins, Seq.empty)
      .select(histPsi(col("hist"),
        typedLit(scala.collection.immutable.ListMap(
          reference.toSeq.sortBy(_._1): _*))).as("psi"))
      .collect()
    rows.headOption.collect { case r if !r.isNullAt(0) => r.getDouble(0) }
  }

  /** Config-synced corpus profiling for a bucketed merge target (the
    * `profile:` stage key; the monitoring sibling of the
    * `minhash_index:`/`lsh_index:`/`semantic_index:` maintenance keys):
    * after each load, every RETAINED target version without a profile
    * row gets one — `(n, hist, psi_prev, lo, hi, nbins)` under
    * `profilePath/version=<v>/` — where `hist` is the global [[histSketch]] of
    * `column` over that snapshot and `psi_prev` is the [[histPsi]]
    * drift vs the previous profiled version (null for the first). The
    * version-partition dir with its `_SUCCESS` marker IS the
    * idempotency marker (same contract as the outbox/index catch-ups:
    * overwrite-per-version, a crash mid-write leaves no `_SUCCESS` and
    * re-profiles next run; already-profiled versions are never
    * recomputed). Versions that fell out of retention before ever
    * being profiled are a monitoring GAP, not an error — their rows
    * cannot be computed and the catch-up moves on (unlike the index
    * syncs, nothing downstream depends on per-version continuity).
    *
    * Returns the newly profiled version ids. */
  def syncProfile(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      profilePath: String,
      column: String,
      lo: Double,
      hi: Double,
      nbins: Int): Seq[Long] = {
    import graft.sink.BucketedMergeSink
    // a profile table is one binning's history — a silent edge change
    // would splice incomparable bin indices into the same table
    requireBinningMatch(spark, profilePath, lo, hi, nbins)
    val (pending, baseline) = pendingVersions(spark, targetPath, profilePath)
    def readHist(v: Long): Map[Int, Long] =
      readStoredHist(spark, profilePath, v)
    var prev: Option[Map[Int, Long]] = baseline.map(readHist)
    pending.foreach { v =>
      val snap = BucketedMergeSink.readVersion(spark, targetPath, v)
      val profile = histSketch(snap, column, lo, hi, nbins, Seq.empty)
        .withColumn("n",
          aggregate(map_values(col("hist")), lit(0L), (a, c) => a + c))
      val withPsi = prev match {
        case Some(pm) => profile.withColumn("psi_prev",
          histPsi(col("hist"), typedLit(pm)))
        case None => profile.withColumn("psi_prev",
          lit(null).cast("double"))
      }
      // lo/hi/nbins ride every row so a future run under a CHANGED
      // binning config is refused (requireBinningMatch) instead of
      // comparing bin indices from incompatible edges
      withPsi.select(col("n"), col("hist"), col("psi_prev"),
          lit(lo).as("lo"), lit(hi).as("hi"), lit(nbins).as("nbins"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$profilePath/version=$v")
      prev = Some(readHist(v))
    }
    pending
  }

  // the stored KLL profile row's fixed schema: a read that states it
  // skips the schema-inference job a bare parquet read launches
  private val storedKllSchema = StructType(Seq(
    StructField("n", LongType), StructField("sk", BinaryType),
    StructField("ks_prev", DoubleType)))

  // the newest stored KLL profile row's sketch bytes (one tiny row)
  private def readStoredKll(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String,
      v: Long): Array[Byte] =
    spark.read.schema(storedKllSchema).parquet(s"$profilePath/version=$v")
      .select("sk").head().getAs[Array[Byte]](0)

  /** The newest stored KLL profile row whose sketch is NON-EMPTY — the
    * drift-gate reference. An empty stored sketch (a legitimately
    * purged snapshot, an all-null first batch that had no baseline to
    * trip on) has no CDF: comparing against it reads null forever, and
    * refusing on it would BRICK the pipeline with no in-band recovery
    * (re-baselining requires a load, which would refuse). Judging
    * drift against the last NON-EMPTY distribution self-heals both
    * ways: the gate stays armed across empty interludes, and when no
    * non-empty baseline has ever existed the gate waits exactly like
    * the first load. Bounded: one ≤1-row read per stored version,
    * newest-first, stopping at the first non-empty. */
  def latestNonEmptyKllProfile(
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String): Option[(Long, Array[Byte])] =
    profiledVersions(spark, profilePath).reverseIterator
      .map(v => v -> readStoredKll(spark, profilePath, v))
      .find { case (_, sk) => graft.functions.KllKernel.n(sk) > 0L }

  /** KS distance of a batch's `column` distribution vs a stored
    * reference sketch — one aggregation over the batch plus the
    * [[graft.functions.KllSketch.kllKs]] kernel, so batch and
    * stored-profile drift scores are the same arithmetic. Returns
    * `(batchSketchN, ks)`: ks is None when either side is empty
    * (matching [[batchDrift]]'s null-PSI contract), and the batch
    * sketch's exact n rides along so a caller guarding a load can tell
    * "empty batch, nothing to judge" apart from "batch HAS rows but the
    * profiled column sketched to n=0 (all null/NaN/cast-to-null)" — the
    * corrupted-extract class a KS circuit breaker must refuse, not
    * silently disarm on (r16 advice). */
  def batchKsDrift(
      batch: DataFrame,
      column: String,
      k: Int,
      reference: Array[Byte]): (Long, Option[Double]) = {
    import graft.functions.KllSketch
    val row = batch
      .agg(KllSketch.kllSketch(col(column).cast("double"), k).as("sk"))
      .select(KllSketch.kllN(col("sk")).as("n"),
        KllSketch.kllKs(col("sk"), lit(reference)).as("ks"))
      .head()
    (row.getLong(0),
      if (row.isNullAt(1)) None else Some(row.getDouble(1)))
  }

  /** [[syncProfile]]'s KLL twin (the `kll_profile:` stage key): corpus
    * quantile profiling for metrics with NO declared value range —
    * every retained target version without a profile row gets
    * `(n, sk, ks_prev)` under `profilePath/version=<v>/`, where `sk`
    * is the KLL sketch of `column` over that snapshot (n exact, read
    * from the sketch itself) and `ks_prev` is the Kolmogorov–Smirnov
    * distance (`kll_ks`) vs the previous profiled version (null
    * for the first). Same `_SUCCESS`-marker idempotency contract as
    * [[syncProfile]]. Deliberately NO binning-stamp analogue: KLL
    * bytes are self-describing and sketches built under different k
    * remain comparable (each side's rank error rides the KS
    * threshold), so a k change degrades accuracy visibly rather than
    * corrupting comparisons — the failure mode fixed bins refuse for
    * does not exist here.
    *
    * Returns the newly profiled version ids. */
  def syncKllProfile(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      profilePath: String,
      column: String,
      k: Int): Seq[Long] = {
    import graft.functions.KllSketch
    import graft.sink.BucketedMergeSink
    val (pending, baseline) = pendingVersions(spark, targetPath, profilePath)
    var prev: Option[Array[Byte]] =
      baseline.map(readStoredKll(spark, profilePath, _))
    pending.foreach { v =>
      val snap = BucketedMergeSink.readVersion(spark, targetPath, v)
      // ONE aggregation job collects the sketch bytes; n, ks_prev, the
      // parquet row, AND the next iteration's baseline all derive from
      // those bytes on the driver via the same KllKernel arithmetic the
      // column kernels use (r16 advice: the per-version parquet
      // read-back this replaced was a whole extra job per version for
      // bytes already in hand — and parquet stores them verbatim, so
      // seeding `prev` from memory is identical)
      val sk = snap
        .agg(KllSketch.kllSketch(col(column).cast("double"), k).as("sk"))
        .head().getAs[Array[Byte]](0)
      val ksPrev: Option[Double] = prev.flatMap(pb =>
        Option(graft.functions.KllKernel.ksDelta(sk, pb))
          .map(_.asInstanceOf[java.lang.Double].doubleValue))
      import spark.implicits._
      Seq((graft.functions.KllKernel.n(sk), sk, ksPrev))
        .toDF("n", "sk", "ks_prev")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$profilePath/version=$v")
      prev = Some(sk)
    }
    pending
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
    * `_SUCCESS`-marker idempotency contract as the siblings. Because
    * bottom-k-by-hash merges exactly (`bottomK(A ∪ B) =
    * bottomK(bottomK(A) ∪ bottomK(B))`), [[mergedExemplars]] answers
    * corpus-level "show me examples" from these stored rows alone.
    *
    * Returns the newly profiled version ids. */
  def syncExemplarProfile(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      profilePath: String,
      keyCol: String,
      k: Int): Seq[Long] = {
    import graft.sink.BucketedMergeSink
    val (pending, _) = pendingVersions(spark, targetPath, profilePath)
    pending.foreach { v =>
      val snap = BucketedMergeSink.readVersion(spark, targetPath, v)
      val row = snap.agg(
        graft.functions.Exemplar.exemplarAgg(
          md5(col(keyCol).cast("string")),
          to_json(struct(snap.columns.map(col).toIndexedSeq: _*)),
          k).as("ex"),
        count(lit(1)).as("n")).head()
      val n = row.getLong(1)
      val ex = row.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getString(1), n))
      import spark.implicits._
      ex.toDF("h", "payload", "n")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$profilePath/version=$v")
    }
    pending
  }

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
      spark: org.apache.spark.sql.SparkSession,
      profilePath: String,
      k: Int): DataFrame = {
    require(k >= 1, s"mergedExemplars k must be >= 1, got $k")
    val versions = profiledVersions(spark, profilePath)
    require(versions.nonEmpty,
      s"mergedExemplars: no profiled versions under $profilePath — " +
        "run the exemplar_profile: stage (or syncExemplarProfile) first")
    versions.foreach { v =>
      // tiny read: ≤ buildK rows per version
      val rows = spark.read.parquet(s"$profilePath/version=$v")
        .select("n").collect()
      val stored = rows.length.toLong
      val n = if (rows.isEmpty) 0L else rows.head.getLong(0)
      require(stored >= k || stored == n,
        s"mergedExemplars: version $v stores only $stored exemplars for " +
          s"$n keys — built with a smaller k than the requested $k, so " +
          "the corpus bottom-" + k + " may be missing truncated rows; " +
          "request k <= the build k, or re-sync the profile at the " +
          "larger k")
    }
    spark.read.parquet(
        versions.map(v => s"$profilePath/version=$v"): _*)
      .select("h", "payload")
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
