package graft.config

import java.{util => ju}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** One ETL stage — the Spark-native analogue of a reference "pype"
  * (reference: pypeline/Pype.py:12-29, defaults at Pype.py:14-21).
  *
  * Differences from the reference, by design:
  *   - `key` (the upsert/update conflict key) is configurable with default
  *     "id"; the reference hardcodes `id` (Pype.py:117,127).
  *   - schemas are carried by Spark `StructType`s instead of being inferred
  *     from the first row of each batch (Pype.py:87).
  *   - `bulkSize` is accepted for config compatibility but unused: Spark
  *     partitioning replaces hand-batching (Pype.py:38-78).
  */
final case class StageSpec(
    name: String,
    extractQuery: String,
    sources: Map[String, graft.sources.SourceSpec] = Map.empty, // view name → source
    transformers: Seq[String] = Nil,
    targetTable: String = "",
    loadType: String = "upsert", // upsert | update | delete (Pype.py:20,58,89)
                                 // | scd2 (history-preserving upsert —
                                 // MergeSink.scd2; needs scd2_ts)
    scd2Ts: String = "", // scd2 only: the batch's version timestamp
                         // (valid_from of opened / valid_to of closed
                         // versions) — explicit, never wall-clock
    key: Seq[String] = Seq("id"),
    identifier: String = "id", // delete key (Pype.py:83,180)
    fieldsExcludedFromUpdate: Seq[String] = Nil, // Pype.py:15,132-143
    postQuery: String = "", // Pype.py:17,164-168
    bulkSize: Int = 2000, // Pype.py:16 (unused; kept for config parity)
    buckets: Int = 0, // >0: hash-bucketed target (BucketedMergeSink) — each
                      // load rewrites only the bucket dirs the batch touches
    compact: Boolean = false, // bucketed targets only: collapse fragmented
                              // bucket dirs to one file after the load
    compactMaxFiles: Int = 1, // compact buckets exceeding this many data
                              // files (the LSM threshold: higher = less
                              // write amplification, more small files)
    retainVersions: Int = 0, // bucketed targets only: snapshot retention
                             // persisted into the layout at creation (0 =
                             // layout default of 1); readers pin a retained
                             // snapshot via a `bucketed` source's `version`
    changeFeed: String = "", // bucketed targets only (retention >= 2):
                             // CDC outbox name — after each load, publish
                             // the not-yet-published per-version change
                             // feeds there (BucketedMergeSink
                             // .publishChangeFeed; idempotent catch-up)
    outboxKeep: Int = 0, // with change_feed: >0 log-compacts the outbox
                         // after each publish, keeping only the newest N
                         // batch partitions (BucketedMergeSink
                         // .compactOutboxKeep — older history collapses
                         // into a marked all-inserts base). Size above
                         // the laggiest consumer's worst lag: a consumer
                         // more than N-1 batches behind refuses loudly
    minhashIndex: String = "", // bucketed targets only (retention >= 2,
                               // single-column key): near-dup index name —
                               // after each load, bring the persisted
                               // MinHash band postings there in lockstep
                               // with the target by signing only the
                               // load's delta (BucketedMergeSink
                               // .syncMinhashIndex; idempotent catch-up)
    minhashIndexText: String = "text", // column the index signs
    lshIndex: String = "", // bucketed targets only (retention like
                           // minhash_index, single-column key):
                           // embedding near-dup index name — after each
                           // load, keep the persisted cosine-LSH bucket
                           // postings in lockstep with the target by
                           // signing only the load's delta
                           // (BucketedMergeSink.syncLshIndex)
    lshIndexVec: String = "embedding", // column the LSH index signs
    semanticIndex: String = "", // bucketed targets only (same
                                // requirements): SemDeDup cell index
                                // name — postings tracked per load
                                // under centroids FROZEN at the index's
                                // bootstrap (BucketedMergeSink
                                // .syncSemanticIndex; the model lives
                                // at <index>.centroids)
    semanticIndexVec: String = "embedding", // column the cell index signs
    profileTable: String = "", // bucketed targets only: corpus-profile
                               // table name — after each load, every
                               // retained target version without a
                               // profile row gets (n, hist, psi_prev)
                               // under version=<v>
                               // (Profiling.syncProfile: idempotent
                               // version-marker catch-up; a version
                               // dropped before it was ever profiled
                               // is a monitoring gap, not an error)
    profileColumn: String = "", // numeric column the profile bins
    profileLo: Double = 0.0, // fixed bin range [profile_lo, profile_hi)
    profileHi: Double = 0.0, // — fixed edges are what make stored
                             // profiles exactly mergeable/comparable
    profileBins: Int = 64,
    profileMaxPsi: Double = 0.0, // > 0: a bad-data circuit breaker —
                                 // refuse the load BEFORE any write when
                                 // the incoming batch's profile_column
                                 // distribution drifts past this PSI vs
                                 // the NEWEST stored profile row
                                 // (requires profile:; 0 = off; first
                                 // load has no baseline and never trips)
    kllProfileTable: String = "", // bucketed targets only: KLL quantile
                                  // profile table name — like profile:
                                  // but for metrics with NO declared
                                  // value range: every retained target
                                  // version without a row gets
                                  // (n, sk, ks_prev) under version=<v>
                                  // (Profiling.syncKllProfile; same
                                  // idempotent version-marker catch-up).
                                  // No binning stamp needed: KLL bytes
                                  // are self-describing and sketches
                                  // with different k stay comparable
                                  // (each side's rank error rides the
                                  // KS threshold), unlike fixed bins
    kllProfileColumn: String = "", // numeric column the profile sketches
    kllProfileK: Int = 200, // sketch accuracy (rank error ≈1.65% at 200)
    kllProfileMaxKs: Double = 0.0, // > 0: bad-data circuit breaker — refuse
                                   // the load BEFORE any write when the
                                   // batch's KS distance vs the NEWEST
                                   // stored sketch exceeds this (requires
                                   // kll_profile:; 0 = off; first load
                                   // has no baseline and never trips)
    exemplarProfileTable: String = "", // bucketed targets only: exemplar
                                       // sample table name — the drill-
                                       // down sibling of profile:/
                                       // kll_profile:: every retained
                                       // target version without rows gets
                                       // its k bottom-k-by-md5(key)
                                       // example rows (h, payload, n)
                                       // under version=<v> (Profiling
                                       // .syncExemplarProfile; same
                                       // idempotent version-marker
                                       // catch-up). Deterministic — a
                                       // pure function of the key set —
                                       // and exactly mergeable across
                                       // versions (mergedExemplars)
    exemplarKey: String = "", // row-identity column hashed for the sample
    exemplarK: Int = 20, // exemplar rows stored per version
    deleteWhere: String = "", // post-load predicate purge on the TARGET
                              // (row-level TTL / GDPR erasure): every
                              // target row matching this SQL boolean is
                              // removed after the load (MergeSink
                              // .deleteWhere; placeholders hydrate)
    subscribeFeed: String = "", // CONSUMER stage: instead of an extract→
                                // transform→load, apply every not-yet-
                                // applied batch of this CDC outbox to
                                // the stage's target (the replica) —
                                // BucketedMergeSink.subscribeFeed;
                                // mutually exclusive with the producer
                                // keys (extract_query, transformers,
                                // change_feed, indexes, delete_where...)
    consumerName: String = "", // with subscribe_feed: REGISTER this
                               // replica's cursor with the outbox
                               // (<feed>.consumers/<name>), so the
                               // producer's outbox_keep compaction
                               // clamps its rebase point and can never
                               // rebase past this consumer; empty =
                               // unregistered (size outbox_keep above
                               // this consumer's worst lag yourself)
    debug: Boolean = false)

/** YAML registry: {pypelines: {name: [stage names]}, pypes: {name: {...}}}
  * (reference: pypeline/Pypeline.py:15-19,37-50).
  *
  * Validation is eager and complete: unknown pipeline names AND unknown
  * stage names both raise with a clear message — the reference has a bug
  * where unknown pypes escape as a bare KeyError (Pypeline.py:43 tests
  * `pype in self.config["pypes"][pype]` instead of `not in ...["pypes"]`).
  */
final case class PipelineSpec(
    pipelines: Map[String, Seq[String]],
    stages: Map[String, StageSpec]) {

  def resolve(pipeline: String): Seq[StageSpec] = {
    val stageNames = pipelines.getOrElse(
      pipeline,
      throw new IllegalArgumentException(
        s"This pypeline is not defined in the configuration file: $pipeline"))
    stageNames.map(n =>
      stages.getOrElse(
        n,
        throw new IllegalArgumentException(
          s"This pype is not defined in the configuration file: $n")))
  }
}

object PipelineSpec {

  /** Parse the YAML text with a safe constructor (the reference uses unsafe
    * `yaml.load`, Pypeline.py:19; we do not). */
  def fromYaml(yaml: String): PipelineSpec = {
    val loaded = new Yaml(new SafeConstructor(new LoaderOptions))
      .load[ju.Map[String, Object]](yaml)
    require(loaded != null, "empty pipeline configuration")
    val root = loaded.asScala

    val pipelines: Map[String, Seq[String]] = root.get("pypelines") match {
      case Some(m: ju.Map[_, _]) =>
        m.asScala.map { case (k, v) =>
          k.toString -> v.asInstanceOf[ju.List[Object]].asScala.toSeq.map(_.toString)
        }.toMap
      case _ => Map.empty
    }

    val stages: Map[String, StageSpec] = root.get("pypes") match {
      case Some(m: ju.Map[_, _]) =>
        m.asScala.map { case (k, v) =>
          val name = k.toString
          require(v != null, s"pype '$name' has an empty body")
          name -> parseStage(name, v.asInstanceOf[ju.Map[String, Object]].asScala.toMap)
        }.toMap
      case _ => Map.empty
    }

    PipelineSpec(pipelines, stages)
  }

  /** One YAML mapping, read key by key: `done(result)` returns the
    * parsed result only if every key was asked for, so a typo such as
    * `outbox_kep: 3` fails loudly at parse time instead of being
    * dropped silently. */
  private final class Fields(what: String, c: collection.Map[String, Object]) {
    private val asked = collection.mutable.Set.empty[String]
    // flatMap(Option(_)): a YAML key with an EMPTY value parses to null —
    // treat it as absent instead of NPE-ing with no stage context
    def get(k: String): Option[Object] = { asked += k; c.get(k).flatMap(Option(_)) }
    def done[A](result: A): A = {
      val unknown = c.keySet.diff(asked).toSeq.sorted
      require(unknown.isEmpty, s"$what has unknown key(s): ${unknown.mkString(", ")}")
      result
    }
  }

  /** `sources: {viewName: {format: csv, path: ..., schema: ...,
    * options: {k: v}}}` — per-stage declared inputs, registered as temp
    * views before the extract query runs (SURVEY Layer B "Scans"). */
  private def parseSources(c: Fields): Map[String, graft.sources.SourceSpec] =
    c.get("sources") match {
      case Some(m: ju.Map[_, _]) =>
        m.asScala.map { case (view, cfg) =>
          val sc = new Fields(s"source '$view'",
            cfg.asInstanceOf[ju.Map[String, Object]].asScala)
          val opts = sc.get("options") match {
            case Some(om: ju.Map[_, _]) =>
              om.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
            case _ => Map.empty[String, String]
          }
          view.toString -> sc.done(graft.sources.SourceSpec(
            format = sc.get("format").map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                s"source '$view' is missing the required 'format' field")),
            path = sc.get("path").map(_.toString).getOrElse(""),
            schema = sc.get("schema").map(_.toString).getOrElse(""),
            options = opts))
        }.toMap
      case _ => Map.empty
    }

  private def parseStage(name: String, m: Map[String, Object]): StageSpec = {
    val c = new Fields(s"pype '$name'", m)
    def str(k: String, d: String) = c.get(k).map(_.toString).getOrElse(d)
    def strs(k: String): Seq[String] = c.get(k) match {
      case Some(l: ju.List[_]) =>
        l.asScala.toSeq.flatMap(x => Option(x)).map(_.toString)
      case Some(s) => Seq(s.toString)
      case None    => Nil
    }
    c.done(StageSpec(
      name = name,
      extractQuery = str("extract_query", ""),
      sources = parseSources(c),
      transformers = strs("transformers"),
      targetTable = str("target_table", ""),
      loadType = str("type", "upsert"),
      scd2Ts = str("scd2_ts", ""),
      key = if (m.contains("key")) strs("key") else Seq("id"),
      identifier = str("identifier", "id"),
      fieldsExcludedFromUpdate = strs("fields_excluded_from_update"),
      postQuery = str("post_query", ""),
      bulkSize = str("bulk_size", "2000").toInt,
      buckets = str("buckets", "0").toInt,
      compact = str("compact", "false").toBoolean,
      compactMaxFiles = str("compact_max_files", "1").toInt,
      retainVersions = str("retain_versions", "0").toInt,
      changeFeed = str("change_feed", ""),
      outboxKeep = str("outbox_keep", "0").toInt,
      minhashIndex = str("minhash_index", ""),
      minhashIndexText = str("minhash_index_text", "text"),
      lshIndex = str("lsh_index", ""),
      lshIndexVec = str("lsh_index_vec", "embedding"),
      semanticIndex = str("semantic_index", ""),
      semanticIndexVec = str("semantic_index_vec", "embedding"),
      profileTable = str("profile", ""),
      profileColumn = str("profile_column", ""),
      profileLo = str("profile_lo", "0").toDouble,
      profileHi = str("profile_hi", "0").toDouble,
      profileBins = str("profile_bins", "64").toInt,
      profileMaxPsi = str("profile_max_psi", "0").toDouble,
      kllProfileTable = str("kll_profile", ""),
      kllProfileColumn = str("kll_profile_column", ""),
      kllProfileK = str("kll_profile_k", "200").toInt,
      kllProfileMaxKs = str("kll_profile_max_ks", "0").toDouble,
      exemplarProfileTable = str("exemplar_profile", ""),
      exemplarKey = str("exemplar_key", ""),
      exemplarK = str("exemplar_k", "20").toInt,
      deleteWhere = str("delete_where", ""),
      subscribeFeed = str("subscribe_feed", ""),
      consumerName = str("consumer_name", ""),
      debug = str("debug", "false").toBoolean))
  }
}
