package graft.config

import java.{util => ju}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

import graft.core.Derived
import graft.core.Derived._

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
                              // bucket dirs to one file in the load's
                              // own commit
    compactMaxFiles: Int = 1, // compact buckets exceeding this many data
                              // files (the LSM threshold: higher = less
                              // write amplification, more small files)
    retainVersions: Int = 0, // bucketed targets only: snapshot retention
                             // persisted into the layout at creation (0 =
                             // layout default of 1); readers pin a retained
                             // snapshot via a `bucketed` source's `version`
    derived: Seq[Derived] = Nil, // the tables each load keeps in step
                                 // with the target (change_feed:,
                                 // *_index:, profile:, kll_profile:,
                                 // exemplar_profile: and their tuning
                                 // keys — graft.core.Derived), table
                                 // names as written: Runner resolves them
    deleteWhere: String = "", // predicate purge on the TARGET (row-level
                              // TTL / GDPR erasure): every target row
                              // matching this SQL boolean is removed —
                              // in the load's own commit on a bucketed
                              // target, by a second write on a flat one
                              // (Derived.Load; placeholders hydrate)
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

  /** A derived table key and the tuning keys of its [[Derived]] case:
    * the case is built from the table name at its own defaults, then
    * each tuning key present sets one field. `role` says what the
    * tuning keys configure, for the refusal of one without its table. */
  private final class Artifact[D <: Derived](val table: String,
      val role: String, build: String => D, knobs: (String, (D, String) => D)*) {
    def keys: Seq[String] = knobs.map(_._1)
    def parse(tableName: String, get: String => Option[String]): D =
      knobs.foldLeft(build(tableName)) { case (d, (k, set)) =>
        get(k).fold(d)(set(d, _)) }
  }

  private val artifacts: Seq[Artifact[_ <: Derived]] = Seq(
    new Artifact[ChangeFeed]("change_feed", "bounds a change_feed outbox",
      ChangeFeed(_), ("outbox_keep", (d, v) => d.copy(outboxKeep = v.toInt))),
    new Artifact[MinhashIndex]("minhash_index", "tunes the MinHash postings",
      MinhashIndex(_), ("minhash_index_text", (d, v) => d.copy(textCol = v))),
    new Artifact[LshIndex]("lsh_index", "tunes the LSH postings",
      LshIndex(_), ("lsh_index_vec", (d, v) => d.copy(vecCol = v))),
    new Artifact[SemanticIndex]("semantic_index", "tunes the cell postings",
      SemanticIndex(_), ("semantic_index_vec", (d, v) => d.copy(vecCol = v))),
    new Artifact[Profile]("profile", "configures the stored profile",
      Profile(_),
      ("profile_column", (d, v) => d.copy(column = v)),
      ("profile_lo", (d, v) => d.copy(lo = v.toDouble)),
      ("profile_hi", (d, v) => d.copy(hi = v.toDouble)),
      ("profile_bins", (d, v) => d.copy(nbins = v.toInt)),
      ("profile_max_psi", (d, v) => d.copy(maxPsi = v.toDouble))),
    new Artifact[KllProfile]("kll_profile", "configures the stored sketch",
      KllProfile(_),
      ("kll_profile_column", (d, v) => d.copy(column = v)),
      ("kll_profile_k", (d, v) => d.copy(k = v.toInt)),
      ("kll_profile_max_ks", (d, v) => d.copy(maxKs = v.toDouble))),
    new Artifact[ExemplarProfile]("exemplar_profile",
      "configures the stored sample", ExemplarProfile(_),
      ("exemplar_key", (d, v) => d.copy(keyCol = v)),
      ("exemplar_k", (d, v) => d.copy(k = v.toInt))))

  /** The stage's derived cases. A tuning key whose table key is absent
    * refuses, naming both (the orphan rule). */
  private def parseDerived(name: String, get: String => Option[String]): Seq[Derived] =
    artifacts.flatMap { a =>
      val table = get(a.table)
      for (k <- a.keys.find(get(_).nonEmpty) if table.isEmpty)
        throw new IllegalArgumentException(s"pype '$name': $k needs " +
          s"${a.table}: ($k ${a.role}) — set ${a.table}, or drop $k")
      table.map(a.parse(_, get))
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
    // a key counts when its value is non-empty
    val get = (k: String) => c.get(k).map(_.toString).filter(_.nonEmpty)
    // the consumer rule, before the orphan rule: a stray outbox_keep on
    // a consumer must not be steered toward setting a change_feed there
    if (get("subscribe_feed").nonEmpty) {
      require(get("target_table").nonEmpty,
        s"pype '$name': subscribe_feed needs a target_table (the replica)")
      val producer = (Seq("extract_query", "transformers", "sources") ++
        artifacts.flatMap(a => a.table +: a.keys) ++
        Seq("delete_where", "scd2_ts")).filter(get(_).nonEmpty)
      require(producer.isEmpty,
        s"pype '$name': subscribe_feed cannot combine with " +
          s"${producer.mkString(", ")} — a consumer stage's input is its " +
          "outbox; extracts, transforms and derived feeds/indexes/purges " +
          "belong to a producer stage (point one at the replica as its " +
          "target if needed)")
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
      derived = parseDerived(name, get),
      deleteWhere = str("delete_where", ""),
      subscribeFeed = str("subscribe_feed", ""),
      consumerName = str("consumer_name", ""),
      debug = str("debug", "false").toBoolean))
  }
}
