package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineSpec
import graft.core.Derived
import graft.core.Derived._

/** YAML registry parsing + eager validation (reference:
  * Pypeline.py:15-19,37-50; the unknown-pype check at Pypeline.py:43 is
  * buggy in the reference — escapes as a bare KeyError — and fixed here). */
class PipelineSpecSpec extends AnyFunSuite {

  private val yaml =
    """pypelines:
      |  daily: [stage_a, stage_b]
      |  broken: [nope]
      |pypes:
      |  stage_a:
      |    extract_query: "SELECT * FROM src WHERE d < '{cutoff}'"
      |    target_table: tgt
      |    type: upsert
      |    key: [id, region]
      |    fields_excluded_from_update: [created_at]
      |    post_query: "SELECT 1"
      |    bulk_size: 500
      |    debug: true
      |  stage_b:
      |    extract_query: "SELECT id FROM tgt"
      |    target_table: tgt2
      |    type: delete
      |    identifier: id
      |""".stripMargin

  test("parses stages with explicit fields") {
    val spec = PipelineSpec.fromYaml(yaml)
    val a = spec.stages("stage_a")
    assert(a.extractQuery.contains("{cutoff}"))
    assert(a.targetTable == "tgt")
    assert(a.loadType == "upsert")
    assert(a.key == Seq("id", "region"))
    assert(a.fieldsExcludedFromUpdate == Seq("created_at"))
    assert(a.postQuery == "SELECT 1")
    assert(a.bulkSize == 500)
    assert(a.debug)
  }

  test("parses retain_versions (default 0 = the layout's own window) and " +
    "compact_max_files (default 1)") {
    val y =
      """pypes:
        |  s:
        |    extract_query: "SELECT 1"
        |    buckets: 8
        |    retain_versions: 3
        |    compact_max_files: 4
        |""".stripMargin
    assert(PipelineSpec.fromYaml(y).stages("s").retainVersions == 3)
    assert(PipelineSpec.fromYaml(y).stages("s").compactMaxFiles == 4)
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").retainVersions == 0)
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").compactMaxFiles == 1)
  }

  test("parses change_feed (default empty = no CDC outbox)") {
    val y =
      """pypes:
        |  s:
        |    extract_query: "SELECT 1"
        |    buckets: 8
        |    retain_versions: 2
        |    change_feed: tgt_changes
        |""".stripMargin
    assert(PipelineSpec.fromYaml(y).stages("s").derived ==
      Seq(Derived.ChangeFeed("tgt_changes")))
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").derived.isEmpty)
  }

  test("parses scd2 load type with scd2_ts (default empty)") {
    val y =
      """pypes:
        |  s:
        |    extract_query: "SELECT 1"
        |    type: scd2
        |    scd2_ts: "2024-06-01 00:00:00"
        |""".stripMargin
    assert(PipelineSpec.fromYaml(y).stages("s").loadType == "scd2")
    assert(PipelineSpec.fromYaml(y).stages("s").scd2Ts == "2024-06-01 00:00:00")
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").scd2Ts == "")
  }

  test("applies reference defaults when fields are omitted") {
    val b = PipelineSpec.fromYaml(yaml).stages("stage_b")
    assert(b.loadType == "delete")
    assert(b.key == Seq("id"))          // Pype.py:117 hardcodes id
    assert(b.identifier == "id")        // Pype.py:83
    assert(b.fieldsExcludedFromUpdate.isEmpty)
    assert(b.postQuery.isEmpty)
    assert(b.bulkSize == 2000)          // Pype.py:16
    assert(!b.debug)
  }

  test("resolve returns stages in declared order") {
    val spec = PipelineSpec.fromYaml(yaml)
    assert(spec.resolve("daily").map(_.name) == Seq("stage_a", "stage_b"))
  }

  test("unknown pipeline raises with a clear message") {
    val e = intercept[IllegalArgumentException] {
      PipelineSpec.fromYaml(yaml).resolve("nope_pipeline")
    }
    assert(e.getMessage.contains("pypeline is not defined"))
  }

  test("unknown stage raises with a clear message (reference bug fixed)") {
    // the reference's check (Pypeline.py:43) tests membership against the
    // wrong collection and lets a bare KeyError escape
    val e = intercept[IllegalArgumentException] {
      PipelineSpec.fromYaml(yaml).resolve("broken")
    }
    assert(e.getMessage.contains("pype is not defined"))
  }

  test("scalar key parses as a single-element list") {
    val spec = PipelineSpec.fromYaml(
      """pypes:
        |  s:
        |    extract_query: "SELECT 1"
        |    key: id
        |""".stripMargin)
    assert(spec.stages("s").key == Seq("id"))
  }

  test("an unknown stage or source key refuses at parse time, naming " +
    "the stage and the key") {
    val e = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
      """pypes:
        |  s:
        |    extract_query: "SELECT 1"
        |    change_feed: out
        |    outbox_kep: 3
        |""".stripMargin))
    assert(e.getMessage.contains("pype 's'") &&
      e.getMessage.contains("outbox_kep"), e.getMessage)
    val es = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
      """pypes:
        |  s:
        |    sources:
        |      v: {format: csv, path: /x, optons: {header: "true"}}
        |    extract_query: "SELECT 1"
        |""".stripMargin))
    assert(es.getMessage.contains("source 'v'") &&
      es.getMessage.contains("optons"), es.getMessage)
    // every key the parser reads stays accepted, the reference-parity
    // bulk_size and debug included (stage_a above sets both)
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").bulkSize == 500)
  }

  private def stage(keys: String*) = PipelineSpec.fromYaml(
    ("pypes:" +: "  s:" +: "    extract_query: \"SELECT 1\"" +:
      keys.map("    " + _)).mkString("\n")).stages("s")

  // each derived table key with its tuning keys, one sample value each
  private val tuning = Seq(
    "change_feed" -> Seq("outbox_keep: 3"),
    "minhash_index" -> Seq("minhash_index_text: body"),
    "lsh_index" -> Seq("lsh_index_vec: v"),
    "semantic_index" -> Seq("semantic_index_vec: v"),
    "profile" -> Seq("profile_column: n", "profile_lo: 1", "profile_hi: 9",
      "profile_bins: 16", "profile_max_psi: 0.5"),
    "kll_profile" -> Seq("kll_profile_column: n", "kll_profile_k: 100",
      "kll_profile_max_ks: 0.25"),
    "exemplar_profile" -> Seq("exemplar_key: id", "exemplar_k: 5"))

  test("each derived table key parses into its Derived case, at the " +
    "case's own defaults when no tuning key is set") {
    val defaults = Seq[Derived](ChangeFeed("t"), MinhashIndex("t"),
      LshIndex("t"), SemanticIndex("t"), Profile("t"), KllProfile("t"),
      ExemplarProfile("t"))
    tuning.map(_._1).zip(defaults).foreach { case (table, expected) =>
      assert(stage(s"$table: t").derived == Seq(expected), table)
    }
    assert(MinhashIndex("t").textCol == "text")
    assert(LshIndex("t").vecCol == "embedding")
    assert(Profile("t").nbins == 64)
    assert(KllProfile("t").k == graft.functions.KllSketch.DefaultK)
    assert(ExemplarProfile("t").k == 20)
    // every tuning key sets its field; cases come in the fixed order of
    // the seven table keys
    val all = stage(tuning.flatMap { case (t, ks) => s"$t: ${t}_tbl" +: ks }: _*)
    assert(all.derived == Seq(ChangeFeed("change_feed_tbl", 3),
      MinhashIndex("minhash_index_tbl", textCol = "body"),
      LshIndex("lsh_index_tbl", vecCol = "v"),
      SemanticIndex("semantic_index_tbl", vecCol = "v"),
      Profile("profile_tbl", "n", 1.0, 9.0, 16, 0.5),
      KllProfile("kll_profile_tbl", "n", 100, 0.25),
      ExemplarProfile("exemplar_profile_tbl", "id", 5)))
  }

  test("a tuning key without its table key refuses at parse time, naming " +
    "both keys") {
    for ((table, keys) <- tuning; key <- keys) {
      val e = intercept[IllegalArgumentException](stage("buckets: 4", key))
      val knob = key.takeWhile(_ != ':')
      assert(e.getMessage.contains(s"pype 's': $knob needs $table:"),
        e.getMessage)
    }
  }

  test("a subscribe_feed stage refuses every producer key with the " +
    "consumer-stage message") {
    val producer = Seq("extract_query: \"SELECT 1\"", "transformers: [a.B]",
      "sources: {v: {format: csv, path: /x}}") ++
      tuning.flatMap { case (t, ks) => s"$t: x" +: ks } ++
      Seq("delete_where: \"v > 0\"", "scd2_ts: \"2024-01-01 00:00:00\"")
    producer.foreach { key =>
      val e = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
        s"""pypes:
           |  c:
           |    subscribe_feed: outbox
           |    target_table: replica
           |    $key
           |""".stripMargin))
      assert(e.getMessage.contains("subscribe_feed cannot combine with " +
        key.takeWhile(_ != ':')) && e.getMessage.contains("consumer stage"),
        e.getMessage)
    }
    // the consumer's own keys still parse
    val c = PipelineSpec.fromYaml(
      """pypes:
        |  c:
        |    subscribe_feed: outbox
        |    consumer_name: replica_main
        |    target_table: replica
        |    key: [id]
        |    buckets: 4
        |    compact: true
        |""".stripMargin).stages("c")
    assert(c.subscribeFeed == "outbox" && c.derived.isEmpty)
  }

  test("a cdc_ingest-style producer and consumer pair parses") {
    val spec = PipelineSpec.fromYaml(
      """pypelines:
        |  ingest: [producer, consumer]
        |pypes:
        |  producer:
        |    sources:
        |      changes: {format: parquet, path: "/x"}
        |    extract_query: "SELECT doc_id, text, n_chars, epoch FROM changes"
        |    target_table: docs
        |    type: upsert
        |    key: [doc_id]
        |    buckets: 4
        |    retain_versions: 4
        |    change_feed: docs_outbox
        |    outbox_keep: 3
        |    minhash_index: docs_minhash
        |    kll_profile: docs_kll
        |    kll_profile_column: n_chars
        |    kll_profile_max_ks: 0.3
        |    delete_where: "epoch < {ttl_epoch}"
        |    compact: true
        |  consumer:
        |    subscribe_feed: docs_outbox
        |    consumer_name: replica
        |    target_table: docs_replica
        |    key: [doc_id]
        |    buckets: 4
        |""".stripMargin)
    val p = spec.stages("producer")
    assert(p.derived == Seq(ChangeFeed("docs_outbox", 3),
      MinhashIndex("docs_minhash"),
      KllProfile("docs_kll", "n_chars", maxKs = 0.3)))
    assert(p.deleteWhere == "epoch < {ttl_epoch}" && p.compact)
    assert(spec.stages("consumer").consumerName == "replica")
  }

  test("empty yaml is rejected") {
    intercept[IllegalArgumentException] { PipelineSpec.fromYaml("") }
  }
}
