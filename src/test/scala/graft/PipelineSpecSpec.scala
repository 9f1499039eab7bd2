package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineSpec

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
    assert(PipelineSpec.fromYaml(y).stages("s").changeFeed == "tgt_changes")
    assert(PipelineSpec.fromYaml(yaml).stages("stage_a").changeFeed == "")
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

  test("empty yaml is rejected") {
    intercept[IllegalArgumentException] { PipelineSpec.fromYaml("") }
  }
}
