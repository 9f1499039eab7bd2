package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineSpec
import graft.core.{Derived, Runner}
import graft.core.Derived._
import graft.streaming.Streams

/** Every derived-artifact refusal of the one shared load path, raised
  * from a YAML stage (`Runner.load`) and, where the stream can express
  * the configuration, from `Streams.streamingMerge(derived = …)` (at
  * construction; the test titles call it by its former name,
  * `streamingStage`, so each row keeps its test id). Each row's needle
  * is a phrase only the shared rule produces. Where the stream refuses
  * the same configuration by an earlier rule of its own, the stream
  * side asserts that rule (`streamNeedle`). Each row must refuse BEFORE
  * any write — the whole target root (target, feeds, indexes, profiles)
  * is listed before and after and must not change. */
class DerivedSpec extends AnyFunSuite with SparkTestBase {

  import DerivedSpec.Row
  import spark.implicits._

  // the stream side of a row: a deterministic scd2 timestamp, as the
  // YAML side's scd2_ts, so an scd2 row reaches the shared rule
  private def streamed(
      derived: String => Derived, key: Seq[String] = Seq("id"),
      loadType: String = "upsert", numBuckets: Int = 64,
      retainVersions: Int = 2) =
    Some((s: DataFrame, target: String, at: String => String) =>
      Streams.streamingMerge(s, target, key, loadType,
        numBuckets = numBuckets, retainVersions = retainVersions,
        derived = Seq(derived(at("bad"))),
        scd2TsOf = _ => "2024-01-01 00:00:00"))

  private val scd2 = Seq("type: scd2", "scd2_ts: \"2024-01-01 00:00:00\"")

  private val rows = Seq(
    // a bucketed target
    Row("minhash_index on a flat target",
      "streamingMergeWithIndex(numBuckets = 0), moved to an absent target",
      "bucketed target", Seq("minhash_index: bad"),
      streamed(MinhashIndex(_), numBuckets = 0)),
    Row("lsh_index on a flat target", "none", "bucketed target",
      Seq("lsh_index: bad"), streamed(LshIndex(_), numBuckets = 0)),
    Row("semantic_index on a flat target", "none", "bucketed target",
      Seq("semantic_index: bad"), streamed(SemanticIndex(_), numBuckets = 0)),
    Row("change_feed on a flat target", "none", "bucketed target",
      Seq("change_feed: bad"), streamed(ChangeFeed(_), numBuckets = 0)),
    Row("profile on a flat target",
      "streamingMergeWithProfile(numBuckets = 0), moved to an absent target",
      "bucketed target",
      Seq("profile: bad", "profile_column: v", "profile_hi: 100"),
      streamed(Profile(_, "v", 0, 100), numBuckets = 0)),
    Row("kll_profile on a flat target",
      "streamingMergeWithKllProfile(numBuckets = 0), moved to an absent target",
      "bucketed target", Seq("kll_profile: bad", "kll_profile_column: v"),
      streamed(KllProfile(_, "v"), numBuckets = 0)),
    Row("exemplar_profile on a flat target",
      "streamingMergeWithExemplarProfile(numBuckets = 0), moved to an " +
        "absent target",
      "bucketed target", Seq("exemplar_profile: bad", "exemplar_key: id"),
      streamed(ExemplarProfile(_, "id"), numBuckets = 0)),
    // retention >= commits per load + 1 for the version-diffing cases
    Row("minhash_index below retention 2",
      "streamingMergeWithIndex(retainVersions = 1)", "retain_versions >= 2",
      Seq("retain_versions: 1", "minhash_index: bad"),
      streamed(MinhashIndex(_), retainVersions = 1), existing = true),
    Row("lsh_index below retention 2",
      "streamingMergeWithLshIndex(retainVersions = 1)", "retain_versions >= 2",
      Seq("retain_versions: 1", "lsh_index: bad"),
      streamed(LshIndex(_), retainVersions = 1), existing = true),
    Row("change_feed below retention 2", "none", "retain_versions >= 2",
      Seq("buckets: 4", "change_feed: bad"),
      streamed(ChangeFeed(_), numBuckets = 4, retainVersions = 1)),
    // a single-column key for the postings indexes
    Row("minhash_index on a composite key",
      "streamingMergeWithIndex(key = Seq(\"doc_id\", \"text\"))",
      "single-column key (postings",
      Seq("key: [id, text]", "retain_versions: 2", "minhash_index: bad"),
      streamed(MinhashIndex(_), key = Seq("id", "text")), existing = true),
    Row("lsh_index on a composite key",
      "streamingMergeWithLshIndex(key = Seq(\"vec_id\", \"embedding\"))",
      "single-column key (postings",
      Seq("key: [id, text]", "retain_versions: 2", "lsh_index: bad"),
      streamed(LshIndex(_), key = Seq("id", "text")), existing = true),
    // no scd2 for indexes and profiles
    Row("minhash_index over scd2", "none", "mix closed history",
      scd2 ++ Seq("retain_versions: 2", "minhash_index: bad"),
      streamed(MinhashIndex(_), loadType = "scd2"), existing = true),
    Row("profile over scd2",
      "streamingMergeWithProfile(loadType = \"scd2\")", "mix closed history",
      scd2 ++ Seq("profile: bad", "profile_column: v", "profile_hi: 100"),
      streamed(Profile(_, "v", 0, 100), loadType = "scd2"), existing = true),
    Row("kll_profile over scd2",
      "streamingMergeWithKllProfile(loadType = \"scd2\")", "mix closed history",
      scd2 ++ Seq("kll_profile: bad", "kll_profile_column: v"),
      streamed(KllProfile(_, "v"), loadType = "scd2"), existing = true),
    Row("exemplar_profile over scd2",
      "streamingMergeWithExemplarProfile(loadType = \"scd2\")",
      "mix closed history",
      scd2 ++ Seq("exemplar_profile: bad", "exemplar_key: id"),
      streamed(ExemplarProfile(_, "id"), loadType = "scd2"), existing = true),
    // each family's parameter ranges
    Row("profile with hi <= lo",
      "streamingMergeWithProfile(lo = 100, hi = 100)",
      "profile_hi > profile_lo",
      Seq("profile: bad", "profile_column: v", "profile_lo: 100",
        "profile_hi: 100"),
      streamed(Profile(_, "v", 100, 100)), existing = true),
    Row("profile with zero bins", "streamingMergeWithProfile(nbins = 0)",
      "profile_bins",
      Seq("profile: bad", "profile_column: v", "profile_hi: 100",
        "profile_bins: 0"),
      streamed(Profile(_, "v", 0, 100, nbins = 0)), existing = true),
    Row("profile with a negative PSI bound", "none",
      "profile_max_psi must be >= 0",
      Seq("profile: bad", "profile_column: v", "profile_hi: 100",
        "profile_max_psi: -1"),
      streamed(Profile(_, "v", 0, 100, maxPsi = -1.0)), existing = true),
    Row("kll_profile with k out of range",
      "streamingMergeWithKllProfile(k = 4)", "[8, 65535]",
      Seq("kll_profile: bad", "kll_profile_column: v", "kll_profile_k: 4"),
      streamed(KllProfile(_, "v", k = 4)), existing = true),
    Row("kll_profile with a KS bound above 1", "none", "[0, 1]",
      Seq("kll_profile: bad", "kll_profile_column: v",
        "kll_profile_max_ks: 1.5"),
      streamed(KllProfile(_, "v", maxKs = 1.5)), existing = true),
    Row("exemplar_profile with k out of range",
      "streamingMergeWithExemplarProfile(k = 0)", "[1, 100000]",
      Seq("exemplar_profile: bad", "exemplar_key: id", "exemplar_k: 0"),
      streamed(ExemplarProfile(_, "id", k = 0)), existing = true),
    // each guard's column-presence check
    Row("profile_max_psi on a column the batch lacks", "none",
      "does not produce",
      Seq("profile: bad", "profile_column: w", "profile_hi: 100",
        "profile_max_psi: 0.5"),
      streamed(Profile(_, "w", 0, 100, maxPsi = 0.5)), existing = true),
    Row("kll_profile_max_ks on a column the batch lacks", "none",
      "does not produce",
      Seq("kll_profile: bad", "kll_profile_column: w",
        "kll_profile_max_ks: 0.5"),
      streamed(KllProfile(_, "w", maxKs = 0.5)), existing = true),
    Row("exemplar_profile on a key the batch lacks", "none",
      "does not produce", Seq("exemplar_profile: bad", "exemplar_key: w"),
      streamed(ExemplarProfile(_, "w")), existing = true),
    // a guard or tuning key without its table
    Row("profile_max_psi without profile", "none",
      "profile_max_psi needs profile:", Seq("profile_max_psi: 0.5"), None),
    Row("kll_profile_max_ks without kll_profile", "none",
      "kll_profile_max_ks needs kll_profile:",
      Seq("kll_profile_max_ks: 0.5"), None),
    Row("exemplar_key without exemplar_profile", "none",
      "exemplar_key needs exemplar_profile:",
      Seq("buckets: 4", "exemplar_key: id"), None),
    // the outbox_keep rules
    Row("outbox_keep without change_feed", "none",
      "outbox_keep bounds a change_feed", Seq("buckets: 4", "outbox_keep: 2"),
      None),
    // a bucketed load resolves its purge predicate before the write
    // (a stream has no delete_where: no stream side)
    Row("delete_where on a column the target lacks", "none",
      "does not resolve against the target's columns",
      Seq("buckets: 4", "delete_where: \"w > 1\""), None),
    Row("delete_where on a column an existing target lacks", "none",
      "does not resolve against the target's columns",
      Seq("compact: true", "delete_where: \"w > 1\""), None, existing = true),
    // streamingMerge refuses every composite-key delete stream first
    Row("outbox_keep on a composite key that can emit deletes", "none",
      "rebase fold",
      Seq("type: delete", "key: [id, text]", "buckets: 4",
        "retain_versions: 2", "change_feed: bad", "outbox_keep: 2"),
      streamed(ChangeFeed(_, outboxKeep = 2), key = Seq("id", "text"),
        loadType = "delete", numBuckets = 4),
      streamNeedle = "delete streams key on exactly ONE identifier column"))

  private def listing(root: Path): Seq[(String, Long)] =
    Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString -> p.toFile.length())
      .toSeq.sorted

  rows.foreach { row =>
    test(s"refused before any write, from YAML and streamingStage: " +
      s"${row.refusal} (replaces: ${row.replaces})") {
      Seq((1L, "alpha beta", 10.0), (2L, "gamma delta", 20.0))
        .toDF("id", "text", "v").createOrReplaceTempView("refusal_src")
      val root = Files.createTempDirectory("graft-refusal")
      val target = s"$root/tgt"
      if (row.existing)
        graft.sink.BucketedMergeSink.merge(spark, spark.table("refusal_src"),
          target, "upsert", Seq("id"), numBuckets = 4, retainVersions = 2)
      val before = listing(root)
      val yaml =
        s"""pypelines:
           |  p: [bad]
           |pypes:
           |  bad:
           |    extract_query: "SELECT id, text, v FROM refusal_src"
           |    target_table: tgt
           |${row.stanza.map("    " + _).mkString("\n")}
           |""".stripMargin
      val e = intercept[IllegalArgumentException](
        new Runner(spark, PipelineSpec.fromYaml(yaml), Map.empty, root.toString)
          .run("p"))
      assert(e.getMessage.contains(row.needle), e.getMessage)
      assert(listing(root) == before, "the YAML refusal must land before any write")
      row.stream.foreach { build =>
        val src = Files.createTempDirectory("graft-refusal-src").toString
        val stream = spark.readStream
          .schema("id LONG, text STRING, v DOUBLE").parquet(src)
        val se = intercept[IllegalArgumentException](
          build(stream, target, name => s"$root/$name"))
        val needle = if (row.streamNeedle.nonEmpty) row.streamNeedle else row.needle
        assert(se.getMessage.contains(needle), se.getMessage)
        assert(listing(root) == before,
          "the stream refusal must land before any write")
      }
      if (!row.existing)
        assert(!Files.exists(java.nio.file.Paths.get(target)))
    }
  }

  test("outbox_keep: 1 under delete_where loads: the load publishes one " +
    "batch, so a consumer in the same pipeline replays the target") {
    val root = Files.createTempDirectory("graft-keep1").toString
    val yaml =
      s"""pypelines:
         |  p: [prod, cons]
         |pypes:
         |  prod:
         |    extract_query: "SELECT id, text, v FROM keep1_src"
         |    target_table: tgt
         |    buckets: 4
         |    retain_versions: 3
         |    change_feed: outbox
         |    delete_where: "v > 1000"
         |    outbox_keep: 1
         |  cons:
         |    subscribe_feed: outbox
         |    target_table: replica
         |    key: [id]
         |    buckets: 4
         |""".stripMargin
    val runner = new Runner(spark, PipelineSpec.fromYaml(yaml), Map.empty, root)
    Seq(Seq((1L, "alpha beta", 10.0), (2L, "gamma delta", 20.0)),
      Seq((2L, "gamma delta", 2000.0), (3L, "eps zeta", 30.0)),
      Seq((3L, "eps zeta", 31.0), (4L, "eta theta", 5000.0))).foreach { b =>
      b.toDF("id", "text", "v").createOrReplaceTempView("keep1_src")
      runner.run("p")
      def rows(t: String) = canon(graft.sink.BucketedMergeSink.read(spark, s"$root/$t"))
      assert(rows("replica") == rows("tgt"))
    }
    assert(canon(graft.sink.BucketedMergeSink.read(spark, s"$root/tgt").select("id")) ==
      Seq(Seq("1"), Seq("3")))
  }
}

object DerivedSpec {

  /** One refusal. `stanza` holds the YAML stage's keys besides its
    * extract and target; `stream` builds the same load through
    * `streamingMerge(stream, target, …)` — None where a stream cannot
    * express the misconfiguration (a knob of an artifact the typed list
    * does not declare is a field of that very case; a stream's one
    * version per load never outgrows an outbox_keep window).
    * `streamNeedle`, when set, names the rule `streamingMerge` refuses
    * the configuration by before the shared one. `existing` runs the
    * row against a bucketed layout that already exists (key id, 4
    * buckets, retention 2) instead of an absent target. `replaces`
    * names the per-artifact stream intercept the row took over from
    * StreamsSpec. */
  final case class Row(
      refusal: String,
      replaces: String,
      needle: String,
      stanza: Seq[String],
      stream: Option[(DataFrame, String, String => String) => Any],
      existing: Boolean = false,
      streamNeedle: String = "")
}
