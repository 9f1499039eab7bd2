package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Derived
import graft.sink.{BucketedMergeSink, MergeSink}

/** Bucket-partitioned merge targets with manifest commits: identical
  * semantics to the flat [[MergeSink]] path, but a batch reads and
  * rewrites ONLY the buckets it touches, and becomes visible
  * all-or-nothing at the manifest commit — both claims pinned here by
  * directory listings, manifest diffs, and a simulated crash, not just
  * by results. */
class BucketedMergeSinkSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def tmpTarget(): String =
    Files.createTempDirectory("graft-bms").toString + "/t"

  /** Every data file of a bucket's LIVE dirs (its chain's base and
    * deltas) as commit/name -> (size, mtime). */
  private def bucketState(path: String, bucket: Int): Map[String, (Long, Long)] =
    BucketedMergeSink.bucketDataDirs(spark, path, bucket).flatMap { d =>
      val dir = new File(d)
      dir.listFiles().filter(_.isFile).map(f =>
        s"${dir.getParentFile.getName}/${f.getName}" -> (f.length(), f.lastModified()))
    }.toMap

  private def seed(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"name$i", i * 10L)).toDF("id", "name", "v")

  /** Snapshot a frame into a source-independent local DataFrame — for
    * comparing across commits whose GC deletes the dirs a lazy read of
    * the old state resolved to. */
  private def localized(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  test("read resolves meta, buckets and dirs from ONE manifest read: a " +
    "merge committed right as the reader opens the manifest leaves it " +
    "with exactly one version's rows") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(3), path, "upsert", Seq("id"),
      numBuckets = 8, retainVersions = 2)
    // the racing merge updates key 1 and inserts a key hashing to a
    // bucket the target leaves empty
    val used = BucketedMergeSink.manifest(spark, path).keySet
    val fresh = (4L to 200L).toDF("id")
      .select(col("id"), BucketedMergeSink.bucketExpr(Seq("id"), 8).as("b"))
      .as[(Long, Int)].collect().find(r => !used(r._2)).get._1
    val racing = Seq((1L, "name1b", 11L), (fresh, "fresh", 0L))
      .toDF("id", "name", "v")
    def rows(df: DataFrame) = df.as[(Long, String, Long)].collect().toSet
    val before = rows(BucketedMergeSink.read(spark, path))
    HookedFileSystem.register(spark.sparkContext.hadoopConfiguration)
    var fired = false
    HookedFileSystem.onceBeforeOpen(p =>
      p.getParent.getName == "_graft_manifest" && p.getName.startsWith("v")) {
      BucketedMergeSink.merge(spark, racing, path, "upsert", Seq("id"))
      fired = true
    }
    val got =
      try rows(BucketedMergeSink.read(spark, HookedFileSystem.path(path)))
      finally HookedFileSystem.clear()
    assert(fired, "the racing merge must run inside the read")
    val after = rows(BucketedMergeSink.read(spark, path))
    assert(after != before && after.exists(_._1 == fresh))
    assert(got == before || got == after,
      s"read returned a state no version held: $got")
  }

  test("upsert/update/delete match the flat MergeSink semantics exactly") {
    val path = tmpTarget()
    val target = seed(50)
    val batch = Seq((10L, "TEN", 1000L), (999L, "new", 1L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, target, path, "upsert", Seq("id"), numBuckets = 8)
    BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"),
      excluded = Seq("v"))
    val afterUpsert = MergeSink.upsert(target, batch, Seq("id"), excluded = Seq("v"))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id"),
      afterUpsert.orderBy("id"))

    val upd = Seq((999L, "NEW", 2L), (777L, "ghost", 3L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, upd, path, "update", Seq("id"))
    val afterUpdate = MergeSink.update(afterUpsert, upd, Seq("id"))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id"),
      afterUpdate.orderBy("id"))

    val dels = Seq(10L, 11L, 12L, 404L).toDF("id")
    BucketedMergeSink.merge(spark, dels, path, "delete", identifier = "id")
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id"),
      MergeSink.delete(afterUpdate, dels, "id").orderBy("id"))
  }

  test("scd2 matches the flat MergeSink semantics and rewrites only the " +
    "touched buckets (history rides along in its key's bucket)") {
    val path = tmpTarget()
    val n = 4
    val target = seed(50)
    // bootstrap establishes the layout WITH the sink-managed columns
    BucketedMergeSink.merge(spark, target, path, "scd2", Seq("id"),
      numBuckets = n, scd2Ts = "2024-01-01 00:00:00")
    val boot = MergeSink.openVersions(target, Seq("id"),
      to_timestamp(lit("2024-01-01 00:00:00")))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id", "valid_from"),
      boot.orderBy("id", "valid_from"))
    // one changed key + one new key: close/reopen/insert, flat-identical
    val before = (0 until n).map(b => b -> bucketState(path, b)).toMap
    val batch = Seq((10L, "TEN", 1000L), (999L, "new", 1L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, batch, path, "scd2", Seq("id"),
      scd2Ts = "2024-06-01 00:00:00")
    val expected = MergeSink.scd2(boot, batch,
      to_timestamp(lit("2024-06-01 00:00:00")), Seq("id"))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id", "valid_from"),
      expected.orderBy("id", "valid_from"))
    // closed + reopened versions hash to the SAME bucket as their key,
    // so only the two touched buckets moved
    val touched = Seq(10L, 999L).toDF("id")
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n))
      .collect().map(_.getInt(0)).toSet
    for (b <- 0 until n if !touched(b))
      assert(bucketState(path, b) == before(b), s"untouched bucket $b rewritten")
    // a missing scd2_ts refuses before any write
    intercept[IllegalArgumentException] {
      BucketedMergeSink.merge(spark, batch, path, "scd2", Seq("id"))
    }
  }

  test("a single-key batch rewrites exactly ONE bucket (manifest + files)") {
    val path = tmpTarget()
    val n = 4
    BucketedMergeSink.merge(spark, seed(100), path, "upsert", Seq("id"), numBuckets = n)
    val before = (0 until n).map(b => b -> bucketState(path, b)).toMap
    val manBefore = BucketedMergeSink.manifest(spark, path)
    assert(before.values.forall(_.nonEmpty), "seed should populate all 4 buckets")

    val oneKey = Seq((42L, "FORTY-TWO", 0L)).toDF("id", "name", "v")
    val hit = oneKey
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n)).as[Int].head()
    BucketedMergeSink.merge(spark, oneKey, path, "upsert", Seq("id"))

    val after = (0 until n).map(b => b -> bucketState(path, b)).toMap
    val manAfter = BucketedMergeSink.manifest(spark, path)
    (0 until n).filterNot(_ == hit).foreach { b =>
      assert(manAfter(b) == manBefore(b), s"untouched bucket $b was remapped")
      assert(after(b) == before(b),
        s"untouched bucket $b was rewritten (files/mtimes changed)")
    }
    assert(manAfter(hit) != manBefore(hit), s"touched bucket $hit should move commits")
    // and the merge actually landed
    assert(BucketedMergeSink.read(spark, path)
      .filter(col("id") === 42L).select("name").as[String].head() == "FORTY-TWO")
  }

  test("bucket reads are PATH-pruned: only the requested buckets' dirs are scanned") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(100), path, "upsert", Seq("id"), numBuckets = 8)
    val sliced = BucketedMergeSink.readBuckets(spark, path, Seq(3))
    val files = sliced.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"${BucketedMergeSink.bucketCol}=3")),
      s"slice read files outside bucket 3: ${files.mkString(", ")}")
    // the rows really are bucket 3's
    val got = sliced.select("id").as[Long].collect().toSet
    val expect = seed(100)
      .withColumn("b", BucketedMergeSink.bucketExpr(Seq("id"), 8))
      .filter(col("b") === 3).select("id").as[Long].collect().toSet
    assert(got == expect)
  }

  test("keyed read prunes to the buckets its keys hash to") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(100), path, "upsert", Seq("id"), numBuckets = 8)
    val keys = Seq(7L, 42L).toDF("id")
    val out = BucketedMergeSink.readForKeys(spark, path, keys)
    val wantBuckets = keys
      .select(BucketedMergeSink.bucketExpr(Seq("id"), 8).as("b"))
      .distinct().as[Int].collect().toSet
    val scanned = out.inputFiles.map { f =>
      val m = s"${BucketedMergeSink.bucketCol}=(\\d+)".r.findFirstMatchIn(f)
      m.get.group(1).toInt
    }.toSet
    assert(scanned == wantBuckets,
      s"keyed read scanned buckets $scanned, keys hash to $wantBuckets")
    // a point filter on top returns exactly the requested rows
    assert(out.filter(col("id").isin(7L, 42L)).count() == 2)
  }

  test("a delete that empties a bucket drops it from the manifest and GCs its dir") {
    val path = tmpTarget()
    val rows = seed(40)
    BucketedMergeSink.merge(spark, rows, path, "upsert", Seq("id"), numBuckets = 4)
    // delete every key in bucket 2
    val victims = rows
      .withColumn("b", BucketedMergeSink.bucketExpr(Seq("id"), 4))
      .filter(col("b") === 2).select("id")
    assert(victims.count() > 0)
    BucketedMergeSink.merge(spark, victims, path, "delete", identifier = "id")
    assert(!BucketedMergeSink.manifest(spark, path).contains(2),
      "emptied bucket should leave the manifest")
    assert(bucketState(path, 2).isEmpty)
    assert(BucketedMergeSink.read(spark, path).count() == 40 - victims.count())
  }

  test("a batch is invisible until its manifest commit, then fully visible " +
    "(crash between data write and commit = clean rollback)") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(20), path, "upsert", Seq("id"), numBuckets = 4)
    val before = canon(BucketedMergeSink.read(spark, path))
    val manBefore = BucketedMergeSink.manifest(spark, path)

    // simulate the crash window: a fully-written commit dir for a batch
    // (new id 99 -> some bucket) whose manifest commit never happened
    val meta = BucketedMergeSink.readMeta(spark, path)
    val orphan = new File(new File(path, "data"), "c-orphan-crash")
    Seq((99L, "GHOST", 0L)).toDF("id", "name", "v")
      .withColumn(BucketedMergeSink.bucketCol,
        BucketedMergeSink.bucketExpr(Seq("id"), meta.numBuckets))
      .write.partitionBy(BucketedMergeSink.bucketCol).parquet(orphan.getPath)
    assert(orphan.isDirectory)

    // readers see the OLD state — the orphan is not reachable through any
    // manifest version; nothing is half-visible
    assert(BucketedMergeSink.manifest(spark, path) == manBefore)
    assert(canon(BucketedMergeSink.read(spark, path)) == before)
    assert(!BucketedMergeSink.read(spark, path)
      .filter(col("id") === 99L).limit(1).collect().nonEmpty)

    // the next write GCs the crashed batch's orphan dir and lands normally
    BucketedMergeSink.merge(spark,
      Seq((21L, "new", 210L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    assert(!orphan.exists(), "next merge should GC the crashed batch's orphan dir")
    assert(BucketedMergeSink.read(spark, path).count() == 21)
  }

  test("visibility flips atomically on the manifest version file alone") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"), numBuckets = 2)
    // "."-files: local-fs .crc checksum siblings, not manifest versions
    def versions = new File(path, "_graft_manifest").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    val v1 = versions
    BucketedMergeSink.merge(spark,
      Seq((11L, "x", 110L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    val v2 = versions
    // exactly one current version file at rest; the name advanced
    assert(v1.length == 1 && v2.length == 1 && v1.head < v2.head)
    assert(BucketedMergeSink.read(spark, path).count() == 11)
  }

  test("shrinking retention trims superseded snapshots at the next commit; " +
    "a crash after commit but before GC self-heals on the next write") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"),
      numBuckets = 2, retainVersions = 3)
    BucketedMergeSink.merge(spark,
      Seq((11L, "x", 110L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    BucketedMergeSink.merge(spark,
      Seq((12L, "y", 120L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    assert(BucketedMergeSink.manifestVersions(spark, path).size == 3)
    // shrink the promise: takes effect at the NEXT commit
    BucketedMergeSink.setRetention(spark, path, 1)
    assert(BucketedMergeSink.manifestVersions(spark, path).size == 3,
      "setRetention alone must not delete anything")
    BucketedMergeSink.merge(spark,
      Seq((13L, "z", 130L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    val vs = BucketedMergeSink.manifestVersions(spark, path)
    assert(vs.size == 1, s"window must trim to 1 at the commit, got $vs")
    assert(BucketedMergeSink.read(spark, path).count() == 13)
    // crash-after-commit-before-GC: superseded commit dirs linger on
    // disk (simulated by planting an unreferenced commit dir, which is
    // exactly what such a crash leaves); the next write GCs it and the
    // target stays intact
    val orphan = new File(new File(path, "data"), "c-crashed-gc")
    Seq((99L, "GHOST", 0L)).toDF("id", "name", "v")
      .withColumn(BucketedMergeSink.bucketCol,
        BucketedMergeSink.bucketExpr(Seq("id"), 2))
      .write.partitionBy(BucketedMergeSink.bucketCol).parquet(orphan.getPath)
    BucketedMergeSink.merge(spark,
      Seq((14L, "w", 140L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    assert(!orphan.exists(), "next write must GC the crash leftover")
    assert(BucketedMergeSink.read(spark, path)
      .filter(col("id") === 99L).count() == 0)
    assert(BucketedMergeSink.read(spark, path).count() == 14)
  }

  test("retainVersions=2: the previous snapshot stays readable after a commit " +
    "(time travel), and retention rolls forward") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(20), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2)
    // retention is PERSISTED at creation — a later writer using the
    // DEFAULT parameter must inherit it, not truncate the window to 1
    // and delete snapshots readVersion callers were promised
    assert(BucketedMergeSink.retention(spark, path) == 2)
    val v1 = BucketedMergeSink.manifestVersions(spark, path).last
    BucketedMergeSink.merge(spark,
      Seq((21L, "x", 210L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    // both versions retained; v1 is the pre-batch snapshot, intact
    assert(BucketedMergeSink.manifestVersions(spark, path).size == 2)
    assert(BucketedMergeSink.readVersion(spark, path, v1).count() == 20)
    assert(BucketedMergeSink.read(spark, path).count() == 21)
    // third commit rolls the window: v1 drops out (file gone, its
    // exclusive dirs GC'd), v2 remains readable. An explicit MATCHING
    // retainVersions is accepted...
    BucketedMergeSink.merge(spark,
      Seq((22L, "y", 220L)).toDF("id", "name", "v"), path, "upsert", Seq("id"),
      retainVersions = 2)
    val vs = BucketedMergeSink.manifestVersions(spark, path)
    assert(vs.size == 2 && !vs.contains(v1))
    assert(BucketedMergeSink.readVersion(spark, path, vs.head).count() == 21)
    assert(BucketedMergeSink.read(spark, path).count() == 22)
    intercept[IllegalArgumentException] {
      BucketedMergeSink.readVersion(spark, path, v1)
    }
    // ...a CONFLICTING one refuses loudly instead of silently rewriting
    // the promise (setRetention is the explicit path)
    val e = intercept[IllegalArgumentException] {
      BucketedMergeSink.merge(spark,
        Seq((23L, "z", 230L)).toDF("id", "name", "v"), path, "upsert", Seq("id"),
        retainVersions = 5)
    }
    assert(e.getMessage.contains("setRetention"))
    // compact honors the layout's window too (no truncation to 1)
    BucketedMergeSink.compact(spark, path, maxFiles = 0)
    assert(BucketedMergeSink.manifestVersions(spark, path).size == 2)
    // and setRetention changes the promise explicitly
    BucketedMergeSink.setRetention(spark, path, 3)
    assert(BucketedMergeSink.retention(spark, path) == 3)
    BucketedMergeSink.merge(spark,
      Seq((24L, "w", 240L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    assert(BucketedMergeSink.manifestVersions(spark, path).size == 3)
  }

  test("update against an absent target establishes the layout but writes no rows") {
    val path = tmpTarget()
    val batch = Seq((1L, "a", 1L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, batch, path, "update", Seq("id"), numBuckets = 4)
    assert(BucketedMergeSink.isBucketed(spark, path))
    assert(BucketedMergeSink.read(spark, path).count() == 0)
    // and a later upsert into the (empty) layout works
    BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"))
    assert(BucketedMergeSink.read(spark, path).count() == 1)
  }

  test("upsert on a different key than the layout's is rejected") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"), numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("name"))
    }
    assert(e.getMessage.contains("routed"))
  }

  test("delete with a mis-typed id column fails loudly BEFORE bucket pruning " +
    "(flat-sink parity even when the mis-cast ids would route to absent buckets)") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(5), path, "upsert", Seq("id"), numBuckets = 4)
    // string ids against a long key: the routing cast would null (or
    // ANSI-throw) these, land them in absent buckets, and the early
    // returns would make the delete a silent no-op — the exact failure
    // the flat sink refuses; the bucketed path must refuse identically
    val e = intercept[IllegalArgumentException] {
      BucketedMergeSink.merge(spark, Seq("abc", "def").toDF("id"), path, "delete",
        identifier = "id")
    }
    assert(e.getMessage.contains("comparable"), e.getMessage)
    assert(BucketedMergeSink.read(spark, path).count() == 5)
  }

  test("a conflicting retainVersions fails BEFORE any merge/compact work " +
    "(no new commit dir, manifest version unchanged)") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2)
    val versionsBefore = BucketedMergeSink.manifestVersions(spark, path)
    val commitsBefore = new File(path, "data").listFiles().count(_.isDirectory)
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.merge(spark, seed(3), path, "upsert", Seq("id"),
        retainVersions = 5))
    assert(e.getMessage.contains("retention is a layout property"), e.getMessage)
    assert(BucketedMergeSink.manifestVersions(spark, path) == versionsBefore,
      "a refused call must not have committed anything")
    assert(new File(path, "data").listFiles().count(_.isDirectory) == commitsBefore,
      "a refused call must fail before writing a commit dir")
  }

  test("refuses to bucket-merge over an existing flat layout") {
    val path = tmpTarget()
    seed(5).write.parquet(path)
    val e = intercept[IllegalArgumentException] {
      BucketedMergeSink.merge(spark, seed(5), path, "upsert", Seq("id"), numBuckets = 4)
    }
    assert(e.getMessage.contains("not a bucketed target"))
  }

  test("a batch key narrower than the target's still routes to the right bucket") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(50), path, "upsert", Seq("id"), numBuckets = 8)
    // int-typed ids: hash(int) != hash(long) for the same value, so
    // unrouted this would miss the existing row and try to insert into a
    // stray bucket (merge() fails loudly on that) — the cast makes it
    // a clean in-place update instead
    val intBatch = Seq((7, "SEVEN", 70)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, intBatch, path, "upsert", Seq("id"))
    val out = BucketedMergeSink.read(spark, path)
    assert(out.count() == 50)
    assert(out.filter(col("id") === 7L).select("name").as[String].head() == "SEVEN")
  }

  test("schema evolution: extra batch column dropped, missing one NULL on insert, " +
    "widening coerced, lossy refused BEFORE any write") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(20), path, "upsert", Seq("id"), numBuckets = 4)
    // extra column ignored; missing 'v' keeps target value on match, NULL on insert
    val evolved = Seq((7L, "SEVEN", "x"), (999L, "new", "y"))
      .toDF("id", "name", "extra")
    BucketedMergeSink.merge(spark, evolved, path, "upsert", Seq("id"))
    val out = BucketedMergeSink.read(spark, path)
    assert(!out.columns.contains("extra"))
    assert(out.filter(col("id") === 7L).select("v").as[Long].head() == 70L,
      "missing batch column must keep the target value on match")
    assert(out.filter(col("id") === 999L).select("v").isEmpty
      || out.filter(col("id") === 999L).filter(col("v").isNull).count() == 1,
      "missing batch column must load NULL on insert")
    // widening: int v -> long v coerces (covered in the routing test too);
    // lossy: double v -> long v refuses loudly, and refuses BEFORE
    // touching the target (no partial commit, manifest unchanged)
    val before = BucketedMergeSink.manifest(spark, path)
    val lossy = Seq((7L, "SEVEN", 7.5)).toDF("id", "name", "v")
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.merge(spark, lossy, path, "upsert", Seq("id")))
    assert(e.getMessage.contains("lossy"))
    assert(BucketedMergeSink.manifest(spark, path) == before,
      "a refused batch must leave the manifest untouched")
  }

  test("mergeIntoParquet auto-delegates when pointed at a bucketed layout") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(20), path, "upsert", Seq("id"), numBuckets = 4)
    MergeSink.mergeIntoParquet(spark, Seq((3L, "THREE", 33L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id"))
    assert(BucketedMergeSink.isBucketed(spark, path), "layout must survive")
    val out = BucketedMergeSink.read(spark, path)
    assert(out.count() == 20)
    assert(out.filter(col("id") === 3L).select("v").as[Long].head() == 33L)
  }

  test("compact: fragmented buckets collapse to one file, content intact, no-op when clean") {
    val path = tmpTarget()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // AQE off + several shuffle partitions: the create-path write keeps
      // one file per (task × bucket), so every bucket fragments
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      BucketedMergeSink.merge(spark, seed(200), path, "upsert", Seq("id"), numBuckets = 4)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
    def dataFiles(b: Int): Int =
      bucketState(path, b).keys.map(_.split('/').last)
        .count(f => !f.startsWith(".") && !f.startsWith("_"))
    val pre = (0 until 4).map(b => b -> bucketState(path, b)).toMap
    val fragmented = (0 until 4).filter(b => dataFiles(b) > 1)
    assert(fragmented.nonEmpty, s"merge should fragment, got ${pre.view.mapValues(_.size).toMap}")
    val before = canon(BucketedMergeSink.read(spark, path))

    val compacted = BucketedMergeSink.compact(spark, path)
    assert(compacted == fragmented)
    fragmented.foreach { b =>
      assert(dataFiles(b) == 1, s"bucket $b should be one data file")
    }
    (0 until 4).filterNot(fragmented.contains).foreach { b =>
      assert(bucketState(path, b) == pre(b), s"clean bucket $b was rewritten")
    }
    assert(canon(BucketedMergeSink.read(spark, path)) == before)

    // an already-compact layout: compact is a no-op that touches nothing
    val clean = (0 until 4).map(b => b -> bucketState(path, b)).toMap
    assert(BucketedMergeSink.compact(spark, path).isEmpty)
    (0 until 4).foreach(b => assert(bucketState(path, b) == clean(b)))
  }

  test("replaying the same batch converges (at-least-once idempotence)") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(30), path, "upsert", Seq("id"), numBuckets = 4)
    val batch = Seq((5L, "x", 1L), (31L, "y", 2L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"))
    val once = canon(BucketedMergeSink.read(spark, path))
    BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"))
    assert(canon(BucketedMergeSink.read(spark, path)) == once)
  }

  test("concurrent writer: an interleaved commit is detected, the loser " +
    "publishes NOTHING, and a retry converges (single-writer contract)") {
    // Two independent processes merging into the same target race on the
    // manifest. The contract (object scaladoc "Concurrent writers"): the
    // loser fails with the retryable ConcurrentWriteException, publishes
    // nothing, and the winner's state is untouched. Simulated via the
    // interleaveBeforeCommit seam: writer B's whole merge lands in the
    // window between writer A's last manifest read and A's commit — the
    // exact interleaving an uncoordinated deployment hits.
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(50), path, "upsert", Seq("id"), numBuckets = 4)
    // materialized copy: the race's GC deletes superseded leaf dirs, so a
    // lazy read over today's resolved paths would dangle
    val seedState = localized(BucketedMergeSink.read(spark, path))

    val batchB = Seq((7L, "B-WINS", 70L)).toDF("id", "name", "v")
    val batchA = Seq((7L, "A-LOSES", 700L), (999L, "a-new", 1L)).toDF("id", "name", "v")
    var fired = false
    BucketedMergeSink.interleaveBeforeCommit = () => {
      if (!fired) { // intercept only writer A's commit; B's own runs clean
        fired = true
        BucketedMergeSink.merge(spark, batchB, path, "upsert", Seq("id"))
      }
    }
    val e =
      try intercept[graft.sink.ConcurrentWriteException] {
        BucketedMergeSink.merge(spark, batchA, path, "upsert", Seq("id"))
      } finally BucketedMergeSink.interleaveBeforeCommit = () => ()
    assert(fired)
    assert(e.getMessage.contains("retry"), s"loser's error must say it is retryable: $e")

    // the WINNER's committed state is exactly what a clean sequential
    // B-merge leaves; nothing of A is visible anywhere
    val afterB = MergeSink.upsert(seedState, batchB, Seq("id"))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id"), afterB.orderBy("id"))
    // the loser's data dir was rolled back on the spot: data/ holds only
    // manifest-referenced commit dirs
    val live = BucketedMergeSink.manifest(spark, path).values.flatMap(_.commits).toSet
    val dirs = new File(path, "data").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == live, s"loser left a data dir behind: $dirs vs live $live")

    // RETRYABLE means exactly this: re-running the losing merge re-reads
    // the winner's state and lands correctly
    BucketedMergeSink.merge(spark, batchA, path, "upsert", Seq("id"))
    assertSameRows(
      BucketedMergeSink.read(spark, path).orderBy("id"),
      MergeSink.upsert(afterB, batchA, Seq("id")).orderBy("id"))
  }

  test("concurrent writer: a merge interleaved into a compact fails the " +
    "compact, not the data") {
    val path = tmpTarget()
    BucketedMergeSink.merge(spark, seed(40), path, "upsert", Seq("id"), numBuckets = 2)
    BucketedMergeSink.merge(spark,
      Seq((41L, "f", 1L), (42L, "g", 2L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // fragments at least one bucket
    val batch = Seq((3L, "mid-compact", 9L)).toDF("id", "name", "v")
    var fired = false
    BucketedMergeSink.interleaveBeforeCommit = () => {
      if (!fired) { fired = true
        BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"))
      }
    }
    val pre = localized(BucketedMergeSink.read(spark, path))
    try intercept[graft.sink.ConcurrentWriteException] {
      BucketedMergeSink.compact(spark, path)
    } finally BucketedMergeSink.interleaveBeforeCommit = () => ()
    assert(fired)
    // content = pre-compact content with the interleaved merge applied;
    // the failed compact changed nothing and a retry compacts cleanly
    val want = canon(MergeSink.upsert(pre, batch, Seq("id")))
    assert(canon(BucketedMergeSink.read(spark, path)) == want)
    BucketedMergeSink.compact(spark, path)
    assert(canon(BucketedMergeSink.read(spark, path)) == want)
  }

  test("concurrent writer: a merge interleaved into a deleteWhere fails the " +
    "purge, leaves no data dir behind, and a retry converges") {
    val path = tmpTarget()
    // retention 1: the interleaved merge's GC keeps only the dirs of its
    // own version, so nothing older can mask a leftover of the purge
    BucketedMergeSink.merge(spark, seed(40), path, "upsert", Seq("id"), numBuckets = 4)
    assert(BucketedMergeSink.retention(spark, path) == 1)
    // the merge moves id 30 out of the predicate and lands a new match
    val batch = Seq((30L, "mid-purge", 5L), (41L, "late", 999L)).toDF("id", "name", "v")
    var fired = false
    BucketedMergeSink.interleaveBeforeCommit = () => {
      if (!fired) { fired = true
        BucketedMergeSink.merge(spark, batch, path, "upsert", Seq("id"))
      }
    }
    val pre = localized(BucketedMergeSink.read(spark, path))
    try intercept[graft.sink.ConcurrentWriteException] {
      BucketedMergeSink.deleteWhere(spark, path, "v > 250")
    } finally BucketedMergeSink.interleaveBeforeCommit = () => ()
    assert(fired)
    // the failed purge published nothing: content is the interleaved
    // merge alone, and data/ holds only manifest-referenced commit dirs
    val afterMerge = localized(MergeSink.upsert(pre, batch, Seq("id")))
    assert(canon(BucketedMergeSink.read(spark, path)) == canon(afterMerge))
    val live = BucketedMergeSink.manifest(spark, path).values.flatMap(_.commits).toSet
    val dirs = new File(path, "data").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == live, s"the purge left a data dir behind: $dirs vs live $live")
    // the retry purges against the merge's state
    assert(BucketedMergeSink.deleteWhere(spark, path, "v > 250").nonEmpty)
    assert(canon(BucketedMergeSink.read(spark, path)) ==
      canon(afterMerge.filter(!(col("v") > 250))))
  }

  test("the commit tie-break primitive: create(overwrite=false) admits " +
    "exactly one creator of a manifest version") {
    // Layer 2 of the detection (commitManifest scaladoc): two writers
    // that both passed the advanced-version check tie-break on the
    // filesystem's exclusive create. Pin the primitive that guarantee
    // rests on — second create of the same path must throw, first wins.
    val dir = Files.createTempDirectory("graft-commit-race").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, "v000000002")
    val out = fs.create(p, false)
    out.write("0\tcwinner\n".getBytes("UTF-8")); out.close()
    intercept[java.io.IOException](fs.create(p, false))
    assert(fs.exists(p))
    // and the winner's content is untouched by the loser's attempt
    val src = scala.io.Source.fromInputStream(fs.open(p))
    try assert(src.mkString == "0\tcwinner\n") finally src.close()
  }

  test("changesBetween: consecutive versions yield that batch's feed, " +
    "non-consecutive the NET change, and manifest-identical buckets are " +
    "never even listed") {
    import spark.implicits._
    val path = tmpTarget()
    val n = 8
    BucketedMergeSink.merge(spark, seed(50), path, "upsert", Seq("id"),
      numBuckets = n, retainVersions = 3) // v1
    val b1 = Seq((10L, "TEN", 100L), (999L, "new", 1L)).toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, b1, path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq(999L).toDF("id"), path,
      "delete", identifier = "id") // v3
    val Seq(v1, v2, v3) = BucketedMergeSink.manifestVersions(spark, path)

    val feed12 = BucketedMergeSink.changesBetween(spark, path, v1, v2)
    assertSameRows(
      feed12.orderBy("id", "_op"),
      Seq(
        ("update_pre", 10L, "name10", 100L),
        ("update_post", 10L, "TEN", 100L),
        ("insert", 999L, "new", 1L))
        .toDF("_op", "id", "name", "v").orderBy("id", "_op"))
    // the diff must read ONLY buckets whose manifest entry moved — the
    // buckets keys 10 and 999 hash to
    val touched = Seq(10L, 999L).toDF("id")
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n).as("b"))
      .distinct().as[Int].collect().toSet
    val scanned = feed12.inputFiles.map { f =>
      s"${BucketedMergeSink.bucketCol}=(\\d+)".r.findFirstMatchIn(f)
        .map(_.group(1).toInt)
        .getOrElse(fail(s"diff scanned a non-bucket path: $f"))
    }.toSet
    assert(scanned == touched,
      s"diff scanned buckets $scanned, batch touched only $touched")
    assert(touched.size < n, "batch should touch a strict subset of buckets")

    assertSameRows(
      BucketedMergeSink.changesBetween(spark, path, v2, v3).orderBy("id"),
      Seq(("delete", 999L, "new", 1L)).toDF("_op", "id", "name", "v"))
    // net change v1→v3: 999 (inserted then deleted) cancels out entirely
    val net = BucketedMergeSink.changesBetween(spark, path, v1, v3)
    assert(net.filter(col("id") === 999L).isEmpty,
      "insert-then-delete within the interval must net to nothing")
    assertSameRows(
      net.orderBy("id", "_op"),
      Seq(
        ("update_pre", 10L, "name10", 100L),
        ("update_post", 10L, "TEN", 100L))
        .toDF("_op", "id", "name", "v").orderBy("id", "_op"))
    // identical versions: not a diff anyone should ask for
    intercept[IllegalArgumentException](
      BucketedMergeSink.changesBetween(spark, path, v2, v2))
  }

  test("publishChangeFeed: catch-up publishes bootstrap + every missing " +
    "per-version delta, skips existing partitions, and is idempotent") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(20), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 4) // v1
    BucketedMergeSink.merge(spark,
      Seq((10L, "TEN", 100L), (21L, "new", 1L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq(21L).toDF("id"), path,
      "delete", identifier = "id") // v3
    // one catch-up call publishes all three missing partitions
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(1L, 2L, 3L))
    val f = spark.read.parquet(feed)
    assert(f.filter($"batch_id" === 1 && $"_op" === "insert").count() == 20,
      "bootstrap feed = every v1 row as an insert")
    assert(f.filter($"batch_id" === 2).select("_op", "id")
      .as[(String, Long)].collect().sortBy(r => (r._2, r._1)).toSeq ==
      Seq(("update_pre", 10L), ("update_post", 10L), ("insert", 21L))
        .sortBy(r => (r._2, r._1)))
    assert(f.filter($"batch_id" === 3).select("_op", "id")
      .as[(String, Long)].collect().toSeq == Seq(("delete", 21L)))
    // second call: nothing new to publish, nothing clobbered
    val before = new File(feed).listFiles().map(_.getName).toSet
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed).isEmpty)
    assert(new File(feed).listFiles().map(_.getName).toSet == before)
    // a new load followed by catch-up publishes exactly that version
    BucketedMergeSink.merge(spark,
      Seq((1L, "ONE", 11L)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == Seq(4L))
    assert(spark.read.parquet(feed) // fresh read: f's file index predates v4
      .filter($"batch_id" === 4).count() == 2) // pre+post of key 1
  }

  test("deleteWhere: predicate purge rewrites ONLY buckets holding " +
    "matches, drops emptied buckets, keeps null-predicate rows, and " +
    "no-ops cleanly when nothing matches") {
    val path = tmpTarget()
    val n = 4
    // v column drives the predicate; key 999 gets a NULL v (predicate
    // NULL = not a match = survives, SQL DELETE semantics)
    val rows = seed(40).unionByName(
      Seq((999L, "nullv", null.asInstanceOf[java.lang.Long]))
        .toDF("id", "name", "v").selectExpr("id", "name", "CAST(v AS BIGINT) AS v"))
    BucketedMergeSink.merge(spark, rows, path, "upsert", Seq("id"), numBuckets = n)
    val before = (0 until n).map(b => b -> bucketState(path, b)).toMap
    // purge v > 250 — victims 26..40 hash across some buckets
    val touched = BucketedMergeSink.deleteWhere(spark, path, "v > 250")
    val victims = (26 to 40).map(_.toLong).toSet
    val expectTouched = victims.map(id => Seq(id).toDF("id")
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n)).as[Int].head()).toSet
    assert(touched.toSet == expectTouched, s"touched $touched vs $expectTouched")
    for (b <- 0 until n if !expectTouched(b))
      assert(bucketState(path, b) == before(b), s"untouched bucket $b rewritten")
    val left = BucketedMergeSink.read(spark, path).select("id").as[Long].collect().toSet
    assert(left == ((1 to 25).map(_.toLong).toSet + 999L),
      "survivors = non-matching rows plus the NULL-predicate row")
    // no-op purge: no version committed, no files moved
    val vBefore = BucketedMergeSink.manifestVersions(spark, path).max
    assert(BucketedMergeSink.deleteWhere(spark, path, "v > 100000").isEmpty)
    assert(BucketedMergeSink.manifestVersions(spark, path).max == vBefore)
    // purge EVERYTHING: all buckets drop from the manifest
    BucketedMergeSink.deleteWhere(spark, path, "id IS NOT NULL")
    assert(BucketedMergeSink.read(spark, path).count() == 0)
    assert(BucketedMergeSink.manifest(spark, path).isEmpty,
      "fully-purged buckets must leave the manifest")
  }

  test("syncMinhashIndex: the postings index tracks the target through " +
    "upserts, text updates, null-texts, and deletes; idempotent; " +
    "crash-replay safe; refuses a GC'd gap") {
    import spark.implicits._
    def docs(rows: (Long, String)*): DataFrame = {
      // null text must survive as StringType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true)))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    }
    /** ground truth: postings of the target's CURRENT state, re-signed */
    def fresh(path: String): Set[(Long, Int, Long)] =
      graft.ops.Dedup.minhashBandIndex(
        BucketedMergeSink.read(spark, path), idCol = "doc_id")
        .as[(Long, Int, Long)].collect().toSet
    def stored(idxPath: String): Set[(Long, Int, Long)] =
      BucketedMergeSink.readPostings(spark, idxPath)
        .select("id", "band", "bucket")
        .as[(Long, Int, Long)].collect().toSet
    val path = tmpTarget()
    val idx = tmpTarget() + "-minhash"
    BucketedMergeSink.merge(spark,
      docs(1L -> "alpha beta gamma delta", 2L -> "eps zeta eta theta",
        3L -> "alpha beta gamma delta eps"),
      path, "upsert", Seq("doc_id"), numBuckets = 4, retainVersions = 4) // v1
    assert(BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx)) == Seq(1L))
    assert(stored(idx) == fresh(path), "bootstrap = full signing of v1")
    // v2: update 1's text, insert 4, null-out 2's text (postings must go)
    BucketedMergeSink.merge(spark,
      docs(1L -> "totally different words now", 4L -> "alpha beta gamma",
        2L -> null),
      path, "upsert", Seq("doc_id")) // v2
    // v3: delete 3
    BucketedMergeSink.merge(spark, Seq(3L).toDF("doc_id"), path,
      "delete", identifier = "doc_id") // v3
    assert(BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx)) == Seq(2L, 3L))
    assert(stored(idx) == fresh(path),
      "delta replay = re-sign of the current state (update/insert/null/delete)")
    assert(!stored(idx).exists(_._1 == 2L), "null-text doc carries no postings")
    assert(!stored(idx).exists(_._1 == 3L), "deleted doc carries no postings")
    // idempotent: nothing new, nothing changed
    assert(BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx)).isEmpty)
    assert(stored(idx) == fresh(path))
    // markers are pruned to the newest as each version lands (the
    // sibling dir stays O(1) files, never one per version forever)
    val applied = new File(idx + ".applied")
    def markers() = // raw java listing sees Hadoop's .crc sidecars; skip
      applied.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(markers() == Seq("v000000003"),
      s"expected only the newest marker, got ${markers()}")
    // crash between v3's merges and its marker: the on-disk state at
    // that moment is v2's marker present, v3's absent — reconstruct it
    // and re-sync; the version replays (idempotent merges) and converges
    new File(applied, "v000000002").createNewFile()
    new File(applied, "v000000003").delete()
    assert(BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx)) == Seq(3L))
    assert(stored(idx) == fresh(path))
    // gap refusal: two more loads with the index left behind, then shrink
    // the window by GC'ing v3 away via retention — simulate by loading
    // until v3 leaves the retained set (retention 4 keeps v2..v5 at v5)
    BucketedMergeSink.merge(spark,
      docs(5L -> "more words here"), path, "upsert", Seq("doc_id")) // v4
    BucketedMergeSink.merge(spark,
      docs(6L -> "and even more words"), path, "upsert", Seq("doc_id")) // v5
    BucketedMergeSink.merge(spark,
      docs(7L -> "final batch of words"), path, "upsert", Seq("doc_id")) // v6: retains v3..v6
    // index is at v3 which is still retained — catches up fine
    assert(BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx)) ==
      Seq(4L, 5L, 6L))
    assert(stored(idx) == fresh(path))
    // now fall PAST the window: three loads, index stays at v6
    BucketedMergeSink.merge(spark,
      docs(8L -> "w8"), path, "upsert", Seq("doc_id")) // v7
    BucketedMergeSink.merge(spark,
      docs(9L -> "w9"), path, "upsert", Seq("doc_id")) // v8
    BucketedMergeSink.merge(spark,
      docs(10L -> "w10"), path, "upsert", Seq("doc_id")) // v9
    BucketedMergeSink.merge(spark,
      docs(11L -> "w11"), path, "upsert", Seq("doc_id")) // v10: retains v7..v10
    val e = intercept[IllegalArgumentException] {
      BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx))
    }
    assert(e.getMessage.contains("Rebuild the index"),
      s"gap must refuse loudly, got: ${e.getMessage}")
  }

  test("publishChangeFeed on an SCD2 target: version rows pair on " +
    "(key, valid_from) via extraKey, so a close+reopen is two inserts " +
    "and one update pair, never a mismatched diff") {
    import spark.implicits._
    import org.apache.spark.sql.functions.to_timestamp
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    BucketedMergeSink.merge(spark, b1, path, "scd2", Seq("id"),
      numBuckets = 2, retainVersions = 3, scd2Ts = "2024-01-01 00:00:00") // v1
    // key 2 changes: its open version CLOSES (an update pair on the same
    // (key, valid_from) row) and a new open version INSERTS
    BucketedMergeSink.merge(spark, Seq((2L, "B")).toDF("id", "v"),
      path, "scd2", Seq("id"), scd2Ts = "2024-06-01 00:00:00") // v2
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed,
      extraKey = Seq("valid_from")) == Seq(1L, 2L))
    val f2 = spark.read.parquet(feed).filter($"batch_id" === 2)
    val ops = f2.select($"_op", $"id",
        org.apache.spark.sql.functions.date_format($"valid_from", "yyyy-MM").as("vf"))
      .as[(String, Long, String)].collect().sortBy(r => (r._2, r._3, r._1)).toSeq
    assert(ops == Seq(
      ("update_post", 2L, "2024-01"), // the Jan version closes in place...
      ("update_pre", 2L, "2024-01"),  // ...(pre = its open form)
      ("insert", 2L, "2024-06")),     // new open version
      s"unexpected scd2 feed: $ops")
    // without extraKey the same diff would refuse nothing but mispair —
    // the Runner always passes valid_from for scd2 stages
  }

  test("deleteWhere: a predicate pinning the layout key prunes the " +
    "DISCOVERY scan to the key's buckets; anything else scans all live " +
    "buckets; the purge result is identical either way") {
    import spark.implicits._
    val path = tmpTarget()
    val n = 8
    BucketedMergeSink.merge(spark, seed(64), path, "upsert", Seq("id"),
      numBuckets = n)
    val meta = BucketedMergeSink.readMeta(spark, path)
    val live = BucketedMergeSink.manifest(spark, path).keys.toSeq
    def disc(cond: String) =
      BucketedMergeSink.purgeDiscoveryBuckets(spark, meta, live, cond)
    def bucketsOf(ids: Long*): Seq[Int] = ids.toDF("id")
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n))
      .distinct().as[Int].collect().toSeq.sorted
    val b42 = bucketsOf(42L)
    // the GDPR shapes prune
    assert(disc("id = 42") == b42)
    assert(disc("42 = id") == b42)
    assert(disc("id = 42 AND v > 0") == b42, "extra conjuncts don't widen")
    assert(disc("id IN (7, 42)") == bucketsOf(7L, 42L))
    // everything else falls back to the full live set
    assert(disc("v > 250") == live.sorted, "TTL shape scans all")
    assert(disc("id = 42 OR v > 0") == live.sorted, "OR pins nothing")
    assert(disc("id > 42") == live.sorted, "a range is not a pin")
    assert(disc("id = '42'") == live.sorted,
      "cross-type string-vs-long comparison must not trust the literal's hash")
    assert(disc("not a predicate ((") == live.sorted, "unparseable = full scan")
    // end-to-end: the keyed purge touches exactly the key's bucket,
    // leaves every other bucket's files physically unmoved, and removes
    // exactly the matching row
    val before = (0 until n).map(b => b -> bucketState(path, b)).toMap
    assert(BucketedMergeSink.deleteWhere(spark, path, "id = 42") == b42)
    for (b <- 0 until n if !b42.contains(b))
      assert(bucketState(path, b) == before(b), s"untouched bucket $b moved")
    val left = BucketedMergeSink.read(spark, path)
    assert(left.filter(col("id") === 42L).isEmpty && left.count() == 63)
  }

  test("publishChangeFeed: a feed started mid-life bootstraps from the " +
    "oldest retained snapshot; a feed that fell past the window refuses " +
    "loudly instead of silently skipping a batch") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2) // v1
    BucketedMergeSink.merge(spark, Seq((11L, "x", 1L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2: retains {v1, v2}
    BucketedMergeSink.merge(spark, Seq((12L, "y", 2L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v3: retains {v2, v3} — v1 GC'd
    // first publish mid-life: the base partition is the all-inserts
    // SNAPSHOT of v2 (self-contained feed), never a baseless delta
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(2L, 3L))
    val f = spark.read.parquet(feed)
    assert(f.filter($"batch_id" === 2 && $"_op" === "insert").count() == 11,
      "mid-life base = every v2 row as an insert")
    assert(f.filter($"batch_id" === 2).count() == 11, "base has only inserts")
    assert(f.filter($"batch_id" === 3).select("_op", "id")
      .as[(String, Long)].collect().toSeq == Seq(("insert", 12L)))
    // a consumer replaying the feed from scratch reconstructs the state
    assert(f.filter($"_op" =!= "delete" && $"_op" =!= "update_pre")
      .select("id").distinct().count() == 12)
    // now fall behind: two loads with no publish in between slide the
    // window past v4 — its predecessor v3 is GC'd, its partition was
    // never published, so the v4 delta is unreconstructable
    BucketedMergeSink.merge(spark, Seq((13L, "z", 3L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v4: retains {v3, v4}
    BucketedMergeSink.merge(spark, Seq((14L, "w", 4L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v5: retains {v4, v5}
    val e = intercept[IllegalStateException](
      BucketedMergeSink.publishChangeFeed(spark, path, feed))
    assert(e.getMessage.contains("missing batch") &&
      e.getMessage.contains("retain_versions"), e.getMessage)
  }

  test("syncLshIndex: the embedding postings index tracks the target " +
    "through upserts, vector updates, null vectors, and deletes") {
    import spark.implicits._
    def vecs(rows: (Long, Seq[Double])*): DataFrame = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true)))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    }
    def fresh(path: String): Set[(Long, Int, Long)] =
      graft.ops.Similarity.lshBucketIndex(
        BucketedMergeSink.read(spark, path),
        tables = 4, bits = 6, dim = 4, idCol = "vec_id")
        .as[(Long, Int, Long)].collect().toSet
    def stored(idxPath: String): Set[(Long, Int, Long)] =
      BucketedMergeSink.readPostings(spark, idxPath)
        .select("id", "band", "bucket")
        .as[(Long, Int, Long)].collect().toSet
    val path = tmpTarget()
    val idx = tmpTarget() + "-lsh"
    def sync() = BucketedMergeSink.syncLshIndex(spark, path,
      Derived.LshIndex(idx, tables = 4, bits = 6, dim = 4))
    BucketedMergeSink.merge(spark,
      vecs(1L -> Seq(1.0, 0.0, 0.0, 0.0), 2L -> Seq(0.0, 1.0, 0.0, 0.0),
        3L -> Seq(0.9, 0.1, 0.0, 0.0)),
      path, "upsert", Seq("vec_id"), numBuckets = 4, retainVersions = 4) // v1
    assert(sync() == Seq(1L))
    assert(stored(idx) == fresh(path), "bootstrap = full signing of v1")
    // v2: rotate 1's vector, insert 4, null-out 2's (postings must go)
    BucketedMergeSink.merge(spark,
      vecs(1L -> Seq(-1.0, 0.0, 0.5, 0.0), 4L -> Seq(0.0, 0.0, 1.0, 0.0),
        2L -> null),
      path, "upsert", Seq("vec_id")) // v2
    BucketedMergeSink.merge(spark, Seq(3L).toDF("vec_id"), path,
      "delete", identifier = "vec_id") // v3
    assert(sync() == Seq(2L, 3L))
    assert(stored(idx) == fresh(path),
      "delta replay = re-sign of the current state")
    assert(!stored(idx).exists(_._1 == 2L), "null-vector id carries no postings")
    assert(!stored(idx).exists(_._1 == 3L), "deleted id carries no postings")
    assert(sync().isEmpty, "idempotent")
  }

  test("syncSemanticIndex: cell postings track the target under frozen " +
    "centroids; an update that MOVES cells strands no stale postings") {
    import spark.implicits._
    def vecs(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "embedding")
    val path = tmpTarget()
    val idx = tmpTarget() + "-sem"
    def sync() = BucketedMergeSink.syncSemanticIndex(spark, path,
      Derived.SemanticIndex(idx, nlist = 2, probeCells = 1))
    // two clean clusters around e1 and e2
    BucketedMergeSink.merge(spark,
      vecs(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1),
        3L -> Seq(0.0, 1.0), 4L -> Seq(0.1, 0.9)),
      path, "upsert", Seq("vec_id"), numBuckets = 4, retainVersions = 4) // v1
    assert(sync() == Seq(1L))
    val cents = spark.read.parquet(idx + ".centroids")
      .select("cell", "centv").as[(Int, Seq[Double])].collect().toMap
    assert(cents.size == 2, "nlist=2 model persisted at the sibling")
    def expected(): Set[(Long, Int)] =
      graft.ops.Similarity.assignBatchCells(
        BucketedMergeSink.read(spark, path),
        spark.read.parquet(idx + ".centroids"), probeCells = 1)
        .as[(Long, Int)].collect().toSet
    def stored(): Set[(Long, Int)] =
      BucketedMergeSink.readPostings(spark, idx).select("id", "pcell")
        .as[(Long, Int)].collect().toSet
    assert(stored() == expected(), "bootstrap postings = frozen-model assignment")
    // v2: move vector 2 to the OTHER cluster — its posting must move
    // cells (the stale (2, oldCell) row must be deleted, not shadowed),
    // plus an insert and a delete in the same version
    BucketedMergeSink.merge(spark,
      vecs(2L -> Seq(0.0, 1.0), 5L -> Seq(0.95, 0.05)),
      path, "upsert", Seq("vec_id")) // v2
    BucketedMergeSink.merge(spark, Seq(4L).toDF("vec_id"), path,
      "delete", identifier = "vec_id") // v3
    assert(sync() == Seq(2L, 3L))
    assert(stored() == expected(),
      "postings after replay = frozen-model assignment of current state")
    assert(stored().count(_._1 == 2L) == 1, "exactly one posting for the moved id")
    assert(!stored().exists(_._1 == 4L), "deleted id carries no postings")
    // centroids FROZEN: the sibling model is byte-stable across syncs
    val centsAfter = spark.read.parquet(idx + ".centroids")
      .select("cell", "centv").as[(Int, Seq[Double])].collect().toMap
    assert(centsAfter == cents, "sync must never retrain the model")
    assert(sync().isEmpty, "idempotent")
  }

  test("index sync cost contract: a single-doc delta rewrites ONLY that " +
    "doc's index bucket — maintenance is O(touched buckets), never the " +
    "flat sink's full-index swap") {
    import spark.implicits._
    val path = tmpTarget()
    val idx = tmpTarget() + "-mh"
    val n = 8
    val docs = (1 to 32)
      .map(i => (i.toLong, s"alpha beta gamma doc nr $i with words"))
      .toDF("doc_id", "text")
    BucketedMergeSink.merge(spark, docs, path, "upsert", Seq("doc_id"),
      numBuckets = n, retainVersions = 4)
    BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx))
    val before = (0 until n).map(b => b -> bucketState(idx, b)).toMap
    // one doc's text changes → exactly one nested posting row moves,
    // and it lives in bucket hash(id) of the INDEX layout
    BucketedMergeSink.merge(spark,
      Seq((7L, "completely different text for doc seven")).toDF("doc_id", "text"),
      path, "upsert", Seq("doc_id"))
    BucketedMergeSink.syncMinhashIndex(spark, path, Derived.MinhashIndex(idx))
    val b7 = Seq(7L).toDF("id")
      .select(BucketedMergeSink.bucketExpr(Seq("id"), n)).as[Int].head()
    for (b <- 0 until n if b != b7)
      assert(bucketState(idx, b) == before(b),
        s"untouched index bucket $b was rewritten by a one-doc sync")
    assert(bucketState(idx, b7) != before(b7),
      "the updated doc's index bucket must carry its fresh signature")
    assert(BucketedMergeSink.readPostings(spark, idx)
      .filter($"id" === 7L).count() == 8, "bands rows for the re-signed doc")
  }

  /** One postings-index family for the fold-rule tests below: `rows`
    * builds (id, sign value) target rows (a null value is a null sign
    * column), `sync` catches the index at `idx` up with the target at
    * `path`, `fresh` re-signs the target's current state, and `values`
    * are three distinct sign values. */
  private case class IndexFamily(
      name: String,
      idCol: String,
      values: (AnyRef, AnyRef, AnyRef),
      rows: Seq[(Long, AnyRef)] => DataFrame,
      sync: (String, String) => Seq[Long],
      fresh: String => Set[(Long, Int, Long)])

  private def signRows(idCol: String, signCol: String,
      signType: org.apache.spark.sql.types.DataType)(rs: Seq[(Long, AnyRef)]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rs.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField(signCol, signType, nullable = true))))
  }

  private val indexFamilies = Seq(
    IndexFamily("syncMinhashIndex", "doc_id",
      ("alpha beta gamma delta epsilon", "totally different words in here",
        "zeta eta theta iota kappa"),
      signRows("doc_id", "text", org.apache.spark.sql.types.StringType),
      (path, idx) => BucketedMergeSink.syncMinhashIndex(spark, path,
        Derived.MinhashIndex(idx)),
      path => graft.ops.Dedup.minhashBandIndex(
        BucketedMergeSink.read(spark, path), idCol = "doc_id")
        .as[(Long, Int, Long)].collect().toSet),
    IndexFamily("syncLshIndex", "vec_id",
      (Seq(1.0, 0.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.5, 0.0), Seq(0.0, 1.0, 0.0, 0.0)),
      signRows("vec_id", "embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      (path, idx) => BucketedMergeSink.syncLshIndex(spark, path,
        Derived.LshIndex(idx, tables = 4, bits = 6, dim = 4)),
      path => graft.ops.Similarity.lshBucketIndex(
        BucketedMergeSink.read(spark, path),
        tables = 4, bits = 6, dim = 4, idCol = "vec_id")
        .as[(Long, Int, Long)].collect().toSet))

  private def storedPostings(idx: String): Set[(Long, Int, Long)] =
    BucketedMergeSink.readPostings(spark, idx).select("id", "band", "bucket")
      .as[(Long, Int, Long)].collect().toSet

  for (f <- indexFamilies) {
    import f.values.{_1 => a, _2 => b, _3 => x}
    def upsert(path: String, rs: (Long, AnyRef)*): Unit =
      BucketedMergeSink.merge(spark, f.rows(rs), path, "upsert", Seq(f.idCol),
        numBuckets = 4, retainVersions = 4)

    test(s"${f.name} folds per-version deltas: after a crash between the " +
      "index commit and its marker, a load that reverts a doc (A→B→A) " +
      "still leaves the fresh signing") {
      val path = tmpTarget()
      val idx = tmpTarget() + "-idx"
      upsert(path, 1L -> a, 2L -> x) // v1
      assert(f.sync(path, idx) == Seq(1L))
      upsert(path, 1L -> b) // v2: doc 1 A→B
      assert(f.sync(path, idx) == Seq(2L))
      // crash between v2's commit and its marker: the index holds v2's
      // postings, the marker still says v1
      val applied = new File(idx + ".applied")
      new File(applied, "v000000001").createNewFile()
      new File(applied, "v000000002").delete()
      upsert(path, 1L -> a) // v3: doc 1 B→A
      // a single diff v1→v3 would see doc 1 unchanged and keep B's postings
      assert(f.sync(path, idx) == Seq(2L, 3L))
      assert(storedPostings(idx) == f.fresh(path))
    }

    test(s"${f.name} folds per-version deltas: a doc deleted and then " +
      "re-inserted with a null sign column in one pending run keeps no " +
      "postings") {
      val path = tmpTarget()
      val idx = tmpTarget() + "-idx"
      upsert(path, 1L -> a, 2L -> x) // v1
      assert(f.sync(path, idx) == Seq(1L))
      BucketedMergeSink.merge(spark, Seq(1L).toDF(f.idCol), path, "delete",
        identifier = f.idCol) // v2
      upsert(path, 1L -> null) // v3: back, with a null sign column
      assert(f.sync(path, idx) == Seq(2L, 3L))
      assert(!storedPostings(idx).exists(_._1 == 1L),
        "a null sign column unsigns, whatever the op")
      assert(storedPostings(idx) == f.fresh(path))
    }

    test(s"${f.name}: a bootstrap that crashed before its marker is " +
      "replaced whole by the next sync") {
      val path = tmpTarget()
      val idx = tmpTarget() + "-idx"
      upsert(path, 1L -> a, 2L -> x, 3L -> b) // v1
      assert(f.sync(path, idx) == Seq(1L))
      // the bootstrap committed, its marker never landed
      org.apache.commons.io.FileUtils.deleteDirectory(new File(idx + ".applied"))
      BucketedMergeSink.merge(spark, Seq(2L).toDF(f.idCol), path, "delete",
        identifier = f.idCol) // v2
      assert(f.sync(path, idx) == Seq(1L, 2L))
      assert(!storedPostings(idx).exists(_._1 == 2L),
        "a doc deleted since the crashed bootstrap keeps no postings")
      assert(storedPostings(idx) == f.fresh(path))
    }

    test(s"${f.name}: one call over several pending versions commits " +
      "exactly one index version, a fresh index's bootstrap included") {
      val path = tmpTarget()
      val idx = tmpTarget() + "-idx"
      upsert(path, 1L -> a, 2L -> x, 3L -> b) // v1
      upsert(path, 1L -> b) // v2
      BucketedMergeSink.merge(spark, Seq(2L).toDF(f.idCol), path, "delete",
        identifier = f.idCol) // v3
      assert(f.sync(path, idx) == Seq(1L, 2L, 3L))
      assert(BucketedMergeSink.manifestVersions(spark, idx) == Seq(1L),
        "bootstrap and the pending run apply in one commit")
      assert(storedPostings(idx) == f.fresh(path))
      upsert(path, 4L -> a, 3L -> x) // v4
      upsert(path, 3L -> null) // v5
      BucketedMergeSink.merge(spark, Seq(1L).toDF(f.idCol), path, "delete",
        identifier = f.idCol) // v6
      assert(f.sync(path, idx) == Seq(4L, 5L, 6L))
      assert(BucketedMergeSink.manifestVersions(spark, idx).last == 2L,
        "three pending versions, one commit")
      assert(storedPostings(idx) == f.fresh(path))
    }
  }

  test("a load with a change feed and an index diffs each version pair " +
    "once: the index sync reads the publish's shared deltas") {
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val idx = tmpTarget() + "-idx"
    val load = Derived.Load("spec", path, Seq("id"), "id", "upsert", Nil,
      numBuckets = 4, retainVersions = 3,
      derived = Seq(Derived.ChangeFeed(feed), Derived.MinhashIndex(idx, textCol = "name")),
      compactMaxFiles = Some(1))
    val diffs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    BucketedMergeSink.onDiff = (p, a, b) => if (p == path) diffs += ((a, b))
    try {
      load.run(spark, seed(12).repartition(3))
      load.run(spark, Seq((2L, "two words", 2L), (40L, "forty words", 4L))
        .toDF("id", "name", "v").repartition(2))
      load.run(spark, Seq((3L, "three words", 3L)).toDF("id", "name", "v"))
    } finally BucketedMergeSink.onDiff = (_, _, _) => ()
    assert(diffs.nonEmpty, "the catch-ups diffed nothing")
    assert(diffs.distinct == diffs, s"a version pair was diffed twice: $diffs")
    val vs = BucketedMergeSink.manifestVersions(spark, path)
    assert(BucketedMergeSink.outboxBatches(
      new org.apache.hadoop.fs.Path(feed).getFileSystem(
        spark.sparkContext.hadoopConfiguration), feed).last == vs.last)
    assert(storedPostings(idx) == graft.ops.Dedup.minhashBandIndex(
      BucketedMergeSink.read(spark, path), idCol = "id", textCol = "name")
      .as[(Long, Int, Long)].collect().toSet)
  }

  test("one commit per load: a bucket only the purge touches is rewritten, " +
    "an untouched clean bucket keeps its dir, and an untouched fragmented " +
    "bucket is compacted in the same commit") {
    val path = tmpTarget()
    val n = 4
    val bucket: Map[Long, Int] = (1L to 120L).toDF("id")
      .select(col("id"), BucketedMergeSink.bucketExpr(Seq("id"), n))
      .as[(Long, Int)].collect().toMap
    val byBucket = (1L to 40L).groupBy(bucket)
    assert(byBucket.size == n, s"ids 1..40 should cover all $n buckets")
    // routed: the batch; purged: the purge alone; clean: nothing;
    // fragmented: nothing, but its dir holds several files
    val Seq(routed, purged, clean, frag) = (0 until n)
    val victim = byBucket(purged).head
    // v = id * 10, and the victim alone gets v = 5000
    val base = (1L to 40L).map(i => (i, s"name$i", if (i == victim) 5000L else i * 10))
      .toDF("id", "name", "v")
    BucketedMergeSink.merge(spark, base, path, "upsert", Seq("id"),
      numBuckets = n, retainVersions = 2)
    BucketedMergeSink.compact(spark, path): Unit
    // fragment one bucket: AQE off + several shuffle partitions spread a
    // merge of its rows over several tasks, one file each
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      BucketedMergeSink.merge(spark, (41L to 120L).filter(bucket(_) == frag)
        .map(i => (i, s"frag$i", i * 10)).toDF("id", "name", "v"), path, "upsert", Seq("id"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
    def dataFiles(b: Int): Int =
      bucketState(path, b).keys.map(_.split('/').last)
        .count(f => !f.startsWith(".") && !f.startsWith("_"))
    assert(dataFiles(frag) > 1, "the frag bucket should hold several files")
    (0 until n).filterNot(_ == frag).foreach(b => assert(dataFiles(b) == 1))
    val manBefore = BucketedMergeSink.manifest(spark, path)
    val stateBefore = (0 until n).map(b => b -> bucketState(path, b)).toMap
    val vBefore = BucketedMergeSink.manifestVersions(spark, path).last
    val pre = localized(BucketedMergeSink.read(spark, path))
    val hitId = byBucket(routed).head
    val batch = Seq((hitId, "ROUTED", 1L)).toDF("id", "name", "v")
    Derived.Load("spec", path, Seq("id"), "id", "upsert", Nil, numBuckets = n,
      retainVersions = 2, derived = Nil, deleteWhere = "v > 4000",
      compactMaxFiles = Some(1)).run(spark, batch)
    assert(BucketedMergeSink.manifestVersions(spark, path).last == vBefore + 1,
      "the merge, the purge and the compaction land in one version")
    val man = BucketedMergeSink.manifest(spark, path)
    // every dir of a changed entry is one file; each entry's newest dir
    // is the one commit's
    def filesPerDir(b: Int): Seq[Int] =
      BucketedMergeSink.bucketDataDirs(spark, path, b).map(d => new File(d).listFiles()
        .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")))
    Seq(routed, purged, frag).foreach { b =>
      assert(man(b) != manBefore(b), s"bucket $b should be rewritten")
      assert(filesPerDir(b).forall(_ == 1), s"rewritten bucket $b should be one file per dir")
    }
    assert(Seq(routed, purged, frag).map(b => man(b).dirs.last.commit).distinct.size == 1,
      "one commit dir")
    assert(man(clean) == manBefore(clean), "the clean bucket was remapped")
    assert(bucketState(path, clean) == stateBefore(clean), "the clean bucket was rewritten")
    assert(canon(BucketedMergeSink.read(spark, path)) ==
      canon(MergeSink.upsert(pre, batch, Seq("id")).filter(col("v") <= 4000)))
  }

  test("a catch-up caches its net change once: the subscribeFeed apply and " +
    "the index sync each hold exactly one persisted RDD at their commit") {
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val replica = tmpTarget() + "-rep"
    val idx = tmpTarget() + "-idx"
    BucketedMergeSink.merge(spark, seed(12), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 3)
    BucketedMergeSink.publishChangeFeed(spark, path, feed): Unit
    BucketedMergeSink.subscribeFeed(spark, feed, replica, numBuckets = 4): Unit
    BucketedMergeSink.syncMinhashIndex(spark, path,
      Derived.MinhashIndex(idx, textCol = "name")): Unit
    BucketedMergeSink.merge(spark, Seq((2L, "two new words", 2L), (40L, "forty more words", 4L))
      .toDF("id", "name", "v"), path, "upsert", Seq("id"))
    BucketedMergeSink.merge(spark, Seq(3L).toDF("id"), path, "delete")
    BucketedMergeSink.publishChangeFeed(spark, path, feed): Unit
    // the RDDs persisted since `before`, counted when the apply commits
    def cachesAtCommit(before: Set[Int])(apply: => Any): Seq[Int] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      BucketedMergeSink.interleaveBeforeCommit = () =>
        seen += (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).size
      try apply finally BucketedMergeSink.interleaveBeforeCommit = () => ()
      seen.toSeq
    }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(cachesAtCommit(persisted)(
      BucketedMergeSink.subscribeFeed(spark, feed, replica, numBuckets = 4)) == Seq(1))
    assert(BucketedMergeSink.read(spark, replica).collect().toSet ==
      BucketedMergeSink.read(spark, path).collect().toSet)
    // the load's shared diffs are built before the sync, as a load's
    // outbox publish builds them
    val vs = BucketedMergeSink.manifestVersions(spark, path)
    BucketedMergeSink.withDeltas(spark, path, Nil) { deltas =>
      vs.sliding(2).foreach { case Seq(a, b) => deltas(a, b).count(); case _ => }
      assert(cachesAtCommit(persisted)(BucketedMergeSink.syncIndex(spark, deltas,
        Derived.MinhashIndex(idx, textCol = "name"))) == Seq(1))
    }
    assert(storedPostings(idx) == graft.ops.Dedup.minhashBandIndex(
      BucketedMergeSink.read(spark, path), idCol = "id", textCol = "name")
      .as[(Long, Int, Long)].collect().toSet)
  }

  test("subscribeFeed: a replica built from the outbox alone equals the " +
    "target through inserts, updates, and deletes; idempotent; " +
    "crash-replay safe; refuses a pruned outbox") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val replica = tmpTarget() + "-replica"
    def targetRows() = BucketedMergeSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    def replicaRows() = BucketedMergeSink.read(spark, replica)
      .as[(Long, String, Long)].collect().toSet
    BucketedMergeSink.merge(spark, seed(10), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 4) // v1
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    // first subscription: the base partition materializes the replica
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(1L))
    assert(replicaRows() == targetRows(), "base application = snapshot")
    // v2 updates key 3 and inserts 11; v3 deletes key 5
    BucketedMergeSink.merge(spark,
      Seq((3L, "NEW", 33L), (11L, "eleven", 110L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq(5L).toDF("id"), path,
      "delete", identifier = "id") // v3
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(2L, 3L), "catch-up applies only new batches")
    assert(replicaRows() == targetRows(),
      "replica tracks update + insert + delete")
    assert(!replicaRows().exists(_._1 == 5L))
    assert(replicaRows().exists(r => r._1 == 3L && r._2 == "NEW"))
    // idempotent: nothing pending, nothing changed
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4).isEmpty)
    assert(replicaRows() == targetRows())
    // crash between batch 3's merges and its marker: reconstruct that
    // on-disk state (marker back at 2) — the batch replays and converges
    val applied = new File(replica + ".applied")
    new File(applied, "v000000002").createNewFile()
    new File(applied, "v000000003").delete()
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(3L))
    assert(replicaRows() == targetRows(), "replayed batch is idempotent")
    // a pruned outbox refuses loudly: drop the oldest partition while a
    // FRESH replica would need it (and a holey one refuses for any)
    val fresh = tmpTarget() + "-replica2"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new File(feed, "batch_id=2"))
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed, fresh, numBuckets = 4))
    assert(e.getMessage.contains("gaps"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new File(feed, "batch_id=1"))
    // existing replica is AT batch 3 — ok even though 1,2 are gone
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4).isEmpty)
    // but a replica whose cursor is BEFORE the oldest partition refuses
    new File(applied, "v000000001").createNewFile()
    new File(applied, "v000000003").delete()
    val e2 = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed, replica, numBuckets = 4))
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
  }

  test("compactOutbox: rebases the outbox at a batch — older partitions " +
    "prune, the rebase point becomes a marked base, and a consumer one " +
    "step behind cannot keep ghost rows for pruned deletes") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    def rep(n: String) = tmpTarget() + s"-rep$n"
    BucketedMergeSink.merge(spark, seed(6), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 6) // v1
    BucketedMergeSink.merge(spark, Seq((7L, "seven", 70L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq(2L).toDF("id"), path,
      "delete", identifier = "id") // v3: the delete a lagging consumer must not miss
    BucketedMergeSink.merge(spark, Seq((3L, "THREE", 33L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v4
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    def targetRows() = BucketedMergeSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    def rows(p: String) = BucketedMergeSink.read(spark, p)
      .as[(Long, String, Long)].collect().toSet
    // consumer A fully caught up; consumer B stops at batch 2 (still has id 2)
    val a = rep("A"); val b = rep("B")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, a, numBuckets = 4)
      == Seq(1L, 2L, 3L, 4L))
    assert(BucketedMergeSink.subscribeFeed(spark, feed, b, numBuckets = 4,
      upTo = 2L) == Seq(1L, 2L))
    assert(rows(b).exists(_._1 == 2L), "B's cursor predates the delete")
    // rebase at batch 3: partitions 1,2 collapse into a base at 3
    assert(BucketedMergeSink.compactOutbox(spark, feed, 3L) == Seq(1L, 2L))
    assert(!new File(feed, "batch_id=1").exists())
    assert(!new File(feed, "batch_id=2").exists())
    assert(new File(new File(feed, "batch_id=3"), "_base").exists(),
      "the rebase point must be marked as a base")
    assert(new File(feed, "batch_id=4").exists(), "later deltas untouched")
    // idempotent
    assert(BucketedMergeSink.compactOutbox(spark, feed, 3L).isEmpty)
    // consumer A (cursor 4): nothing pending, state unchanged
    assert(BucketedMergeSink.subscribeFeed(spark, feed, a, numBuckets = 4).isEmpty)
    assert(rows(a) == targetRows())
    // consumer B (cursor 2): the base applies as a FULL REPLACEMENT —
    // id 2's delete was pruned with partition 3's delta form, so an
    // upsert-only application would have stranded it forever
    assert(BucketedMergeSink.subscribeFeed(spark, feed, b, numBuckets = 4)
      == Seq(3L, 4L))
    assert(rows(b) == targetRows(), "lagging consumer converges via the base")
    assert(!rows(b).exists(_._1 == 2L), "no ghost row for the pruned delete")
    // a fresh consumer bootstraps from the base
    val c = rep("C")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, c, numBuckets = 4)
      == Seq(3L, 4L))
    assert(rows(c) == targetRows())
    // a consumer whose cursor predates the rebase window refuses loudly
    val d = rep("D")
    val dApplied = new File(d + ".applied")
    BucketedMergeSink.subscribeFeed(spark, feed, d, numBuckets = 4): Unit
    new File(dApplied, "v000000001").createNewFile()
    new File(dApplied, "v000000004").delete()
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed, d, numBuckets = 4))
    assert(e.getMessage.contains("pruned"), e.getMessage)
  }

  test("publishChangeFeed respects a compacted outbox: retention deeper " +
    "than outbox_keep never resurrects pruned partitions, and the " +
    "producer keeps publishing after the oldest retained version's own " +
    "partition was deliberately rebased away (the retention-4/keep-1 " +
    "sixth-run shape that used to throw the gap error)") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    def batchIds(): Seq[Long] = Option(new File(feed).listFiles())
      .getOrElse(Array.empty).toSeq.map(_.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
    BucketedMergeSink.merge(spark, seed(3), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 4) // v1
    BucketedMergeSink.publishChangeFeed(spark, path, feed): Unit // base @1
    BucketedMergeSink.compactOutboxKeep(spark, feed, 1): Unit
    assert(batchIds() == Seq(1L))
    // six Runner-shaped cycles: catch-up BEFORE load, load, catch-up
    // AFTER, outbox_keep 1 compaction. Retention (4) stays deeper than
    // keep (1) the whole time, so versions BELOW the rebase point are
    // always retained — publish must treat the marked base as the
    // floor, not as a hole to refill or a gap to die on.
    (2L to 6L).foreach { i =>
      val pre = BucketedMergeSink.publishChangeFeed(spark, path, feed)
      assert(pre.isEmpty,
        s"run $i: the before-load catch-up resurrected $pre — a " +
          "compacted outbox must not re-grow")
      assert(batchIds() == Seq(i - 1),
        s"run $i: outbox re-grew to ${batchIds()}")
      BucketedMergeSink.merge(spark,
        Seq((100L + i, s"n$i", i * 10)).toDF("id", "name", "v"),
        path, "upsert", Seq("id")) // v_i
      assert(BucketedMergeSink.publishChangeFeed(spark, path, feed)
        == Seq(i), s"run $i publishes exactly its own delta")
      BucketedMergeSink.compactOutboxKeep(spark, feed, 1): Unit
      assert(batchIds() == Seq(i) &&
        new File(new File(feed, s"batch_id=$i"), "_base").exists(),
        s"run $i: keep=1 leaves exactly the rebased head")
    }
    // the compacted outbox still serves a fresh consumer
    val rep = tmpTarget() + "-rep"
    assert(BucketedMergeSink.subscribeFeed(spark, feed, rep, numBuckets = 4)
      == Seq(6L))
    assert(BucketedMergeSink.read(spark, rep)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet)
    // a TRUE gap still refuses loudly — the floor logic must not have
    // widened the silent path. Hand-prune OUTSIDE compactOutbox: one
    // more load + publish gives {6(base), 7}; stripping 6 (and 7's lack
    // of a base marker) leaves the oldest existing partition an
    // unmarked delta while the oldest retained version's partition is
    // missing and its predecessor GC'd — unreconstructable.
    BucketedMergeSink.merge(spark,
      Seq((200L, "x", 1L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v7; retention 4 keeps {4,5,6,7}
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == Seq(7L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new File(feed, "batch_id=6"))
    val e = intercept[IllegalStateException](
      BucketedMergeSink.publishChangeFeed(spark, path, feed))
    assert(e.getMessage.contains("can never produce"), e.getMessage)
  }

  test("compactOutbox: a crash between the swap's delete and rename " +
    "heals on re-run; consumers meanwhile refuse the visible gap loudly") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(5), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 4) // v1
    BucketedMergeSink.merge(spark, Seq((6L, "f", 60L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq((7L, "g", 70L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v3
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    // reconstruct the crash window: staged base complete (marker last),
    // original partition deleted, rename never ran
    BucketedMergeSink.compactOutbox(spark, feed, 2L)
    val staged = new File(feed, ".batch_id=2.base-stage")
    val part = new File(feed, "batch_id=2")
    assert(part.renameTo(staged), "set up: move the base back to staged")
    // a consumer now sees only the unmarked delta at batch 3 (batch 1
    // was pruned by the rebase, batch 2 is stuck in staging) — loud
    // baseless-prefix refusal, never a silently incomplete replica
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed, tmpTarget() + "-rx",
        numBuckets = 4))
    assert(e.getMessage.contains("no base"), e.getMessage)
    // re-running the rebase heals the swap and converges
    assert(BucketedMergeSink.compactOutbox(spark, feed, 2L).isEmpty)
    assert(part.exists() && new File(part, "_base").exists())
    val rep = tmpTarget() + "-rh"
    BucketedMergeSink.subscribeFeed(spark, feed, rep, numBuckets = 4): Unit
    assert(BucketedMergeSink.read(spark, rep)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet)
  }

  test("subscribeFeed reconstructs an SCD2 target's full history from " +
    "its outbox — composite (key, valid_from) pairing, no deletes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val rep = tmpTarget() + "-rep"
    BucketedMergeSink.merge(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      path, "scd2", Seq("id"), numBuckets = 2, retainVersions = 4,
      scd2Ts = "2024-01-01 00:00:00") // v1
    BucketedMergeSink.merge(spark, Seq((2L, "B")).toDF("id", "v"),
      path, "scd2", Seq("id"), scd2Ts = "2024-06-01 00:00:00") // v2
    BucketedMergeSink.publishChangeFeed(spark, path, feed,
      extraKey = Seq("valid_from"))
    BucketedMergeSink.subscribeFeed(spark, feed, rep,
      key = Seq("id", "valid_from"), numBuckets = 2): Unit
    def hist(p: String) = BucketedMergeSink.read(spark, p)
      .select(col("id"), col("v"),
        org.apache.spark.sql.functions.date_format(col("valid_from"), "yyyy-MM").as("vf"),
        col("valid_to").isNull.as("open"))
      .as[(Long, String, String, Boolean)].collect().toSet
    assert(hist(rep) == hist(path),
      "replica must carry the full history: closed AND open versions")
    assert(hist(rep).count(_._1 == 2L) == 2, "key 2 has two history rows")
  }

  test("publishChangeFeed: a torn publish (no _SUCCESS) is rewritten by " +
    "the next catch-up; the consumer stops at it WITHOUT advancing") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val replica = tmpTarget() + "-rep"
    BucketedMergeSink.merge(spark, seed(6), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 6) // v1
    BucketedMergeSink.merge(spark, Seq((7L, "g", 70L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq(3L).toDF("id"), path,
      "delete", identifier = "id") // v3: the delete a half-applied feed loses
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(1L, 2L, 3L))
    // crash-inject batch 2 two ways across the test: first PARTIAL part
    // files (_SUCCESS removed, data left), the worst case — the old
    // dir-exists skip would apply these rows and mark past them
    assert(new File(new File(feed, "batch_id=2"), "_SUCCESS").delete())
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(1L),
      "the catch-up must STOP at the torn partition, applying only batch 1")
    // re-run: still parked at the frontier — the cursor did NOT advance
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4).isEmpty)
    // the producer's next catch-up repairs EXACTLY the torn batch
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == Seq(2L))
    assert(new File(new File(feed, "batch_id=2"), "_SUCCESS").exists())
    // and the consumer now converges, delete included
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(2L, 3L))
    assert(BucketedMergeSink.read(spark, replica)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet)
    // second shape: a dir holding only _temporary/ (crash before any
    // task committed). Inject on a NEW version's partition.
    BucketedMergeSink.merge(spark, Seq((8L, "h", 80L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v4
    assert(new File(new File(feed, "batch_id=4"), "_temporary").mkdirs())
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4).isEmpty, "an empty torn dir must not apply as a no-op")
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == Seq(4L))
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(4L))
    assert(BucketedMergeSink.read(spark, replica)
      .as[(Long, String, Long)].collect().toSet.exists(_._1 == 8L))
  }

  test("publishChangeFeed bootstrap is stage-and-rename atomic: a crash " +
    "before the swap re-publishes; a finished stage completes the swap") {
    import spark.implicits._
    // torn stage (no marker yet): junk in the staged dir is overwritten
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(5), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2) // v1
    BucketedMergeSink.merge(spark, Seq((6L, "f", 60L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq((7L, "g", 70L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v3: retains {v2,v3} — mid-life base at 2
    val staged = new File(feed, ".batch_id=2.base-stage")
    staged.mkdirs()
    new File(staged, "junk.bin").createNewFile()
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(2L, 3L))
    assert(!staged.exists(), "the stage dir was swapped into place")
    val part = new File(feed, "batch_id=2")
    assert(new File(part, "_base").exists() &&
      new File(part, "_SUCCESS").exists() && !new File(part, "junk.bin").exists())
    // finished stage, crash before rename: marker present in the staged
    // dir, partition absent, NO deltas yet (bootstrap runs before the
    // delta loop, so a crash inside it leaves the feed empty) → the next
    // publish completes the swap WITHOUT rewriting (file identity
    // preserved) and then publishes the deltas
    org.apache.hadoop.fs.FileUtil.fullyDelete(new File(feed, "batch_id=3")): Unit
    assert(part.renameTo(staged), "set up: un-swap the base")
    val stagedFiles = staged.listFiles().map(_.getName).toSet
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(2L, 3L))
    assert(part.exists() && !staged.exists())
    assert(part.listFiles().map(_.getName).toSet == stagedFiles,
      "the finished stage must be renamed, not rewritten")
    // converged end state: a fresh consumer reconstructs the target
    val rep = tmpTarget() + "-rep"
    BucketedMergeSink.subscribeFeed(spark, feed, rep, numBuckets = 4): Unit
    assert(BucketedMergeSink.read(spark, rep)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet)
  }

  test("compactOutbox refuses to rebase across a torn partition; " +
    "compactOutboxKeep clamps to a lagging REGISTERED consumer's cursor") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(6), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 8) // v1
    for (i <- 7 to 10) // v2..v5
      BucketedMergeSink.merge(spark,
        Seq((i.toLong, s"n$i", i * 10L)).toDF("id", "name", "v"),
        path, "upsert", Seq("id"))
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      (1L to 5L))
    // torn partition below the rebase point → loud refusal, no prune
    assert(new File(new File(feed, "batch_id=2"), "_SUCCESS").delete())
    val e = intercept[IllegalArgumentException](
      BucketedMergeSink.compactOutbox(spark, feed, 4L))
    assert(e.getMessage.contains("unpublished"), e.getMessage)
    assert(new File(feed, "batch_id=1").exists(), "nothing was pruned")
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == Seq(2L))
    // a REGISTERED consumer parked at batch 2 clamps keep=2's rebase
    // (requested at 4) down to batch 3 — its continuity survives
    val lag = tmpTarget() + "-lag"
    assert(BucketedMergeSink.subscribeFeed(spark, feed, lag, numBuckets = 4,
      upTo = 2L, consumerName = "lagger") == Seq(1L, 2L))
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed, keep = 2) ==
      Seq(1L, 2L))
    assert(new File(new File(feed, "batch_id=3"), "_base").exists(),
      "rebase clamped to lagger's cursor + 1, not the requested batch 4")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, lag, numBuckets = 4,
      consumerName = "lagger") == Seq(3L, 4L, 5L))
    assert(BucketedMergeSink.read(spark, lag)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet,
      "the held-back replica converges without a rebuild")
    // now fully caught up: the clamp releases and keep=2 takes effect
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed, keep = 2) ==
      Seq(3L))
    assert(new File(new File(feed, "batch_id=4"), "_base").exists())
    // a DEAD registered consumer would hold compaction back FOREVER
    // (the outbox grows one partition per version, unbounded) —
    // unregisterConsumer is the explicit operational release valve
    val ghost = tmpTarget() + "-ghost"
    assert(BucketedMergeSink.subscribeFeed(spark, feed, ghost, numBuckets = 4,
      upTo = 4L, consumerName = "ghost") == Seq(4L)) // parks at 4, dies
    for (i <- 11 to 12) // v6, v7
      BucketedMergeSink.merge(spark,
        Seq((i.toLong, s"n$i", i * 10L)).toDF("id", "name", "v"),
        path, "upsert", Seq("id"))
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) ==
      Seq(6L, 7L))
    // batches {4(base),5,6,7}: keep=2 wants 6, ghost clamps to 5
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed, keep = 2) ==
      Seq(4L))
    assert(new File(new File(feed, "batch_id=5"), "_base").exists())
    // and holds there as long as ghost stays registered
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed, keep = 2).isEmpty)
    assert(BucketedMergeSink.unregisterConsumer(spark, feed, "ghost"))
    assert(!BucketedMergeSink.unregisterConsumer(spark, feed, "ghost"),
      "idempotent: second deregistration reports nothing existed")
    // released: the laggiest REGISTERED cursor is now lagger at 5
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed, keep = 2) ==
      Seq(5L))
    assert(new File(new File(feed, "batch_id=6"), "_base").exists())
    // lagger (cursor 5) applies the rebased base as a full replacement
    // and converges — deregistering ghost stranded only ghost
    assert(BucketedMergeSink.subscribeFeed(spark, feed, lag, numBuckets = 4,
      consumerName = "lagger") == Seq(6L, 7L))
    assert(BucketedMergeSink.read(spark, lag)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet)
    // an UNREGISTERED consumer keeps today's semantics: a fresh outbox
    // rebases past its unrecorded cursor and it refuses loudly
    val path2 = tmpTarget()
    val feed2 = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(4), path2, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 8) // v1
    for (i <- 5 to 7) // v2..v4
      BucketedMergeSink.merge(spark,
        Seq((i.toLong, s"n$i", i * 10L)).toDF("id", "name", "v"),
        path2, "upsert", Seq("id"))
    BucketedMergeSink.publishChangeFeed(spark, path2, feed2): Unit
    val anon = tmpTarget() + "-anon"
    assert(BucketedMergeSink.subscribeFeed(spark, feed2, anon,
      numBuckets = 4, upTo = 1L) == Seq(1L))
    assert(BucketedMergeSink.compactOutboxKeep(spark, feed2, keep = 2) ==
      Seq(1L, 2L), "no registration, no clamp")
    val e2 = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed2, anon, numBuckets = 4))
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
  }

  test("subscribeFeed: refuses a pre-unification streaming feed (batch 0) " +
    "and a baseless hand-pruned prefix, loudly") {
    import spark.implicits._
    // batch ids numbered from 0 = the pre-unification streaming layout —
    // a fresh consumer's cursor of 0 would silently skip batch 0
    val streamy = tmpTarget() + "-sfeed"
    new File(streamy, "batch_id=0").mkdirs()
    val e0 = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, streamy, tmpTarget() + "-r0"))
    assert(e0.getMessage.contains("pre-unification"), e0.getMessage)
    // a mid-life outbox whose base partition lost its marker (prefix
    // pruned by hand, not via compactOutbox) must refuse fresh consumers
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    BucketedMergeSink.merge(spark, seed(4), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2) // v1
    BucketedMergeSink.merge(spark, Seq((5L, "e", 50L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2
    BucketedMergeSink.merge(spark, Seq((6L, "f", 60L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v3: retains {v2, v3} — base will be at 2
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    assert(new File(new File(feed, "batch_id=2"), "_base").exists(),
      "a mid-life bootstrap partition is marked as a base")
    new File(new File(feed, "batch_id=2"), "_base").delete()
    val e1 = intercept[IllegalArgumentException](
      BucketedMergeSink.subscribeFeed(spark, feed, tmpTarget() + "-r1",
        numBuckets = 4))
    assert(e1.getMessage.contains("no base"), e1.getMessage)
  }

  test("subscribeFeed folds many pending batches into one net change: " +
    "one call, batch-by-batch calls and the target agree; the rebase " +
    "base is the all-inserts snapshot") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    def rep(n: String) = tmpTarget() + s"-rep$n"
    def rows(p: String) = BucketedMergeSink.read(spark, p)
      .as[(Long, String, Long)].collect().toSet
    def upsert(rs: (Long, String, Long)*): Unit =
      BucketedMergeSink.merge(spark, rs.toDF("id", "name", "v"), path,
        "upsert", Seq("id"))
    def delete(ids: Long*): Unit =
      BucketedMergeSink.merge(spark, ids.toDF("id"), path, "delete",
        identifier = "id")
    BucketedMergeSink.merge(spark, seed(6), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 8) // v1; keys 4..6 stay untouched
    upsert((100L, "a", 1L)) // v2: key 100 inserted
    upsert((100L, "b", 2L), (2L, "TWO", 22L)) // v3: 100 and 2 updated
    delete(100L, 3L) // v4: 100 and 3 deleted
    upsert((100L, "c", 3L)) // v5: 100 re-inserted
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == (1L to 5L))
    // one call from scratch: the base starts the fold, one replacing merge
    val one = rep("one")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, one, numBuckets = 4)
      == (1L to 5L))
    assert(rows(one) == rows(path))
    assert(BucketedMergeSink.manifestVersions(spark, one) == Seq(1L),
      "a replacing fold commits exactly one version")
    // batch by batch via upTo
    val each = rep("each")
    (1L to 5L).foreach(b => assert(BucketedMergeSink.subscribeFeed(spark,
      feed, each, numBuckets = 4, upTo = b) == Seq(b)))
    assert(rows(each) == rows(path))
    // the base, then the four pending deltas in one call: one commit
    // deletes key 3 and upserts keys 2 and 100, not four rounds
    val caught = rep("caught")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, caught,
      numBuckets = 4, upTo = 1L) == Seq(1L))
    assert(BucketedMergeSink.subscribeFeed(spark, feed, caught,
      numBuckets = 4) == (2L to 5L))
    assert(rows(caught) == rows(path))
    assert(rows(caught).contains((100L, "c", 3L)) &&
      rows(caught).contains((2L, "TWO", 22L)) && !rows(caught).exists(_._1 == 3L))
    assert(BucketedMergeSink.manifestVersions(spark, caught).last == 2L,
      "base + one net apply")
    // a composite-key replica with a pending delete still refuses
    val comp = rep("comp")
    BucketedMergeSink.subscribeFeed(spark, feed, comp, key = Seq("id", "name"),
      numBuckets = 4, upTo = 1L): Unit
    val e = intercept[IllegalArgumentException](BucketedMergeSink
      .subscribeFeed(spark, feed, comp, key = Seq("id", "name"), numBuckets = 4))
    assert(e.getMessage.contains("deletes route by a single identifier column"),
      e.getMessage)
    // while v4 is retained, the rebase base at 4 is its all-inserts form
    assert(BucketedMergeSink.compactOutbox(spark, feed, 4L) == (1L to 3L))
    def opRows(df: DataFrame) = df.select("_op", "id", "name", "v")
      .as[(String, Long, String, Long)].collect().toSet
    assert(opRows(spark.read.parquet(s"$feed/batch_id=4")) ==
      opRows(BucketedMergeSink.readVersion(spark, path, 4L)
        .withColumn("_op", lit("insert"))))
    // and a fresh consumer of the rebased outbox still reaches the target
    val fresh = rep("fresh")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, fresh, numBuckets = 4)
      == Seq(4L, 5L))
    assert(rows(fresh) == rows(path))
  }

  test("the outbox fold keeps a table column named batch_id; a composite " +
    "key refuses any pending delete, also one a later batch undoes") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    def rep(n: String) = tmpTarget() + s"-rep$n"
    def rows(p: String) = BucketedMergeSink.read(spark, p)
      .select("id", "batch_id", "v").as[(Long, Long, Long)].collect().toSet
    def upsert(rs: (Long, Long, Long)*): Unit =
      BucketedMergeSink.merge(spark, rs.toDF("id", "batch_id", "v"), path,
        "upsert", Seq("id"))
    BucketedMergeSink.merge(spark,
      Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L)).toDF("id", "batch_id", "v"),
      path, "upsert", Seq("id"), numBuckets = 4, retainVersions = 8) // v1
    upsert((1L, 11L, 5L)) // v2: the row's own batch_id changes
    BucketedMergeSink.merge(spark, Seq(3L).toDF("id"), path, "delete",
      identifier = "id") // v3
    upsert((3L, 33L, 3L)) // v4: key 3 back, same (id, v)
    assert(BucketedMergeSink.publishChangeFeed(spark, path, feed) == (1L to 4L))
    val want = Set((1L, 11L, 5L), (2L, 20L, 2L), (3L, 33L, 3L))
    assert(rows(path) == want)
    // a fresh replica (replacing fold) and an existing one (upsert leg)
    val one = rep("one")
    BucketedMergeSink.subscribeFeed(spark, feed, one, numBuckets = 4): Unit
    assert(rows(one) == want)
    val caught = rep("caught")
    BucketedMergeSink.subscribeFeed(spark, feed, caught, numBuckets = 4,
      upTo = 1L): Unit
    assert(BucketedMergeSink.subscribeFeed(spark, feed, caught,
      numBuckets = 4) == (2L to 4L))
    assert(rows(caught) == want)
    // composite key (id, v): (3, 3) is deleted in batch 3 and re-inserted
    // in batch 4; stopping at 3 and spanning both refuse alike
    val comp = rep("comp")
    BucketedMergeSink.subscribeFeed(spark, feed, comp, key = Seq("id", "v"),
      numBuckets = 4, upTo = 2L): Unit
    for (upTo <- Seq(3L, Long.MaxValue)) {
      val e = intercept[IllegalArgumentException](BucketedMergeSink
        .subscribeFeed(spark, feed, comp, key = Seq("id", "v"),
          numBuckets = 4, upTo = upTo))
      assert(e.getMessage.contains("carries delete ops in batch 3") &&
        e.getMessage.contains("deletes route by a single identifier column"),
        e.getMessage)
    }
    // the rebase base keeps the column too
    assert(BucketedMergeSink.compactOutbox(spark, feed, 4L) == (1L to 3L))
    assert(spark.read.parquet(s"$feed/batch_id=4")
      .select("id", "batch_id", "v").as[(Long, Long, Long)].collect().toSet == want)
    val fresh = rep("fresh")
    assert(BucketedMergeSink.subscribeFeed(spark, feed, fresh, numBuckets = 4)
      == Seq(4L))
    assert(rows(fresh) == want)
  }

  test("subscribeFeed: a consumer arriving mid-life starts from the " +
    "all-inserts base of a feed that began after the target's window slid") {
    import spark.implicits._
    val path = tmpTarget()
    val feed = tmpTarget() + "-feed"
    val replica = tmpTarget() + "-replica"
    BucketedMergeSink.merge(spark, seed(6), path, "upsert", Seq("id"),
      numBuckets = 4, retainVersions = 2) // v1
    BucketedMergeSink.merge(spark, Seq((7L, "seven", 70L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v2: retains {v1, v2}
    BucketedMergeSink.merge(spark, Seq((8L, "eight", 80L)).toDF("id", "name", "v"),
      path, "upsert", Seq("id")) // v3: retains {v2, v3} — v1 GC'd
    // feed starts NOW: base = all-inserts snapshot of v2
    BucketedMergeSink.publishChangeFeed(spark, path, feed)
    assert(BucketedMergeSink.subscribeFeed(spark, feed, replica,
      numBuckets = 4) == Seq(2L, 3L))
    assert(BucketedMergeSink.read(spark, replica)
        .as[(Long, String, Long)].collect().toSet ==
      BucketedMergeSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet,
      "mid-life subscription reconstructs the current state")
  }
}
