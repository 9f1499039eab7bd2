package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{BucketedMergeSink, MergeSink}

/** Bucket chains (a manifest entry = base dir + appended delta dirs):
  * seeded load sequences checked step by step against a flat
  * [[MergeSink.mergeIntoParquet]] twin, and crashes at the commit of a
  * delta append and of a fold. */
class BucketChainSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val buckets = 4
  private val retain = 3

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-chain").toString + "/" + name

  /** One row as strings, null-safe: (id, name, v). */
  private type Row3 = Seq[String]

  private def rowsOf(df: DataFrame): Set[Row3] =
    df.select("id", "name", "v").collect().toSeq
      .map(r => (0 until 3).map(i => String.valueOf(r.get(i)))).toSet

  /** The row-level feed that takes `from` to `to`, in
    * [[BucketedMergeSink.changesBetween]]'s vocabulary. */
  private def feed(from: Set[Row3], to: Set[Row3]): Set[Row3] = {
    val f = from.map(r => r.head -> r).toMap
    val t = to.map(r => r.head -> r).toMap
    (f.keySet ++ t.keySet).toSeq.flatMap { k =>
      (f.get(k), t.get(k)) match {
        case (None, Some(b)) => Seq("insert" +: b)
        case (Some(a), None) => Seq("delete" +: a)
        case (Some(a), Some(b)) if a != b => Seq("update_pre" +: a, "update_post" +: b)
        case _ => Nil
      }
    }.toSet
  }

  private def rowsDf(rows: Seq[(Long, String, Long)]): DataFrame = rows.toDF("id", "name", "v")

  /** One step of a sequence. */
  private sealed trait Step
  private final case class Load(loadType: String, rows: Seq[(Long, String, Long)],
      dropV: Boolean, excludeName: Boolean) extends Step
  private final case class Delete(ids: Seq[Long]) extends Step
  private final case class Purge(cond: String) extends Step
  private case object Compact extends Step

  private val rowGen: Gen[(Long, String, Long)] = for {
    id <- Gen.choose(0L, 119L)
    name <- Gen.oneOf(Gen.alphaLowerStr.map(_.take(3)), Gen.const(null: String))
    v <- Gen.choose(0L, 999L)
  } yield (id, name, v)

  // mostly small changes (they append), some big enough to fold, and
  // single-row ones that pile deltas onto one chain
  private val stepGen: Gen[Step] = Gen.frequency(
    5 -> (for {
      n <- Gen.choose(1, 3)
      rows <- Gen.listOfN(n, rowGen)
      t <- Gen.oneOf("upsert", "upsert", "update")
      dropV <- Gen.frequency(4 -> false, 1 -> true)
      excl <- Gen.frequency(4 -> false, 1 -> true)
    } yield Load(t, rows, dropV, excl)),
    1 -> Gen.listOfN(45, rowGen).map(Load("upsert", _, dropV = false, excludeName = false)),
    2 -> Gen.listOfN(2, Gen.choose(0L, 119L)).map(Delete(_)),
    1 -> Gen.oneOf(
      Gen.choose(0L, 999L).map(x => Purge(s"v > $x AND v < ${x + 60}")),
      Gen.choose(0, 11).map(k => Purge(s"id % 12 = $k"))),
    1 -> Gen.const(Compact))

  private def sequence(seed: Long, steps: Int): Seq[Step] =
    Gen.listOfN(steps, stepGen).apply(Gen.Parameters.default, Seed(seed)).get

  /** Apply `step` to the bucketed target and to its flat twin. */
  private def applyStep(step: Step, target: String, twin: String): Unit = step match {
    case Load(t, rows, dropV, excl) =>
      val batch = if (dropV) rowsDf(rows).drop("v") else rowsDf(rows)
      val excluded = if (excl) Seq("name") else Nil
      BucketedMergeSink.merge(spark, batch, target, t, Seq("id"), excluded = excluded)
      MergeSink.mergeIntoParquet(spark, batch, twin, t, Seq("id"), excluded = excluded)
    case Delete(ids) =>
      val batch = ids.toDF("id")
      BucketedMergeSink.merge(spark, batch, target, "delete", identifier = "id")
      MergeSink.mergeIntoParquet(spark, batch, twin, "delete", identifier = "id")
    case Purge(cond) =>
      BucketedMergeSink.deleteWhere(spark, target, cond): Unit
      MergeSink.deleteWhere(spark, twin, cond)
    case Compact =>
      BucketedMergeSink.compact(spark, target): Unit
  }

  test("model: seeded load sequences on a chained target equal a flat twin " +
    "after every step — read, every retained readVersion, every consecutive " +
    "changesBetween") {
    var appendedSeen = 0
    var foldedSeen = 0
    Seq(11L, 29L).foreach { seed =>
      val target = tmp("t")
      val twin = tmp("flat")
      val init = (0L until 100L).map(i => (i, s"n$i", i * 7 % 1000))
      BucketedMergeSink.merge(spark, rowsDf(init), target, "upsert", Seq("id"),
        numBuckets = buckets, retainVersions = retain)
      MergeSink.mergeIntoParquet(spark, rowsDf(init), twin, "upsert", Seq("id"))
      // the twin's rows at each target version
      val atVersion = scala.collection.mutable.Map(1L -> rowsOf(spark.read.parquet(twin)))
      sequence(seed, 30).zipWithIndex.foreach { case (step, i) =>
        withClue(s"seed $seed step $i ($step): ") {
          val before = BucketedMergeSink.manifest(spark, target)
          applyStep(step, target, twin)
          val vs = BucketedMergeSink.manifestVersions(spark, target)
          val flat = rowsOf(spark.read.parquet(twin))
          if (!atVersion.contains(vs.last)) atVersion(vs.last) = flat
          val after = BucketedMergeSink.manifest(spark, target)
          after.foreach { case (b, c) =>
            before.get(b).filter(_ != c).foreach { old =>
              if (c.base == old.base) appendedSeen += 1 else foldedSeen += 1
            }
          }
          assert(rowsOf(BucketedMergeSink.read(spark, target)) == flat)
          vs.foreach { v =>
            assert(rowsOf(BucketedMergeSink.readVersion(spark, target, v)) == atVersion(v),
              s"readVersion($v)")
          }
          vs.sliding(2).foreach {
            case Seq(a, b) =>
              val got = BucketedMergeSink.changesBetween(spark, target, a, b)
                .select("_op", "id", "name", "v").collect().toSeq
                .map(r => (0 until 4).map(j => String.valueOf(r.get(j)))).toSet
              assert(got == feed(atVersion(a), atVersion(b)), s"changesBetween($a, $b)")
            case _ =>
          }
        }
      }
      // every chain is bounded by the fold rule
      BucketedMergeSink.manifest(spark, target).values.foreach(c =>
        assert(c.deltas.size < 8, s"chain of ${c.deltas.size} deltas"))
    }
    assert(appendedSeen > 0 && foldedSeen > 0,
      s"the sequences must both append ($appendedSeen) and fold ($foldedSeen)")
  }

  test("a delta holds the net change only: a one-row upsert appends one " +
    "row to its bucket's chain and leaves the base in place") {
    val path = tmp("t")
    BucketedMergeSink.merge(spark, rowsDf((0L until 100L).map(i => (i, s"n$i", i))),
      path, "upsert", Seq("id"), numBuckets = buckets)
    val before = BucketedMergeSink.manifest(spark, path)
    BucketedMergeSink.merge(spark, rowsDf(Seq((7L, "seven", 70L))), path, "upsert", Seq("id"))
    val after = BucketedMergeSink.manifest(spark, path)
    val hit = after.keys.filter(b => after(b) != before(b)).toSeq
    assert(hit.size == 1)
    val chain = after(hit.head)
    assert(chain.base == before(hit.head).base && chain.deltas.map(_.rows) == Seq(1L))
    assert(chain.base.rows == before(hit.head).base.rows)
    assert(rowsOf(BucketedMergeSink.read(spark, path).filter(col("id") === 7L)) ==
      Set(Seq("7", "seven", "70")))
  }

  test("an scd2 layout holds several rows per key, so it never appends: a " +
    "purge of a closed version alone keeps the key's open version, as the " +
    "flat sink does") {
    val path = tmp("t")
    val twin = tmp("flat")
    val boot = rowsDf((0L until 40L).map(i => (i, s"n$i", i)))
    val change = rowsDf(Seq((7L, "seven", 70L)))
    Seq(path -> 1, twin -> 0).foreach { case (p, n) =>
      def load(df: DataFrame, ts: String) =
        if (n > 0) BucketedMergeSink.merge(spark, df, p, "scd2", Seq("id"),
          numBuckets = n, scd2Ts = ts)
        else MergeSink.mergeIntoParquet(spark, df, p, "scd2", Seq("id"), scd2Ts = ts)
      load(boot, "2024-01-01 00:00:00")
      load(change, "2024-06-01 00:00:00")
    }
    val before = BucketedMergeSink.manifest(spark, path)
    // one matching row of 41: far under the half-base bound
    BucketedMergeSink.deleteWhere(spark, path, "valid_to < '2024-07-01'")
    MergeSink.deleteWhere(spark, twin, "valid_to < '2024-07-01'")
    def versions(df: DataFrame) =
      df.select("id", "name", "v", "valid_from", "valid_to", "is_current").collect()
        .map(r => (0 until 6).map(i => String.valueOf(r.get(i)))).toSet
    val got = versions(BucketedMergeSink.read(spark, path))
    assert(got == versions(spark.read.parquet(twin)))
    assert(got.count(_.head == "7") == 1 && got.exists(r => r.head == "7" && r(1) == "seven"),
      "key 7's open version survives")
    val chain = BucketedMergeSink.manifest(spark, path)(0)
    assert(chain.deltas.isEmpty && chain.base != before(0).base, "the bucket folds")
  }

  test("a pre-chain one-dir manifest line still reads, and its bucket " +
    "folds on the next write (its base's rows are not recorded)") {
    val path = tmp("t")
    BucketedMergeSink.merge(spark, rowsDf((0L until 40L).map(i => (i, s"n$i", i))),
      path, "upsert", Seq("id"), numBuckets = buckets)
    // rewrite the manifest in the pre-chain `bucket <TAB> commit` shape
    val man = new File(new File(path, "_graft_manifest"), "v000000001")
    val legacy = BucketedMergeSink.manifest(spark, path).toSeq.sortBy(_._1)
      .map { case (b, c) => s"$b\t${c.base.commit}" }.mkString("", "\n", "\n")
    Files.write(man.toPath, legacy.getBytes("UTF-8"))
    new File(man.getParentFile, s".${man.getName}.crc").delete() // the local fs's checksum
    assert(BucketedMergeSink.manifest(spark, path).values.forall(_.base.rows == -1L))
    assert(BucketedMergeSink.read(spark, path).count() == 40)
    BucketedMergeSink.merge(spark, rowsDf(Seq((3L, "x", 0L))), path, "upsert", Seq("id"))
    val touched = BucketedMergeSink.manifest(spark, path).values.filter(_.base.rows >= 0)
    assert(touched.size == 1 && touched.head.deltas.isEmpty, "the touched bucket folds")
    assert(BucketedMergeSink.read(spark, path).count() == 40)
  }

  /** Every leaf dir some retained manifest's chain names, and the data
    * dir's commit dirs. */
  private def referenced(path: String): Set[String] =
    BucketedMergeSink.manifestVersions(spark, path).flatMap { v =>
      val m = new File(new File(path, "_graft_manifest"), f"v$v%09d")
      scala.io.Source.fromFile(m).getLines().filter(_.nonEmpty).flatMap { l =>
        val f = l.split("\t")
        f.tail.map(d => s"${d.split(":").head}/gbucket=${f.head}")
      }.toSeq
    }.toSet

  private def commitDirs(path: String): Set[String] =
    new File(path, "data").listFiles().filter(_.isDirectory).map(_.getName).toSet

  // the crashed commit's data dir is an orphan until the retry's GC
  private def crashAt(label: String, batch: => DataFrame, expectFold: Boolean): Unit = {
    val crashed = tmp("crashed")
    val clean = tmp("clean")
    val base = rowsDf((0L until 100L).map(i => (i, s"n$i", i)))
    val first = rowsDf(Seq((1L, "a", 1L), (2L, "b", 2L)))
    Seq(crashed, clean).foreach { p =>
      BucketedMergeSink.merge(spark, base, p, "upsert", Seq("id"),
        numBuckets = buckets, retainVersions = retain)
      BucketedMergeSink.merge(spark, first, p, "upsert", Seq("id"))
    }
    assert(BucketedMergeSink.manifest(spark, crashed).values.exists(_.deltas.nonEmpty),
      "the second load appends deltas")
    val before = rowsOf(BucketedMergeSink.read(spark, crashed))
    val manBefore = BucketedMergeSink.manifest(spark, crashed)
    val dirsBefore = commitDirs(crashed)
    BucketedMergeSink.interleaveBeforeCommit = () => throw new RuntimeException("crash")
    val e = try intercept[RuntimeException] {
      BucketedMergeSink.merge(spark, batch, crashed, "upsert", Seq("id"))
    } finally BucketedMergeSink.interleaveBeforeCommit = () => ()
    assert(e.getMessage == "crash", s"$label: $e")
    assert(BucketedMergeSink.manifest(spark, crashed) == manBefore, s"$label: manifest moved")
    assert(rowsOf(BucketedMergeSink.read(spark, crashed)) == before, s"$label: rows moved")
    assert((commitDirs(crashed) -- dirsBefore).size == 1, s"$label: the crash leaves one orphan")
    // the retry equals a crash-free run, in rows and in chain shape
    BucketedMergeSink.merge(spark, batch, crashed, "upsert", Seq("id"))
    BucketedMergeSink.merge(spark, batch, clean, "upsert", Seq("id"))
    assert(rowsOf(BucketedMergeSink.read(spark, crashed)) ==
      rowsOf(BucketedMergeSink.read(spark, clean)), s"$label: retry != crash-free run")
    def shape(p: String) = BucketedMergeSink.manifest(spark, p).view
      .mapValues(c => (c.base.rows, c.deltas.map(_.rows))).toMap
    assert(shape(crashed) == shape(clean), s"$label: chain shapes differ")
    val folded = BucketedMergeSink.manifest(spark, crashed).exists { case (b, c) =>
      manBefore.get(b).exists(_.base != c.base) }
    assert(folded == expectFold, s"$label: expected fold=$expectFold")
    // no orphan survives the retry's GC, and every dir a retained chain
    // names is on disk
    assert(commitDirs(crashed) == referenced(crashed).map(_.split("/").head),
      s"$label: orphan or missing commit dir")
    referenced(crashed).foreach(d =>
      assert(new File(new File(crashed, "data"), d).isDirectory, s"$label: $d deleted"))
    assert(BucketedMergeSink.manifestVersions(spark, crashed).size == retain)
  }

  test("crash at the commit of a delta append: nothing changes, the retry's " +
    "GC leaves no orphan and the retry equals a crash-free run") {
    crashAt("append", rowsDf(Seq((3L, "c", 3L), (500L, "new", 5L))), expectFold = false)
  }

  test("crash at the commit of a fold: nothing changes, the retry's GC " +
    "leaves no orphan and the retry equals a crash-free run") {
    crashAt("fold", rowsDf((200L until 300L).map(i => (i, s"big$i", i))), expectFold = true)
  }
}
