package graft.sink

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.Derived

/** Bucket-partitioned MERGE target with MANIFEST commits: the
  * incremental-load shape that holds at 100 TB, with all-or-nothing
  * batch visibility.
  *
  * [[MergeSink.mergeIntoParquet]] reads and atomically rewrites the
  * ENTIRE parquet target per batch — semantically right (the reference's
  * own per-batch merge loop, Pype.py:97-148) but O(target) per batch.
  * This sink hash-buckets the target on the merge key so each batch
  * (1) routes its rows to their buckets, (2) reads ONLY the touched
  * buckets, (3) runs the exact same [[MergeSink]] upsert/update/delete
  * semantics against that slice, and (4) publishes only those buckets.
  * A small batch against a 100 TB target touching k of n buckets costs
  * O(k/n · target), not O(target).
  *
  * Physical layout (v2 — the lakehouse-table shape in miniature):
  *
  * {{{
  *   path/_graft_buckets                    <- bucket count, key, schema
  *   path/_graft_manifest/v000000001        <- bucket -> chain map, versioned
  *   path/data/c<commit>/gbucket=0/ part-*.parquet
  *   path/data/c<commit>/gbucket=7/ ...
  * }}}
  *
  * A manifest entry is a CHAIN ([[Chain]]): the bucket's base dir plus
  * the delta dirs appended since, oldest first, each with the rows it
  * holds (`3 <TAB> c1:5000 <TAB> c7:152`; a pre-chain one-dir line
  * `3 <TAB> c1` still reads, as a base of unknown size). A delta holds
  * one commit's net change of its bucket — the new rows of every key the
  * commit changed and a key-only tombstone for every key it removed,
  * tagged with the commit's version — so a small load writes O(batch),
  * not O(bucket): the LSM-tree's small appends with bounded merges
  * (O'Neil et al., Acta Informatica 1996). Readers fold a chain under
  * the newest-op rule: a key any delta names takes the rows of the
  * newest delta naming it (none for a tombstone), and the base rows of
  * every such key drop out by an anti-join against the deltas' keys —
  * the base is never shuffled. [[write]] decides per bucket whether a
  * commit appends a delta or FOLDS the chain into a new base. The rule
  * assumes one row per key: a layout holding SCD2 history has several,
  * so each of its writes folds.
  *
  * Data directories are IMMUTABLE once written. Every version — a
  * creation, merge, compaction or predicate delete — is made by ONE
  * commit step, [[rewriteBuckets]]: it writes every new base and delta
  * under a fresh `data/c<uuid>/` dir, then creates the next manifest
  * version (`fs.create(..., overwrite = false)` — one atomic file
  * creation, [[commitManifest]]) whose entries name them. Readers
  * resolve the highest manifest version into explicit leaf-dir paths,
  * so
  *
  *   - a batch is ALL-OR-NOTHING visible: before the manifest file
  *     exists, readers resolve the old mapping (the new data dir is an
  *     invisible orphan); after, the new one. There is no intermediate
  *     state, unlike the v1 bucket-at-a-time directory swap, and no
  *     rename of live data at all;
  *   - a crash mid-write leaves only an orphan `data/c*` dir, GC'd by
  *     the next write's [[snapshot]]. Retention is a LAYOUT property
  *     ([[Meta]], [[setRetention]]): with 1 a concurrent reader holding
  *     a superseded manifest may find its dirs GC'd and fail loudly,
  *     never read mixed data; with N the last N manifests AND every dir
  *     of every chain any of them references are kept, so readers get
  *     N-deep snapshot isolation ([[readVersion]] time travel) at the
  *     cost of retained storage — retained versions whose chains share
  *     a base share its bytes;
  *   - bucket pruning is PATH-level: a touched-slice or keyed read
  *     simply never lists the other buckets' directories — stronger
  *     than a partition filter, which still enumerates the layout.
  *
  * The bucket count is fixed at creation (changing it moves every row);
  * size it so one bucket of the FULL-GROWN target fits comfortably in a
  * merge job, e.g. target_bytes / ~1 GB.
  *
  * ==Concurrent writers==
  *
  * The supported contract is '''one writer process per target at a
  * time''' — the same serialization the reference gets for free from
  * its single-threaded per-batch loop (`Pype.py:148,186`); [[Runner]]
  * enforces it WITHIN a run by refusing parallel stages that share a
  * target. Across processes nothing can enforce it, so a violation is
  * DETECTED and fails loudly instead of corrupting:
  *
  *   - every write reads its slice through one [[snapshot]] — the
  *     manifest version its reads resolve against, and that version's
  *     mapping — and [[rewriteBuckets]] commits `v(base+1)`
  *     optimistically; if another writer advanced the manifest in
  *     between — or wins the `create(overwrite = false)` of the same
  *     version by a hair — the loser throws [[ConcurrentWriteException]],
  *     publishes NOTHING (its data dir is deleted on the spot; a crash
  *     before that leaves an invisible orphan for the next write's GC),
  *     and the winner's committed state is untouched. The error is
  *     RETRYABLE: re-running the losing merge, compaction or purge
  *     re-reads the winner's state and redoes its work correctly.
  *   - the write-path GC can remove a VIOLATING concurrent writer's
  *     not-yet-committed data dir (it is indistinguishable from a
  *     crashed batch's orphan); that writer then fails at write or
  *     commit time — loudly, never by publishing mixed data. This is
  *     why the contract is single-writer rather than general optimistic
  *     concurrency: detection makes violations safe-and-loud, not
  *     correct.
  *
  * Pinned in BucketedMergeSinkSpec ("concurrent writer" cases).
  */
/** A manifest commit lost to another writer (see
  * [[BucketedMergeSink]] scaladoc, "Concurrent writers"). RETRYABLE:
  * nothing of the losing batch was published and the target is in the
  * winning writer's consistent state — re-running the same merge
  * re-reads that state and re-merges correctly. */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

object BucketedMergeSink {

  /** Partition-column name used when WRITING commit dirs (and reserved
    * in inputs); reads resolve leaf dirs and re-derive it only where
    * needed. */
  val bucketCol = "gbucket"

  private val metaFile = "_graft_buckets" // "_" prefix: invisible to Spark's file index
  private val manifestDir = "_graft_manifest"
  private val dataDir = "data"

  /** Layout metadata. `retainVersions` is a LAYOUT property, persisted
    * at creation like `numBuckets`: retention is a promise to READERS
    * (how deep their snapshot isolation reaches), so it cannot depend on
    * whichever writer happens to commit next — a default-parameter
    * writer silently truncating the window to 1 would delete snapshots
    * readVersion callers were promised. Change it explicitly with
    * [[setRetention]]. */
  final case class Meta(
      numBuckets: Int, key: Seq[String], schema: StructType,
      retainVersions: Int = 1)

  /** Deterministic bucket of a row: Murmur3 `hash()` of the key columns
    * mod the bucket count — the same expression at creation and on every
    * later batch, so routing is stable for the life of the target. */
  def bucketExpr(key: Seq[String], numBuckets: Int) =
    bucketOf(key.map(col), numBuckets)

  private def bucketOf(cols: Seq[org.apache.spark.sql.Column], numBuckets: Int) =
    pmod(hash(cols: _*), lit(numBuckets))

  /** True iff `path` is a bucketed target (has layout metadata). */
  def isBucketed(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, metaFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // --- metadata: one line per field; the schema travels as StructType
  // JSON (stable across Spark versions, unlike DDL round-trips of
  // exotic types). Column names are base64'd per element so a key
  // column name containing the separator can't corrupt the file.
  private def writeMeta(spark: SparkSession, path: String, meta: Meta): Unit = {
    val p = new Path(path, metaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val enc = java.util.Base64.getEncoder
    val body =
      "layout=2\n" +
        s"numBuckets=${meta.numBuckets}\n" +
        s"retainVersions=${meta.retainVersions}\n" +
        s"key=${meta.key.map(k => enc.encodeToString(k.getBytes(StandardCharsets.UTF_8))).mkString(",")}\n" +
        s"schema=${meta.schema.json}\n"
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readMeta(spark: SparkSession, path: String): Meta = {
    val body = readSmallFile(fsOf(spark, path), new Path(path, metaFile))
    val fields = body.linesIterator.filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    require(fields.getOrElse("layout", "1") == "2",
      s"$path holds a pre-manifest (v1) bucketed layout — recreate the " +
        "target (layouts are rebuilt per run; v1 is not readable by v2)")
    val dec = java.util.Base64.getDecoder
    Meta(
      fields("numBuckets").toInt,
      fields("key") match {
        case "" => Nil
        case s => s.split(",").toSeq
          .map(k => new String(dec.decode(k), StandardCharsets.UTF_8))
      },
      DataType.fromJson(fields("schema")).asInstanceOf[StructType],
      // absent in layouts created before retention was persisted -> the
      // historical default
      fields.get("retainVersions").map(_.toInt).getOrElse(1))
  }

  /** Change the layout's retention window. Takes effect at the NEXT
    * commit (an enlarged window fills as new versions land; a shrunken
    * one trims then). Single-writer contract, like every other write. */
  def setRetention(spark: SparkSession, path: String, retainVersions: Int): Unit = {
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    val meta = readMeta(spark, path)
    writeMeta(spark, path, meta.copy(retainVersions = retainVersions))
  }

  /** The retention the layout promises readers at `path`. */
  def retention(spark: SparkSession, path: String): Int =
    readMeta(spark, path).retainVersions

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // ----------------------------------------------------------- manifest

  /** One immutable leaf dir of a bucket: the commit dir holding it and
    * the rows written there (-1: not recorded, a pre-chain manifest). */
  final case class Dir(commit: String, rows: Long)

  /** A bucket's manifest entry: its base dir, then the delta dirs
    * appended since, oldest first (object scaladoc, "Physical
    * layout"). */
  final case class Chain(base: Dir, deltas: Seq[Dir] = Nil) {
    def dirs: Seq[Dir] = base +: deltas
    def commits: Seq[String] = dirs.map(_.commit)
  }

  /** A delta appends while its chain stays under this many deltas; the
    * commit that would make it this deep folds the chain instead. */
  private val maxDeltas = 8

  /** Delta-only columns: the version that wrote the row, and whether
    * it is a key-only tombstone. Reserved in inputs, like [[bucketCol]]. */
  private val seqCol = "__graft_seq"
  private val tombCol = "__graft_tomb"

  /** Current bucket -> chain mapping of the target, empty for an empty
    * target — one read of the newest manifest file. */
  def manifest(spark: SparkSession, path: String): Map[Int, Chain] = {
    val fs = fsOf(spark, path)
    currentManifestFile(fs, path) match {
      case None => Map.empty
      case Some(p) => parseManifest(fs, p)
    }
  }

  /** Absolute paths of the live dirs of `bucket`, base first then its
    * deltas oldest first; empty when the bucket holds no chain. */
  def bucketDataDirs(spark: SparkSession, path: String, bucket: Int): Seq[String] =
    manifest(spark, path).get(bucket).toSeq
      .flatMap(_.commits.map(c => leafDir(path, c, bucket).toString))

  private def parseManifest(fs: FileSystem, p: Path): Map[Int, Chain] =
    readSmallFile(fs, p).linesIterator.filter(_.nonEmpty).map { l =>
      val fields = l.split("\t").toSeq
      val dirs = fields.tail.map(_.split(":", 2) match {
        case Array(c, n) => Dir(c, n.toLong)
        case Array(c) => Dir(c, -1L)
      })
      fields.head.toInt -> Chain(dirs.head, dirs.tail)
    }.toMap

  private def manifestFiles(fs: FileSystem, path: String): Seq[Path] = {
    val dir = new Path(path, manifestDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .sorted // v%09d: lexicographic == numeric
      .map(new Path(dir, _))
  }

  private def currentManifestFile(fs: FileSystem, path: String): Option[Path] =
    manifestFiles(fs, path).lastOption

  /** The manifest versions currently retained, oldest first — each one
    * a consistent snapshot readable via [[readVersion]]. */
  def manifestVersions(spark: SparkSession, path: String): Seq[Long] =
    manifestFiles(fsOf(spark, path), path)
      .map(_.getName.stripPrefix("v").toLong)

  /** SNAPSHOT READ of a retained manifest version: the target exactly as
    * the batch that committed `version` left it. With the default layout
    * retention of 1 only the newest version exists; a layout created
    * with `retainVersions = N` keeps the last N snapshots readable — a
    * reader holding a retained version never sees mixed or vanished
    * data, because GC only removes dirs unreferenced by EVERY retained
    * manifest. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readMapping(spark, path, retainedManifest(spark, path, version))

  /** Every bucket `mapping` holds: one manifest version's rows, with
    * buckets and dirs from that one parsed file. */
  private def readMapping(
      spark: SparkSession, path: String, mapping: Map[Int, Chain]): DataFrame =
    readDirs(spark, path, readMeta(spark, path), mapping, mapping.keys.toSeq)

  /** The bucket -> chain mapping of retained manifest `version`. */
  private def retainedManifest(
      spark: SparkSession, path: String, version: Long): Map[Int, Chain] = {
    val fs = fsOf(spark, path)
    val p = new Path(new Path(path, manifestDir), f"v$version%09d")
    require(fs.exists(p),
      s"manifest version $version is not retained at $path " +
        s"(have: ${manifestVersions(spark, path).mkString(",")})")
    parseManifest(fs, p)
  }

  /** The rows of `buckets` under `mapping`, read with the layout schema
    * from their leaf dirs alone (an empty frame when none holds rows):
    * the bases, with each chain's deltas folded in ([[foldChains]]). */
  private def readDirs(spark: SparkSession, path: String, meta: Meta,
      mapping: Map[Int, Chain], buckets: Seq[Int]): DataFrame = {
    val chains = buckets.distinct.sorted.flatMap(b => mapping.get(b).map(b -> _))
    if (chains.isEmpty) return emptyOf(spark, meta.schema)
    val base = spark.read.schema(meta.schema)
      .parquet(chains.map { case (b, c) => leafDir(path, c.base.commit, b).toString }: _*)
    val deltas = chains.flatMap { case (b, c) => c.deltas.map(d => leafDir(path, d.commit, b).toString) }
    if (deltas.isEmpty) base
    else foldChains(base, readDeltas(spark, meta, deltas), meta.key)
  }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The rows of delta leaf dirs: the layout's columns plus [[seqCol]]
    * and [[tombCol]]. */
  private def readDeltas(spark: SparkSession, meta: Meta, dirs: Seq[String]): DataFrame =
    spark.read.schema(meta.schema.add(seqCol, LongType).add(tombCol, BooleanType))
      .parquet(dirs: _*)

  /** Null-safe equality of `key` between the frames aliased `l` and `r`. */
  private def keyEq(key: Seq[String], l: String, r: String) =
    key.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)

  /** `df` under a broadcast hint when it fits the broadcast threshold
    * ([[MergeSink.fitsBroadcast]]); a larger frame is left to the
    * planner. */
  private def broadcastIfSmall(df: DataFrame): DataFrame =
    if (MergeSink.fitsBroadcast(df)) broadcast(df) else df

  /** The delta rows no newer delta of the same key supersedes,
    * tombstones included: the newest-op rule over a chain, where a
    * delta holds every row of each key it names. One broadcast of the
    * deltas' (key, version) pairs serves this anti-join and
    * [[foldChains]]'s, so neither shuffles. */
  private def newestDeltaRows(deltas: DataFrame, key: Seq[String]): DataFrame = {
    val newer = broadcastIfSmall(deltas.select((key :+ seqCol).map(col): _*)).alias("n")
    deltas.alias("d").join(newer,
      keyEq(key, "d", "n") && col(s"n.$seqCol") > col(s"d.$seqCol"), "left_anti")
  }

  /** A chain fold: the `base` rows of keys no delta names, and for every
    * key a delta names, the rows of the newest delta naming it (none
    * when that is a tombstone). The base is anti-joined against the
    * deltas' keys and never shuffled. */
  private def foldChains(base: DataFrame, deltas: DataFrame, key: Seq[String]): DataFrame = {
    val named = broadcastIfSmall(deltas.select((key :+ seqCol).map(col): _*)).alias("n")
    base.alias("t").join(named, keyEq(key, "t", "n"), "left_anti")
      .unionByName(newestDeltaRows(deltas, key).filter(!col(tombCol))
        .select(base.columns.toSeq.map(col): _*))
  }

  private def versionOf(p: Path): Long = p.getName.stripPrefix("v").toLong

  /** CDC between two retained snapshots: the row-level changes that take
    * the target from `fromVersion`'s state to `toVersion`'s — the
    * layout's columns plus `_op` (`insert` / `delete` / `update_pre` /
    * `update_post`, [[MergeSink.changeFeed]]'s vocabulary). Consecutive
    * versions yield the feed of the batch that committed `toVersion`;
    * non-consecutive versions yield the NET change (a key upserted then
    * deleted in between emits nothing).
    *
    * Scale design — the reason this lives on the bucketed sink instead
    * of `readVersion(a) FULL OUTER JOIN readVersion(b)`: commit dirs are
    * immutable, so a bucket whose (bucket → commit-dir) manifest entry
    * is IDENTICAL in both versions is byte-identical data and is pruned
    * WITHOUT BEING READ — the diff costs O(buckets the interval
    * touched), not O(target), the same asymmetry the merge itself
    * enjoys. Untouched-bucket non-listing is pinned in PlanSpec. The
    * joined slices shuffle at most those buckets' rows on the key.
    * (A bucket rewritten byte-identically — compaction — is read but
    * emits nothing: the row diff, not the dir diff, is authoritative.)
    * A chain that only appended deltas is a changed entry too: both
    * slices fold it and join in full.
    *
    * Requires the layout key (plus `extraKey`) to be unique per row in
    * both snapshots — true for upsert/update/delete targets by
    * construction; for SCD2 targets pass the version column
    * (`extraKey = Seq("valid_from")`) so history rows pair up. */
  def changesBetween(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Long,
      extraKey: Seq[String] = Nil,
      opCol: String = "_op"): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween wants fromVersion < toVersion, got v$fromVersion >= v$toVersion")
    onDiff(path, fromVersion, toVersion)
    val meta = readMeta(spark, path)
    require(!meta.schema.fieldNames.contains(opCol),
      s"layout already has a '$opCol' column — pass a different opCol")
    val cols = meta.schema.fieldNames.toSeq
    val mFrom = retainedManifest(spark, path, fromVersion)
    val mTo = retainedManifest(spark, path, toVersion)
    // manifest-diff prune: same commit dir ⇒ same bytes ⇒ no changes
    val touched = (mFrom.keySet ++ mTo.keySet).toSeq
      .filter(b => mFrom.get(b) != mTo.get(b))
    def slice(m: Map[Int, Chain]) = readDirs(spark, path, meta, m, touched)
    val k = meta.key ++ extraKey
    val t = slice(mFrom).withColumn("__t", lit(true)).alias("t")
    val b = slice(mTo).withColumn("__b", lit(true)).alias("b")
    def rowOf(op: String, side: String) =
      struct((lit(op).as(opCol) +: cols.map(c => col(s"$side.$c").as(c))): _*)
    def differs = cols.filterNot(k.contains)
      .map(c => !(col(s"t.$c") <=> col(s"b.$c")))
      .foldLeft(lit(false))(_ || _)
    val joined = t.join(b,
      k.map(c => col(s"t.$c") <=> col(s"b.$c")).reduce(_ && _), "full_outer")
    joined.select(explode(
        when(col("__t").isNull, array(rowOf("insert", "b")))
          .when(col("__b").isNull, array(rowOf("delete", "t")))
          .when(differs, array(rowOf("update_pre", "t"), rowOf("update_post", "b")))
          .otherwise(org.apache.spark.sql.functions.slice(
            array(rowOf("insert", "b")), 1, 0))).as("__r"))
      .select((opCol +: cols).map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Test seam: invoked on every [[changesBetween]] call with its
    * target and version pair, so a spec can count how often a load
    * diffs each pair. Production value is a no-op. */
  private[graft] var onDiff: (String, Long, Long) => Unit = (_, _, _) => ()

  /** The per-version diffs of the target at `path`, shared by every
    * catch-up of one load: [[changesBetween]] of each version pair asked
    * for runs once and is persisted, so the outbox publish and the index
    * syncs read one copy instead of each diffing the pair again.
    * `extraKey` as in [[changesBetween]]. Only [[withDeltas]] makes one,
    * and it unpersists every diff when its block ends. */
  private[graft] final class Deltas private[BucketedMergeSink] (
      spark: SparkSession, val path: String, val extraKey: Seq[String]) {
    private val diffs = scala.collection.mutable.Map.empty[(Long, Long), DataFrame]

    def apply(from: Long, to: Long): DataFrame =
      diffs.getOrElseUpdate((from, to),
        changesBetween(spark, path, from, to, extraKey)
          .persist(StorageLevel.MEMORY_AND_DISK))

    private[BucketedMergeSink] def close(): Unit = diffs.values.foreach(_.unpersist(false))
  }

  /** Run `f` with a fresh [[Deltas]] of the target at `path`; its
    * persisted diffs are dropped when `f` returns or throws. */
  private[graft] def withDeltas[A](spark: SparkSession, path: String,
      extraKey: Seq[String])(f: Deltas => A): A = {
    val deltas = new Deltas(spark, path, extraKey)
    try f(deltas) finally deltas.close()
  }

  /** CDC outbox catch-up: publish, under `feedPath/batch_id=<v>/`, the
    * change feed of every retained manifest version whose partition is
    * not there yet — [[changesBetween]] of each consecutive retained
    * pair, plus the all-inserts bootstrap for version 1 while it is
    * still retained. Returns the versions published this call.
    *
    * Idempotent and crash-safe by construction: partitions are keyed by
    * the DETERMINISTIC manifest version, an existing partition is
    * skipped (never clobbered), and a partial write from a crash is
    * cleaned by the per-dir overwrite on the next catch-up. Run it
    * after every load (the `change_feed:` stage key does) and the
    * outbox never gaps; a consumer reads `feedPath` as plain
    * partitioned parquet and resumes from the last `batch_id` it saw.
    *
    * Needs layout retention >= 1 + the versions committed per run —
    * with too shallow a window a version's predecessor is already GC'd
    * by publish time, so its delta can never be produced; feeds older
    * than the retention window are gone for the same reason
    * (publish-after-every-load with one commit per run and retention 2
    * never hits this; a [[graft.core.Derived.Load]] commits its merge,
    * `delete_where:` purge and `compact:` as one version, and the Runner
    * validates the window). Cost per publish: O(buckets the batch
    * touched), inherited from [[changesBetween]]'s manifest-diff pruning. `extraKey` as in
    * [[changesBetween]] (SCD2 targets pass their version column).
    *
    * Bootstrap semantics: the FIRST publish into an empty feed emits
    * the oldest retained snapshot as an all-inserts base partition
    * (`batch_id=<oldest retained v>`), whatever that version number is
    * — so a feed added to a target mid-life is self-contained (a
    * consumer replaying it from scratch reconstructs current state),
    * never a baseless delta stream. Once a feed has partitions, a
    * retained version whose partition is missing AND whose predecessor
    * is GC'd is a GAP the feed can never close: the publish REFUSES
    * loudly ([[IllegalStateException]]) instead of silently skipping
    * that batch — raise retain_versions so publish never falls behind,
    * or start a fresh feed dir (whose base will be the current
    * snapshot). */
  def publishChangeFeed(
      spark: SparkSession,
      path: String,
      feedPath: String,
      extraKey: Seq[String] = Nil): Seq[Long] =
    withDeltas(spark, path, extraKey)(publishChangeFeed(spark, feedPath, _))

  /** [[publishChangeFeed]] of `deltas.path`, reading each version's
    * delta from `deltas`. */
  private[graft] def publishChangeFeed(
      spark: SparkSession, feedPath: String, deltas: Deltas): Seq[Long] = {
    val path = deltas.path
    val fs = fsOf(spark, feedPath)
    val vs = manifestVersions(spark, path)
    def partDir(v: Long) = outboxPart(feedPath, v)
    // idempotence gate is COMMIT SUCCESS, not directory existence: the
    // parquet job creates the dir first and `_SUCCESS` last, so a crash
    // mid-write leaves a dir holding only `_temporary/` or partial part
    // files — skipping on bare existence would mark that torn batch
    // "already published" forever and consumers would half-apply it. A
    // dir WITHOUT `_SUCCESS` is unpublished; the overwrite rewrite
    // cleans its leftovers.
    def publish(v: Long)(feed: => DataFrame): Option[Long] = {
      if (isPublished(fs, partDir(v))) None
      else {
        feed.write.mode("overwrite").parquet(partDir(v).toString)
        Some(v)
      }
    }
    // the all-inserts base of retained version v
    def base(v: Long): Option[Long] = writeFeedBase(fs, partDir(v)) { staged =>
      val t = readVersion(spark, path, v)
      t.select((lit("insert").as("_op") +: t.columns.toSeq.map(col)): _*)
        .write.mode("overwrite").parquet(staged)
    }
    val existing = outboxBatches(fs, feedPath)
    // a marked-base OLDEST partition is a [[compactOutbox]] rebase
    // point: every partition at or below it was DELIBERATELY pruned.
    // Publish must respect that floor — the retention window can be
    // deeper than `outbox_keep`, so retained versions below the rebase
    // are normal, not a gap. Resurrecting them (the pre-r13 behavior:
    // the bootstrap re-created a pruned batch 1, the delta loop
    // re-published pruned deltas) re-grew the compacted outbox every
    // run, and once the oldest retained version's own partition was
    // pruned the producer hard-failed with the misleading gap error —
    // reachable from a Runner-valid retention-4/keep-1 config on its
    // sixth run (spec-pinned).
    val rebasedAt: Option[Long] = existing.headOption.filter(b =>
      fs.exists(new Path(partDir(b), baseMarker)))
    val bootstrap =
      if (existing.isEmpty)
        // empty feed: all-inserts base at the oldest retained version
        // (v1's base and a mid-life base are the same construction);
        // marked _base so a consumer can tell a true base from a
        // hand-pruned prefix ([[subscribeFeed]] refuses the latter).
        // Published via stage-and-rename (writeFeedBase) so the marker
        // travels WITH the data: a direct write-then-mark would leave a
        // crash window where the partition is committed but unmarked —
        // re-publish would skip it ("already published") and every fresh
        // consumer would refuse the feed forever as a pruned prefix.
        vs.headOption.flatMap(base)
      else if (rebasedAt.isEmpty && vs.head == 1L)
        // started, never rebased, v1 retained: batch 1 should exist as
        // the marked base — writeFeedBase is a no-op when it does and
        // heals a hand-pruned or legacy-unmarked one while v1 can still
        // be reconstructed
        base(1L)
      else if (vs.head > rebasedAt.getOrElse(0L) && !fs.exists(partDir(vs.head)))
        throw new IllegalStateException(
          s"change feed at $feedPath has no partition for v${vs.head}, the " +
            s"oldest retained version of $path, and v${vs.head - 1} is " +
            "GC'd — the feed can never produce that delta and silently " +
            "skipping it would hand consumers an outbox with a missing " +
            "batch. Raise retain_versions so publish never falls behind " +
            "the retention window, or start a fresh feed dir (its base " +
            "will be the then-current snapshot).")
      else None
    // deltas at or below the rebase floor were compacted away — never
    // re-publish them (a compacted outbox must not re-grow)
    val floor = rebasedAt.getOrElse(0L)
    val published = vs.sliding(2).flatMap {
      case Seq(a, b) if b > floor => publish(b)(deltas(a, b))
      case _ => None
    }
    (bootstrap.toSeq ++ published).sorted
  }

  /** Keep a persisted MinHash band index ([[graft.ops.Dedup.minhashBandIndex]],
    * rows `(id, band, bucket)`) in lockstep with this bucketed target:
    * the retained manifest versions the index has not applied yet fold
    * into one net change that one commit applies to `index.path`,
    * signing ONLY the changed docs — so after each load the index is
    * current and [[graft.ops.Dedup.incrementalMinhashPairs]] can vet the
    * NEXT ingest without ever re-signing the corpus. Returns the versions
    * applied.
    *
    * Mechanics (from [[changesBetween]]'s per-version feeds, which cost
    * O(touched buckets)): every doc the pending versions changed loses
    * its postings, and each one whose newest row is an insert or update
    * with non-null text re-signs and gets them back; a doc deleted — or
    * whose text became null, which signs to nothing — keeps none. A
    * fresh index bootstraps by signing the newest retained snapshot in
    * full (the one unavoidable corpus pass).
    *
    * Idempotence & crash-safety, same contract as [[publishChangeFeed]]:
    * progress is recorded as `v<NNN>` markers in the SIBLING dir
    * `<index.path>.applied` AFTER the commit lands (a sibling because the
    * index dir's contents are manifest-managed — a foreign file inside it
    * would be swept by the layout's own GC; markers of a vanished index
    * are reset on the next sync); a crash in between refolds the same
    * versions, and applying a net change again is idempotent. If the
    * index falls more than the retention window behind (its next delta
    * is GC'd), the sync refuses loudly — delete the index dir to rebuild
    * — rather than silently resyncing from a gapped feed.
    * Sync-after-every-load (the `minhash_index:` stage key) never hits
    * this with retention >= 2.
    *
    * The index is itself a [[BucketedMergeSink]] layout, keyed on `id`
    * and bucketed like its target, holding ONE nested row per doc
    * (`id, postings: array<struct<band,bucket>>`, read back flat via
    * [[readPostings]]) — so each sync appends O(changed docs) of
    * postings (or folds a touched bucket) and replaces a doc's whole
    * signature atomically. A flat
    * posting-per-row index would pay a full-index rewrite on EVERY sync
    * (the flat sink's atomic-swap shape), which dominates at corpus
    * scale. */
  def syncMinhashIndex(
      spark: SparkSession,
      path: String,
      index: Derived.MinhashIndex): Seq[Long] =
    withDeltas(spark, path, Nil)(syncIndex(spark, _, index))

  /** [[syncMinhashIndex]]'s embedding twin: keep a persisted cosine-LSH
    * bucket index ([[graft.ops.Similarity.lshBucketIndex]], rows
    * `(id, band, bucket)` — band is the hyperplane table, bucket its
    * sign signature) in lockstep with this bucketed target, so
    * [[graft.ops.Similarity.incrementalCosineDupPairs]] can vet each
    * ingest without re-signing the corpus. Same fold-and-apply core, same
    * marker/bootstrap/refusal contract, same nested one-row-per-id
    * layout (read back flat via [[readPostings]]); (tables, bits, dim)
    * are the index's identity ([[Derived.LshIndex]]) and must match the
    * probe side's. A re-signed doc's row replaces its whole signature;
    * a null `vecCol` unsigns. */
  def syncLshIndex(
      spark: SparkSession,
      path: String,
      index: Derived.LshIndex): Seq[Long] =
    withDeltas(spark, path, Nil)(syncIndex(spark, _, index))

  /** [[syncMinhashIndex]]'s SemDeDup twin: keep a persisted semantic
    * cell index ([[graft.ops.Similarity.semanticCellIndex]]) in
    * lockstep with this bucketed target, so
    * [[graft.ops.Similarity.incrementalSemanticDupPairs]] can vet each
    * ingest against frozen centroids. Two persisted pieces: postings
    * `(id, pcell)` at `index.path`, and the centroid model at the
    * SIBLING `<index.path>.centroids` (`(cell, centv)` parquet).
    * Centroids are TRAINED ONCE at bootstrap on the newest retained
    * snapshot and FROZEN from then on — the coarse-quantizer contract
    * ([[graft.ops.Similarity.ivfTopK]]): per-ingest retraining would
    * silently shift every assignment; re-cluster offline when drift
    * warrants and rebuild (delete the index dir — bootstrap retrains
    * and overwrites the sibling). Unlike the fixed-cardinality MinHash/
    * LSH signatures, an updated doc's cell SET can change arbitrarily —
    * harmless under the nested layout, where a re-signed doc's row
    * replaces its whole posting set (old cells can't linger).
    * The bootstrap snapshot must be non-empty (there is nothing to
    * train on otherwise). */
  def syncSemanticIndex(
      spark: SparkSession,
      path: String,
      index: Derived.SemanticIndex): Seq[Long] =
    withDeltas(spark, path, Nil)(syncIndex(spark, _, index))

  /** The sync of any postings index of `deltas.path` — the family's
    * bootstrap and signing closures around [[syncIndexCore]]. */
  private[graft] def syncIndex(spark: SparkSession, deltas: Deltas,
      index: Derived.Index, compactMaxFiles: Option[Int] = None): Seq[Long] =
    index match {
      case i: Derived.MinhashIndex =>
        import i.{bands, charGrams, k, rowsPerBand, textCol}
        def sign(df: DataFrame, id: String) = graft.ops.Dedup.minhashBandIndex(
          df, k, bands, rowsPerBand, id, textCol, charGrams)
        syncIndexCore(spark, deltas, i.path, "minhash index", textCol,
          compactMaxFiles, bootstrap = sign, sign = sign)
      case i: Derived.LshIndex =>
        import i.{bits, dim, tables, vecCol}
        def sign(df: DataFrame, id: String) = graft.ops.Similarity.lshBucketIndex(
          df, tables, bits, dim, id, vecCol)
        syncIndexCore(spark, deltas, i.path, "lsh index", vecCol,
          compactMaxFiles, bootstrap = sign, sign = sign)
      case i: Derived.SemanticIndex =>
        import i.{iters, nlist, probeCells, trainPerCell, vecCol}
        val centsPath = i.path.stripSuffix("/") + ".centroids"
        syncIndexCore(spark, deltas, i.path, "semantic index", vecCol, compactMaxFiles,
          bootstrap = (df, id) => {
            val (postings, cents) = graft.ops.Similarity.semanticCellIndex(
              df, nlist, iters, trainPerCell, probeCells, id, vecCol)
            cents.write.mode("overwrite").parquet(centsPath)
            postings
          },
          sign = (df, id) => {
            require(fsOf(spark, centsPath).exists(new Path(centsPath)),
              s"semantic index at ${i.path} has no centroid model at " +
                s"$centsPath — rebuild the index (delete its dir) to retrain")
            graft.ops.Similarity.assignBatchCells(
              df, spark.read.parquet(centsPath), probeCells, id, vecCol)
          })
    }

  /** The shared fold-and-apply core behind [[syncMinhashIndex]] /
    * [[syncLshIndex]] / [[syncSemanticIndex]] — everything about
    * KEEPING a derived postings index in lockstep with the target that
    * does not depend on what the postings ARE:
    *
    *   - `.applied` sibling markers record the last manifest version
    *     applied to the index (a sibling because the index dir's
    *     contents are manifest-managed); markers of a vanished index
    *     reset on the next sync. Only the NEWEST marker is ever
    *     consulted, so older ones are pruned as each new one lands — the
    *     dir stays O(1) files instead of one empty file per version
    *     forever (the r11 ADVICE listing-degradation finding).
    *   - a fresh index bootstraps by signing the newest retained
    *     snapshot in full (the one unavoidable corpus pass), via the
    *     family's `bootstrap` closure (which may also train/persist a
    *     model — the semantic family does), and counts every retained
    *     version applied. A layout left without a marker by a crash in
    *     the bootstrap is replaced whole by the next bootstrap.
    *   - a synced index's pending versions' consecutive deltas (from `deltas`, shared
    *     with the load's other catch-ups) fold into one net row per id
    *     under [[newestPerKey]], the outbox fold's rule. Never one
    *     [[changesBetween]] over the whole run: after a crash between an
    *     apply and its marker the index already holds a later state than
    *     its marker, and a doc reverted since (A→B→A) would diff to
    *     nothing and keep B's postings. Every id of the net change drops
    *     its postings; a net row that is not a delete and whose
    *     `signCol` is non-null re-signs through the family's `sign`
    *     closure — a delete or a null `signCol` (it signs to nothing)
    *     unsigns, whatever the op. A posting key set that changes between
    *     signings (the semantic cells) thus never strands stale rows.
    *   - the bootstrap or the net change applies in ONE commit
    *     ([[applyNet]]: the net change is the delta of every index
    *     bucket it appends to; `compactMaxFiles` compacts in that same
    *     commit) and ONE marker, for the last version, lands after it; a crash in between refolds the same run, and applying
    *     a net change again is idempotent. An index that fell more than
    *     the retention window behind refuses loudly rather than silently
    *     resyncing from a gapped feed — and the Runner's
    *     catch-up-BEFORE-load ordering plus its retention validation
    *     (>= 1 + versions committed per run) keep the config-driven
    *     paths from ever manufacturing that state. */
  private def syncIndexCore(
      spark: SparkSession,
      deltas: Deltas,
      indexPath: String,
      family: String,
      signCol: String,
      compactMaxFiles: Option[Int],
      bootstrap: (DataFrame, String) => DataFrame,
      sign: (DataFrame, String) => DataFrame): Seq[Long] = {
    val path = deltas.path
    require(deltas.extraKey.isEmpty,
      s"$family sync pairs rows on the layout key alone, got extra key ${deltas.extraKey}")
    val fs = fsOf(spark, indexPath)
    val meta = readMeta(spark, path)
    require(meta.key.size == 1,
      s"$family sync needs a single-column layout key, $path has ${meta.key}")
    val idCol = meta.key.head
    require(meta.schema.fieldNames.contains(signCol),
      s"$path has no '$signCol' column to sign")
    // The index is itself a bucketed layout keyed on `id`, sized like
    // its target, holding one NESTED row per doc: the family's flat
    // postings collapse to `postings: array<struct>`, so one row
    // replaces a doc's complete posting set and every apply prunes to
    // the ids' own buckets.
    def nest(flat: DataFrame): DataFrame = {
      val pcols = flat.columns.filterNot(_ == "id").toSeq
      flat.groupBy("id").agg(
        // sort for a deterministic array order — applying a net change
        // again must produce byte-identical posting rows
        sort_array(collect_list(struct(pcols.map(col): _*))).as("postings"))
    }
    val vs = manifestVersions(spark, path)
    val appliedDir = new Path(indexPath.stripSuffix("/") + ".applied")
    // markers without an index = a rebuilt/deleted index; start fresh
    if (fs.exists(appliedDir) && !fs.exists(new Path(indexPath)))
      fs.delete(appliedDir, true)
    val last = lastApplied(fs, appliedDir)
    if (last == 0L) {
      // a layout with no marker is a crashed bootstrap: replaced whole
      val stale = Option.when(isBucketed(spark, indexPath))(
        read(spark, indexPath).select("id"))
      applyNet(spark, nest(bootstrap(readVersion(spark, path, vs.last), idCol)),
        stale, indexPath, Seq("id"), meta.numBuckets, 0, cached = false,
        compactMaxFiles = compactMaxFiles)
      markApplied(fs, appliedDir, vs.last)
      return vs
    }
    require(last >= vs.head,
      s"$family at $indexPath last applied v$last but the oldest " +
        s"retained version of $path is v${vs.head}: the intermediate " +
        "deltas are GC'd. Rebuild the index (delete its dir) or raise " +
        "retain_versions so sync never falls behind the window.")
    val pairs = vs.sliding(2).collect { case Seq(a, b) if a >= last => (a, b) }.toSeq
    if (pairs.isEmpty) return Nil
    val net = newestPerKey(pairs.map { case (a, b) =>
      deltas(a, b).withColumn(foldSeqCol, lit(b))
    }.reduce(_ unionByName _), Seq(idCol))
    // the ids, the re-signing and the apply all read the fold: its one
    // cache serves the whole apply. The net ids drop every changed
    // doc's postings and, a superset of the re-signed ids, route the
    // apply, so the signing runs once: in the write
    net.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ids = net.select(col(idCol).as("id"))
      applyNet(spark,
        nest(sign(net.filter(col("_op") =!= "delete" && col(signCol).isNotNull), idCol)),
        Some(ids), indexPath, Seq("id"), meta.numBuckets, 0, cached = true,
        compactMaxFiles = compactMaxFiles, routeBy = Some(ids))
    } finally net.unpersist(false)
    markApplied(fs, appliedDir, pairs.last._2)
    pairs.map(_._2)
  }

  /** Last `v<NNN>` progress marker in a sibling `.applied` dir (0 =
    * none) — shared by the index syncs and [[subscribeFeed]]. */
  private def lastApplied(fs: FileSystem, appliedDir: Path): Long =
    if (fs.exists(appliedDir))
      fs.listStatus(appliedDir).toSeq
        .map(_.getPath.getName.stripPrefix("v").toLong)
        .sorted.lastOption.getOrElse(0L)
    else 0L

  /** Record progress marker `v` and prune superseded ones. Pruning is
    * create-THEN-delete: a crash in between leaves extra markers
    * (harmless — max still wins), never zero. */
  private def markApplied(fs: FileSystem, appliedDir: Path, v: Long): Unit = {
    fs.create(new Path(appliedDir, f"v$v%09d"), true).close() // replay-safe
    fs.listStatus(appliedDir).map(_.getPath)
      .filter(p => p.getName.stripPrefix("v").toLong < v)
      .foreach(p => fs.delete(p, false))
  }

  /** The flat `(id, <posting fields>)` view of a postings index
    * maintained by [[syncMinhashIndex]] / [[syncLshIndex]] /
    * [[syncSemanticIndex]] — explodes the layout's nested one-row-per-id
    * shape back into the posting-per-row frame the probe operators
    * ([[graft.ops.Dedup.incrementalMinhashPairs]] and friends) take.
    * Stays a narrow generate over the manifest-resolved scan: no
    * shuffle, and bucket/column pruning still reach the parquet leaves. */
  def readPostings(spark: SparkSession, indexPath: String): DataFrame = {
    val nested = read(spark, indexPath)
    val elem = nested.schema("postings").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[StructType]
    nested.select(col("id"), explode(col("postings")).as("p"))
      .select(col("id") +: elem.fieldNames.toSeq.map(n => col("p." + n).as(n)): _*)
  }

  /** The CONSUMER side of the CDC outbox at the TABLE level: apply every
    * not-yet-applied `batch_id=<N>` partition of the outbox at
    * `feedPath` ([[publishChangeFeed]]'s layout) to the replica target
    * at `replicaPath` — downstream replication as one idempotent
    * catch-up call, the same contract shape as the index syncs. Returns
    * the batch ids applied.
    *
    * The pending partitions apply as ONE net change ([[foldOutbox]]):
    * each key's newest `insert`/`update_post` row UPSERTs (its old row is
    * replaced), a key whose newest op is `delete` is deleted by key —
    * one commit per call ([[applyNet]]), however many batches are
    * pending. When a pending partition is a marked base (the bootstrap,
    * or a [[compactOutbox]] rebase point) the fold starts there and its
    * result is a full snapshot: that one commit replaces the replica
    * wholesale. Upserting into the existing replica would strand rows
    * deleted between this consumer's cursor and the rebase point (their
    * delete ops were pruned with the old partitions). Against a bucketed
    * replica the commit costs O(touched buckets); a fresh replica is
    * established with `numBuckets`.
    *
    * Progress lives in the sibling marker dir `<replicaPath>.applied`
    * (markers of a vanished replica reset on the next call); the marker
    * of the last applied batch lands AFTER the commit, so a crash in
    * between replays the same net change — idempotent, like the index
    * syncs. An outbox whose oldest retained partition has moved past the
    * replica's cursor (someone pruned the outbox) refuses loudly: the
    * missing deltas are unreconstructable, rebuild the replica. SCD2
    * outboxes pair rows on (key, valid_from) — pass that composite
    * `key`; composite keys are fine for the upsert leg, and scd2 feeds
    * never carry deletes.
    *
    * A partition WITHOUT `_SUCCESS` is a publish still in flight (or a
    * producer crash's torn leftover): the catch-up STOPS there — applying
    * whatever part files happen to be visible would commit a half-batch
    * and advance the cursor past it, permanent silent divergence. The
    * next call picks up where the producer's rewrite left a committed
    * partition; this is what makes the
    * [[graft.streaming.Streams.subscribeFeedStream]] daemon safe to run
    * concurrently with its producer.
    *
    * `consumerName`, when non-empty, REGISTERS this replica with the
    * outbox: its cursor is mirrored to `<feedPath>.consumers/<name>`
    * (after the replica's own marker, so the mirror can only lag —
    * conservative), and [[compactOutboxKeep]] clamps its rebase point to
    * the laggiest registered cursor + 1, so a registered consumer can
    * never be rebased past and forced into a rebuild. Unregistered
    * consumers keep the unclamped contract: size `outbox_keep` above
    * their worst lag yourself.
    *
    * `compactMaxFiles` compacts in the apply's own commit, as
    * [[write]]'s bound: each written dir is one file, and a replica
    * bucket whose base holds more files folds. */
  def subscribeFeed(
      spark: SparkSession,
      feedPath: String,
      replicaPath: String,
      key: Seq[String] = Seq("id"),
      numBuckets: Int = 64,
      retainVersions: Int = 0,
      upTo: Long = Long.MaxValue,
      consumerName: String = "",
      compactMaxFiles: Option[Int] = None): Seq[Long] = {
    val feedFs = fsOf(spark, feedPath)
    require(feedFs.exists(new Path(feedPath)),
      s"no outbox at $feedPath — publish a change feed there first")
    val batches = outboxBatches(feedFs, feedPath)
    val fs = fsOf(spark, replicaPath)
    val appliedDir = new Path(replicaPath.stripSuffix("/") + ".applied")
    // markers without a replica = a rebuilt/deleted replica; start fresh
    if (fs.exists(appliedDir) && !fs.exists(new Path(replicaPath)))
      fs.delete(appliedDir, true)
    val last = lastApplied(fs, appliedDir)
    val pending = pendingRun(feedFs, feedPath, batches, last, upTo)
    require(last == 0L || last >= batches.head - 1,
      s"replica at $replicaPath last applied batch $last but the " +
        s"outbox's oldest partition is batch ${batches.head}: the " +
        "intermediate deltas were pruned and cannot be replayed. " +
        "Rebuild the replica (delete it and its .applied dir).")
    if (pending.isEmpty) return Nil
    val (net, fromBase) = foldOutbox(spark, feedFs, feedPath, pending, key)
    net.foreach { rows =>
      // the upserts and the delete keys both read the fold: its one cache
      // serves the whole apply
      rows.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // a fold from a base is a full snapshot: it replaces the replica
        // (the commit then creates it, with nothing to delete from); a
        // composite key's fold carries no deletes (refused in the fold)
        if (fromBase) fs.delete(new Path(replicaPath), true)
        applyNet(spark, rows.filter(col("_op") =!= "delete").drop("_op"),
          Option.when(key.size == 1)(
            rows.filter(col("_op") === "delete").select(key.head)),
          replicaPath, key, numBuckets, retainVersions, cached = true,
          compactMaxFiles = compactMaxFiles)
      } finally rows.unpersist(false)
    }
    markApplied(fs, appliedDir, pending.last)
    if (consumerName.nonEmpty)
      markApplied(feedFs, new Path(consumersDir(feedPath), consumerName),
        pending.last)
    pending
  }

  /** Marker file inside a base outbox partition: its rows are a full
    * all-inserts SNAPSHOT (the bootstrap, or a [[compactOutbox]] rebase
    * point), not a delta. Underscore prefix keeps parquet readers from
    * treating it as data. */
  private val baseMarker = "_base"

  /** A partition dir — an outbox batch, a profile version — counts as
    * PUBLISHED only once the parquet job's `_SUCCESS` commit marker
    * exists — the dir itself appears first and the marker last, so bare
    * existence spans the whole crash window. An empty delta (a compact's
    * no-op diff) is published too: it has `_SUCCESS` and zero part
    * files. The one "partition is committed" rule of every
    * version-marker catch-up. */
  private[graft] def isPublished(fs: FileSystem, partDir: Path): Boolean =
    fs.exists(new Path(partDir, "_SUCCESS"))

  private def outboxPart(feedPath: String, batch: Long): Path =
    new Path(feedPath, s"batch_id=$batch")

  /** The batch ids of the outbox at `feedPath`, ascending; empty when
    * the outbox does not exist. The one listing every producer, consumer
    * and compactor of an outbox goes through. */
  private[graft] def outboxBatches(fs: FileSystem, feedPath: String): Seq[Long] = {
    val dir = new Path(feedPath)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
  }

  /** The run of `batches` (the outbox's ids) a consumer at cursor `last`
    * (0 = fresh) applies: every batch in (last, upTo], in order, STOPPING
    * (not skipping) at the first unpublished partition — batches are
    * ordered deltas, so applying past a torn one would replay history
    * out of order even after the producer repairs it. Refuses an outbox
    * no consumer can replay. */
  private def pendingRun(fs: FileSystem, feedPath: String, batches: Seq[Long],
      last: Long, upTo: Long): Seq[Long] = {
    require(batches.nonEmpty, s"outbox at $feedPath has no batch partitions")
    require(batches.head >= 1,
      s"outbox at $feedPath starts at batch_id=${batches.head} — " +
        "subscribeFeed consumes the shared outbox layout (batch ids " +
        ">= 1: publishChangeFeed's manifest versions, or " +
        "streamingMergeWithFeed's base-at-1 + epoch+2 deltas); a " +
        "0-based feed is a pre-unification streaming layout — restart " +
        "it into a fresh feed dir")
    require(batches == (batches.head to batches.last),
      s"outbox at $feedPath has gaps in its batch ids " +
        s"(${batches.mkString(",")}) — a pruned outbox cannot be replayed")
    // a FRESH consumer needs the oldest partition to be a base — batch 1
    // (delta from empty) or a marked all-inserts snapshot. A consecutive
    // run of deltas whose base was hand-pruned outside compactOutbox
    // would replay into a silently incomplete replica.
    require(last != 0L || batches.head == 1L ||
        fs.exists(new Path(outboxPart(feedPath, batches.head), baseMarker)),
      s"outbox at $feedPath has no base: its oldest partition " +
        s"(batch ${batches.head}) is an unmarked delta — the base was " +
        "pruned outside compactOutbox. Rebase the outbox (compactOutbox) " +
        "or start a fresh feed before subscribing new replicas.")
    batches.filter(b => b > last && b <= upTo)
      .takeWhile(b => isPublished(fs, outboxPart(feedPath, b)))
  }

  /** Column a fold tags each change row with its sequence number (the
    * outbox batch id, or the target version of an index's delta).
    * Reserved: each outbox partition is read on its own rather than
    * through partition discovery, so a table column named `batch_id`
    * keeps its own values. */
  private val foldSeqCol = "__fold_seq"

  /** THE newest-op rule of every fold: each key's newest row of
    * `changes` (rows tagged with [[foldSeqCol]], `_op` included; the
    * tag is dropped). Newest means the highest sequence number, and
    * within one sequence number an upsert row outranks a delete row
    * (the order a one-by-one replay applied them in); `update_pre` rows
    * carry nothing. [[foldOutbox]] and the index sync both call it, so
    * replica, rebase and index apply one rule. */
  private def newestPerKey(changes: DataFrame, key: Seq[String]): DataFrame = {
    val rows = changes.filter(col("_op") =!= "update_pre")
    rows.groupBy(key.map(col): _*)
      .agg(max_by(struct(rows.columns.toSeq.map(col): _*),
        struct(col(foldSeqCol), col("_op") =!= "delete")).as("r"))
      .select("r.*").drop(foldSeqCol)
  }

  /** The NET change of the published outbox partitions `run`: each
    * partition read on its own (with the schema of the newest one, so
    * only that read infers it), tagged with its batch id and unioned
    * into one plan; the result is each key's newest `insert`/
    * `update_post`/`delete` row, `_op` included ([[newestPerKey]]). A
    * marked base in the run
    * is a snapshot that supersedes every older partition, so the fold
    * starts at the newest one and says so (`fromBase`: the rows are a
    * full snapshot). Applying the net change leaves the table a
    * batch-by-batch replay would; [[subscribeFeed]] applies it and
    * [[compactOutbox]] writes it as a base, so apply and rebase
    * semantics cannot drift. The result is a plan, not data: a caller
    * that reads it twice persists it.
    *
    * No rows (None) when no partition holds data: an EMPTY delta (a
    * compact's no-op diff) may have been written with zero part files,
    * and a parquet read of such a dir fails schema inference. Deletes
    * route by a single identifier column, so a composite key refuses
    * when any folded batch carries a delete row, as the batch-by-batch
    * replay did. */
  private def foldOutbox(spark: SparkSession, fs: FileSystem, feedPath: String,
      run: Seq[Long], key: Seq[String]): (Option[DataFrame], Boolean) = {
    val base = run.lastIndexWhere(b =>
      fs.exists(new Path(outboxPart(feedPath, b), baseMarker)))
    val parts = run.drop(math.max(base, 0)).filter(b =>
      fs.listStatus(outboxPart(feedPath, b)).exists(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")))
    val feed = parts.lastOption.map { newest =>
      val schema = spark.read.parquet(outboxPart(feedPath, newest).toString).schema
      require(!schema.fieldNames.contains(foldSeqCol),
        s"outbox at $feedPath has a '$foldSeqCol' column, reserved for the fold")
      parts.map(b => spark.read.schema(schema).parquet(outboxPart(feedPath, b).toString)
        .withColumn(foldSeqCol, lit(b))).reduce(_ unionByName _)
    }
    for (f <- feed if key.size > 1;
         del <- Option(f.filter(col("_op") === "delete").agg(min(foldSeqCol)).head().get(0)))
      throw new IllegalArgumentException(
        s"outbox at $feedPath carries delete ops in batch $del but " +
          s"the replica key is composite (${key.mkString(",")}) — deletes " +
          "route by a single identifier column")
    (feed.map(newestPerKey(_, key)), base >= 0)
  }

  /** Sibling dir holding one cursor-marker dir per REGISTERED consumer
    * of the outbox at `feedPath` ([[subscribeFeed]]'s `consumerName`) —
    * a sibling, not a subdir, so plain partitioned-parquet readers of
    * the outbox never see it. */
  private def consumersDir(feedPath: String): Path =
    new Path(feedPath.stripSuffix("/") + ".consumers")

  /** Deregister a consumer from the outbox at `feedPath`: drop its
    * cursor marker so [[compactOutboxKeep]] stops clamping the rebase to
    * it. The operational release valve for the registration contract — a
    * replica that is decommissioned (or dead and not coming back) would
    * otherwise hold log-compaction back FOREVER and the outbox would
    * grow one partition per version, unbounded. Deliberately explicit
    * rather than a staleness timeout: only an operator knows whether a
    * silent consumer is gone or just slow, and guessing wrong rebases a
    * live replica into a forced rebuild. Idempotent; returns whether a
    * registration existed. The replica's own `.applied` cursor is
    * untouched — re-registering later (its next `subscribeFeed` with the
    * same `consumerName`) resumes from wherever it actually is, subject
    * to the normal pruned-outbox refusal. */
  def unregisterConsumer(
      spark: SparkSession, feedPath: String, name: String): Boolean = {
    require(name.nonEmpty, "unregisterConsumer needs a consumer name")
    val fs = fsOf(spark, feedPath)
    fs.delete(new Path(consumersDir(feedPath), name), true)
  }

  private def baseStage(partDir: Path): Path =
    new Path(partDir.getParent, "." + partDir.getName + ".base-stage")

  /** Publish an all-inserts BASE partition atomically: write into a
    * staged sibling dir (`writeStaged` receives its path), stamp the
    * [[baseMarker]] there, then rename over `partDir` — partition
    * existence thus implies a complete, marked base; there is no
    * committed-but-unmarked crash window. A staged dir whose marker
    * exists is a finished stage from a crashed run (marker is written
    * last): the swap is completed without rewriting. Returns the batch
    * id published, or None when the partition is already a marked,
    * committed base (idempotent catch-up). Every base goes through
    * here: [[publishChangeFeed]]'s bootstrap, the streaming producer's
    * ([[graft.streaming.Streams.streamingMergeWithFeed]]) and
    * [[compactOutbox]]'s rebase. */
  private[graft] def writeFeedBase(fs: FileSystem, partDir: Path)(
      writeStaged: String => Unit): Option[Long] = {
    if (isPublished(fs, partDir) && fs.exists(new Path(partDir, baseMarker)))
      None
    else {
      val staged = baseStage(partDir)
      if (!fs.exists(new Path(staged, baseMarker))) {
        writeStaged(staged.toString) // mode("overwrite") cleans torn stages
        fs.create(new Path(staged, baseMarker), true).close()
      }
      fs.delete(partDir, true) // a torn direct write's leftovers, if any
      require(fs.rename(staged, partDir),
        s"base publish failed: could not rename $staged over $partDir")
      Some(partDir.getName.stripPrefix("batch_id=").toLong)
    }
  }

  /** Log-compaction for the CDC outbox ([[publishChangeFeed]]'s layout):
    * REBASE the outbox at batch `upTo` — replace that partition with an
    * all-inserts snapshot of the state as of `upTo` (marked with
    * [[baseMarker]]) and prune every older partition. Bounds the
    * outbox's growth (one partition per target version forever
    * otherwise) the way a log-compacted topic does: history before the
    * rebase point collapses into one snapshot. Returns the pruned ids.
    *
    * Consumer contract afterwards ([[subscribeFeed]]):
    *   - cursor >= upTo: untouched — only delta partitions > upTo apply.
    *   - cursor == upTo - 1, or a fresh replica: the marked base applies
    *     as a FULL REPLACEMENT (deletes collapsed into the snapshot
    *     cannot be missed).
    *   - cursor < upTo - 1: refused loudly (the pruned deltas are
    *     unreconstructable) — pick `upTo` no newer than your laggiest
    *     consumer's cursor + 1.
    *
    * The snapshot is the net change of every partition up to `upTo`
    * ([[foldOutbox]], the fold [[subscribeFeed]] applies), so base
    * semantics can never drift from apply semantics; it is published
    * with [[writeFeedBase]] before anything is pruned. Single-writer
    * like the producer side; a crash mid-rebase leaves either the old
    * layout (re-run) or a visible gap that consumers refuse loudly and
    * a re-run heals — never a silently wrong feed. */
  def compactOutbox(
      spark: SparkSession,
      feedPath: String,
      upTo: Long,
      key: Seq[String] = Seq("id")): Seq[Long] = {
    val fs = fsOf(spark, feedPath)
    val partDir = outboxPart(feedPath, upTo)
    // heal a crash between writeFeedBase's delete and rename: the staged
    // base is complete (marker written last), so this only renames it
    if (!fs.exists(partDir) && fs.exists(new Path(baseStage(partDir), baseMarker)))
      writeFeedBase(fs, partDir)(_ => ()): Unit
    val batches = outboxBatches(fs, feedPath)
    require(batches.contains(upTo),
      s"outbox at $feedPath has no batch $upTo (batches: ${batches.mkString(",")})")
    val prune = batches.filter(_ < upTo)
    if (prune.isEmpty && fs.exists(new Path(partDir, baseMarker)))
      return Nil // already rebased here
    // the fold STOPS at an unpublished (torn) partition; rebasing there
    // would stamp a partial state as a full base — refuse instead
    val run = pendingRun(fs, feedPath, batches, 0L, upTo)
    require(run.lastOption.contains(upTo),
      s"outbox at $feedPath has an unpublished partition at or below " +
        s"batch $upTo (a producer publish crashed or is in flight) — " +
        "run the producer's catch-up to repair it before compacting")
    val (net, _) = foldOutbox(spark, fs, feedPath, run, key)
    require(net.nonEmpty,
      s"outbox at $feedPath holds no rows up to batch $upTo to rebase")
    writeFeedBase(fs, partDir) { staged =>
      net.get.filter(col("_op") =!= "delete")
        .withColumn("_op", lit("insert")).write.mode("overwrite").parquet(staged)
    }: Unit
    prune.foreach(b => fs.delete(outboxPart(feedPath, b), true))
    prune
  }

  /** [[compactOutbox]] by RETENTION COUNT: keep only the newest `keep`
    * batch partitions, rebasing at the oldest survivor — its base is the
    * net change of every partition up to it, the fold [[subscribeFeed]]
    * applies. No-op while the outbox holds `keep` or fewer. The policy
    * knob behind the `outbox_keep:` stage key.
    *
    * REGISTERED consumers ([[subscribeFeed]]'s `consumerName`) hold the
    * rebase back: the rebase point is clamped to the laggiest registered
    * cursor + 1, so a registered replica that fell behind keeps its
    * continuity (the outbox temporarily holds more than `keep`
    * partitions instead — compaction catches up once the consumer
    * does). UNREGISTERED consumers keep the unclamped contract: size
    * `keep` above their worst lag (one more than `keep - 1` batches
    * behind the head refuses loudly on its next catch-up). */
  def compactOutboxKeep(
      spark: SparkSession,
      feedPath: String,
      keep: Int,
      key: Seq[String] = Seq("id")): Seq[Long] = {
    require(keep >= 1, s"outbox_keep must be >= 1, got $keep")
    val fs = fsOf(spark, feedPath)
    val batches = outboxBatches(fs, feedPath)
    if (batches.size <= keep) return Nil
    val requested = batches(batches.size - keep)
    // clamp to the laggiest REGISTERED consumer's cursor + 1 (a consumer
    // at cursor c can still apply the rebased base at c + 1); a cursor
    // already rebased past (registered late) clamps to the current head
    val cDir = consumersDir(feedPath)
    val laggiest: Option[Long] =
      if (!fs.exists(cDir)) None
      else fs.listStatus(cDir).toSeq.filter(_.isDirectory)
        .map(s => lastApplied(fs, s.getPath)).minOption
    val rebaseAt = laggiest.fold(requested)(c =>
      math.max(batches.head, math.min(requested, c + 1)))
    if (rebaseAt <= batches.head) Nil // nothing older to prune
    else compactOutbox(spark, feedPath, rebaseAt, key)
  }

  /** What a write reads and commits against: the current manifest
    * version (0 for an empty target) and the mapping parsed from THAT
    * file — not a re-listed current, so base and mapping cannot straddle
    * an interleaved commit — after GC'ing a previous crash's orphans. */
  private def snapshot(fs: FileSystem, path: String): (Long, Map[Int, Chain]) = {
    val baseFile = currentManifestFile(fs, path)
    val mapping = baseFile.map(parseManifest(fs, _)).getOrElse(Map.empty[Int, Chain])
    gcUnreferenced(fs, path)
    (baseFile.map(versionOf).getOrElse(0L), mapping)
  }

  /** Rows per bucket of one commit's write, counted by the write job as
    * it emits them, so a dir's row count costs no job of its own. */
  private final class BucketRows
      extends org.apache.spark.util.AccumulatorV2[Int, Map[Int, Long]] {
    private val counts = scala.collection.mutable.HashMap.empty[Int, Long]
    def isZero: Boolean = counts.isEmpty
    def copy(): BucketRows = { val c = new BucketRows; c.counts ++= counts; c }
    def reset(): Unit = counts.clear()
    def add(b: Int): Unit = counts(b) = counts.getOrElse(b, 0L) + 1
    def merge(other: org.apache.spark.util.AccumulatorV2[Int, Map[Int, Long]]): Unit =
      other.value.foreach { case (b, n) => counts(b) = counts.getOrElse(b, 0L) + n }
    def value: Map[Int, Long] = counts.toMap
  }

  /** The one commit step: every version of a bucketed target is made
    * here. Writes `rows` (already carrying [[bucketCol]]; one file per
    * bucket when `oneFilePerDir`) under a fresh `data/c<uuid>/` dir and
    * commits `v(base+1)`: a bucket of `appended` gains its leaf dir as
    * the newest delta of its chain (no rows: the chain stays as it was),
    * and every other bucket of `rewritten` gets it as a new base (no
    * rows: the bucket drops out of the manifest). Each new entry records
    * the rows its dir holds. Rows in a bucket outside `rewritten` are a
    * routing bug and refused. The dir is deleted when the write fails,
    * on that refusal and on a lost commit race
    * ([[ConcurrentWriteException]]), so a failed write leaves nothing
    * beyond what a crash would; after the commit, dirs no retained
    * manifest references are GC'd. */
  private def rewriteBuckets(fs: FileSystem, path: String, rows: DataFrame,
      rewritten: Set[Int], appended: Set[Int], oneFilePerDir: Boolean, base: Long,
      mapping: Map[Int, Chain], retain: Int): Unit = {
    val commit = "c" + UUID.randomUUID().toString
    val commitPath = new Path(new Path(path, dataDir), commit)
    val counts = new BucketRows
    rows.sparkSession.sparkContext.register(counts)
    val counted = udf((b: Int) => { counts.add(b); b }).asNondeterministic()
    // counted after the shuffle, in the write's own (result) stage, where
    // each task's count merges once
    val out = if (oneFilePerDir) rows.repartition(col(bucketCol)) else rows
    try out.withColumn(bucketCol, counted(col(bucketCol)))
      .write.partitionBy(bucketCol).parquet(commitPath.toString)
    catch { case e: Throwable => fs.delete(commitPath, true); throw e }
    val produced = fs.listStatus(commitPath).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(bucketCol + "="))
      .map(_.stripPrefix(bucketCol + "=").toInt).toSet
    val stray = produced.filterNot(rewritten)
    if (stray.nonEmpty) {
      fs.delete(commitPath, true)
      throw new IllegalStateException(
        s"merge produced rows in untouched buckets ${stray.mkString(",")} — routing bug")
    }
    val written = counts.value
    val next = rewritten.foldLeft(mapping) { (m, b) =>
      val dir = Option.when(produced(b))(Dir(commit, written.getOrElse(b, 0L)))
      (dir, m.get(b)) match {
        case (Some(d), Some(c)) if appended(b) => m.updated(b, c.copy(deltas = c.deltas :+ d))
        case (None, Some(_)) if appended(b) => m
        case (Some(d), _) => m.updated(b, Chain(d))
        case (None, _) => m - b
      }
    }
    try commitManifest(fs, path, next, retain, expectedBase = base)
    catch { case e: ConcurrentWriteException => fs.delete(commitPath, true); throw e }
    gcUnreferenced(fs, path)
  }

  /** Test seam for the concurrent-writer spec: invoked between a
    * write's [[snapshot]] and its commit attempt, so
    * BucketedMergeSinkSpec can interleave a competing writer's commit
    * at the exact moment a real race would land it. Production value is
    * a no-op. */
  private[graft] var interleaveBeforeCommit: () => Unit = () => ()

  /** Publish `mapping` as the next manifest version — the OPTIMISTIC
    * COMMIT point of the single-writer contract (see the object scaladoc
    * "Concurrent writers").
    *
    * `expectedBase` is the manifest version this batch's reads were
    * resolved against. Detection is two-layered:
    *   1. if the current version has advanced past `expectedBase`,
    *      another writer committed while this batch was being written —
    *      its merge output is stale (computed against superseded bucket
    *      contents) and publishing it would silently drop the other
    *      writer's batch (lost update). Fail with
    *      [[ConcurrentWriteException]] BEFORE creating anything.
    *   2. the `create(overwrite = false)` of `v(expectedBase+1)` is the
    *      atomic tie-break for two writers that BOTH passed check 1: the
    *      filesystem admits exactly one creator; the loser's
    *      already-exists failure is rethrown as the same retryable
    *      [[ConcurrentWriteException]].
    * Either way the losing batch publishes NOTHING (its data dir stays
    * an invisible orphan, removed by [[rewriteBuckets]] and by the next
    * write's GC) and the winning batch is untouched.
    *
    * Afterwards only the newest `retain` versions are kept: superseded
    * manifests beyond the retention window point at dirs the GC may
    * remove, so leaving them listed would trade "old snapshot" for
    * "failing snapshot". */
  private def commitManifest(
      fs: FileSystem, path: String, mapping: Map[Int, Chain], retain: Int,
      expectedBase: Long): Unit = {
    interleaveBeforeCommit()
    val dir = new Path(path, manifestDir)
    val current = currentManifestFile(fs, path).map(versionOf).getOrElse(0L)
    if (current != expectedBase)
      throw new ConcurrentWriteException(
        s"manifest at $path advanced v$expectedBase -> v$current while this " +
          "batch was being written: another writer committed first. This " +
          "batch was NOT published (no partial state is visible). The " +
          "target is single-writer; retry the merge — it will re-read the " +
          "new state and re-merge.")
    val p = new Path(dir, f"v${expectedBase + 1}%09d")
    val body = mapping.toSeq.sortBy(_._1)
      .map { case (b, c) => (b.toString +: c.dirs.map(d => s"${d.commit}:${d.rows}")).mkString("\t") }
      .mkString("", "\n", "\n")
    // atomic commit: the fs admits exactly one creator of this version
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if fs.exists(p) =>
        throw new ConcurrentWriteException(
          s"lost the commit race for v${expectedBase + 1} at $path: another " +
            "writer created it first. This batch was NOT published; the " +
            s"target is single-writer — retry the merge. (${e.getMessage})")
      }
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val files = manifestFiles(fs, path)
    files.dropRight(math.max(1, retain)).foreach(fs.delete(_, false))
  }

  /** Remove data dirs not referenced by ANY retained manifest — as a
    * chain's base or one of its deltas: leftovers of a crash between
    * data write and manifest commit, and bucket dirs superseded past the
    * retention window. Runs at the START of each
    * write (so a crashed batch's orphans die on replay) and after each
    * commit (so superseded data doesn't accumulate). Single-writer
    * contract. */
  private def gcUnreferenced(fs: FileSystem, path: String): Unit = {
    val dd = new Path(path, dataDir)
    if (!fs.exists(dd)) return
    // every dir of every chain of every retained version
    val live: Map[String, Set[Int]] = manifestFiles(fs, path)
      .flatMap(p => parseManifest(fs, p).toSeq.flatMap { case (b, c) => c.commits.map(_ -> b) })
      .groupBy(_._1).map { case (d, m) => d -> m.map(_._2).toSet }
    fs.listStatus(dd).toSeq.filter(_.isDirectory).foreach { c =>
      val name = c.getPath.getName
      live.get(name) match {
        case None => fs.delete(c.getPath, true) // whole commit superseded/orphaned
        case Some(liveBuckets) =>
          fs.listStatus(c.getPath).toSeq.filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith(bucketCol + "="))
            .filterNot(s => liveBuckets.contains(
              s.getPath.getName.stripPrefix(bucketCol + "=").toInt))
            .foreach(s => fs.delete(s.getPath, true))
      }
    }
  }

  private def leafDir(path: String, commit: String, bucket: Int): Path =
    new Path(new Path(new Path(path, dataDir), commit), s"$bucketCol=$bucket")

  // --------------------------------------------------------------- read

  /** The whole target as a DataFrame in its logical schema (no bucket
    * column). An empty target still has a schema — it is part of the
    * layout metadata. */
  def read(spark: SparkSession, path: String): DataFrame =
    // ONE manifest read: a commit landing between two reads would mix
    // one version's bucket set with the next one's dirs, a state no
    // version held
    readMapping(spark, path, manifest(spark, path))

  /** The given buckets of the target, resolved through the manifest into
    * explicit leaf dirs — untouched buckets are never even listed
    * (path-level pruning; pinned in BucketedMergeSinkSpec). */
  def readBuckets(spark: SparkSession, path: String, buckets: Seq[Int]): DataFrame =
    readDirs(spark, path, readMeta(spark, path), manifest(spark, path), buckets)

  /** Point-lookup / keyed read: prune to the buckets the given key rows
    * hash to — the read-side twin of the write-side pruning. `keys` must
    * carry the layout's key columns (values are cast to the target
    * types before hashing, same as the merge's routing); the distinct
    * bucket set is ≤ numBuckets, so the collect is driver-safe. */
  def readForKeys(spark: SparkSession, path: String, keys: DataFrame): DataFrame = {
    val meta = readMeta(spark, path)
    val tType = meta.schema.fields.map(f => f.name -> f.dataType).toMap
    meta.key.foreach(k => require(keys.columns.contains(k),
      s"keyed read needs layout key column '$k' (got ${keys.columns.mkString(",")})"))
    val routeExprs = meta.key.map(k => col(k).cast(tType(k)))
    val buckets = keys
      .select(bucketOf(routeExprs, meta.numBuckets).as(bucketCol))
      .distinct().collect().map(_.getInt(0)).toSeq
    readBuckets(spark, path, buckets)
  }

  // -------------------------------------------------------------- merge

  /** Merge `batch` into the bucketed target at `path`, creating the
    * layout on first use. Same semantics as
    * [[MergeSink.mergeIntoParquet]] (it routes through the same
    * upsert/update/delete), different physical cost: only the buckets
    * the batch's keys hash to are read (through the [[snapshot]]'s
    * mapping) and changed — each gains a delta or folds ([[write]]) —
    * and the batch becomes visible atomically at the one commit step,
    * [[rewriteBuckets]] — creation included.
    *
    * `numBuckets` is only consulted at creation; later calls read it
    * from the layout metadata. Upsert/update must use the layout's key
    * (rows are ROUTED by it — merging on a different key would compare
    * rows across bucket boundaries that were never co-located). Delete
    * may use any `identifier`: when it differs from the layout key the
    * delete cannot prune and touches every bucket, which is still
    * correct, just full-cost. */
  def merge(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      loadType: String,
      key: Seq[String] = Seq("id"),
      identifier: String = "id",
      excluded: Seq[String] = Nil,
      numBuckets: Int = 64,
      retainVersions: Int = 0,
      scd2Ts: String = ""): Unit =
    write(spark, path, Some(Change(batch, loadType, key, identifier, excluded, scd2Ts)),
      numBuckets = numBuckets, retainVersions = retainVersions): Unit

  /** Apply a NET change to the bucketed target at `path` in ONE commit:
    * the rows whose key is in `deletes` leave the touched slice, then
    * `upserts` upsert into it. Validation, routing and creation are
    * [[merge]]'s: the commit covers every bucket an upsert routes to and
    * every existing bucket a delete key routes to, and an absent target
    * is created from `upserts` alone (nothing to delete from). The
    * delete keys match the single key column. When `upserts` carries
    * every layout column, the net change IS the delta of each bucket the
    * commit appends to, so those buckets are not read. `cached` and
    * `routeBy` as in [[Change]], `compactMaxFiles` as in [[write]]. */
  private def applyNet(
      spark: SparkSession,
      upserts: DataFrame,
      deletes: Option[DataFrame],
      path: String,
      key: Seq[String],
      numBuckets: Int,
      retainVersions: Int,
      cached: Boolean,
      compactMaxFiles: Option[Int] = None,
      routeBy: Option[DataFrame] = None): Unit = {
    require(deletes.isEmpty || key.size == 1,
      s"deletes route by a single key column, got ${key.mkString(",")}")
    write(spark, path, Some(Change(upserts, "upsert", key, key.head,
      deletes = deletes, cached = cached, net = true, routeBy = routeBy)),
      compactMaxFiles = compactMaxFiles, numBuckets = numBuckets,
      retainVersions = retainVersions): Unit
  }

  /** What one [[write]] merges: `rows` under `loadType`, [[merge]]'s
    * semantics, and with `deletes` the delete keys of [[applyNet]]'s net
    * change, dropped from the slice before the merge plan runs on it.
    * `cached`: the caller persisted the frame `rows` and `deletes` derive
    * from, so the write reads through that one cache instead of building
    * a second copy of the same rows. `net`: the change is
    * [[applyNet]]'s. `routeBy`: a frame of layout keys covering every key
    * of `rows` and `deletes`, routed instead of them — so the routing
    * job need not evaluate `rows`. */
  private[graft] final case class Change(
      rows: DataFrame,
      loadType: String,
      key: Seq[String],
      identifier: String,
      excluded: Seq[String] = Nil,
      scd2Ts: String = "",
      deletes: Option[DataFrame] = None,
      cached: Boolean = false,
      net: Boolean = false,
      routeBy: Option[DataFrame] = None) {
    // the column the merge matches on: a delete's id, else the key
    def mergeKey: Seq[String] = if (loadType == "delete") Seq(identifier) else key
    // the delete ids — a delete batch, or a net change's delete keys
    def deleteIds: Option[DataFrame] = if (loadType == "delete") Some(rows) else deletes
  }

  /** One planned write of the bucketed target at `path`: the `change`
    * merge, the `purge` predicate (a SQL boolean over the target's
    * columns; empty = none) and the `compactMaxFiles` bound land in ONE
    * version through [[rewriteBuckets]]. Every version a merge,
    * [[deleteWhere]], [[compact]] or a [[graft.core.Derived.Load]] makes
    * is planned here, so there is one purge rule, one compaction rule and
    * one fold rule.
    *
    * The commit covers the union of
    *   - the buckets the change routes to: an upsert/update/scd2 row's
    *     bucket (created if need be), a delete id's existing bucket, or
    *     every live bucket when a delete's identifier is not the layout
    *     key;
    *   - the buckets holding rows the purge matches, found by a filtered
    *     scan of the [[purgeDiscoveryBuckets]] — the same counting job as
    *     the routing, so discovery costs no job of its own;
    *   - with a compaction bound, every live bucket whose base dir holds
    *     more than `compactMaxFiles` data files; a bare [[compact]] also
    *     takes every bucket whose chain holds deltas.
    *
    * Each covered bucket either appends a DELTA to its chain or FOLDS:
    * it is rewritten as a new base, the merge of its whole folded slice.
    * A bucket folds when the load is scd2, the layout holds scd2 history
    * ([[holdsVersions]]: several rows per key), or the write is a
    * creation or a bare [[compact]]; when its chain's delta rows plus
    * the rows this change routes to it reach half its base's rows, or it
    * would hold [[maxDeltas]] deltas; when it is new, its base's row
    * count is not recorded, its base is fragmented past the compaction
    * bound, or the change cannot route (a foreign delete identifier).
    * Otherwise it appends the commit's net change: the merged rows of
    * every key the change names (so `excluded` and partial-column
    * batches keep [[MergeSink]] semantics) and a key-only tombstone for
    * every key a delete or the purge removes. An [[applyNet]] change
    * that carries every layout column is itself those rows, so the
    * buckets it appends to are not read at all. The purge removes the
    * rows where it holds (a null predicate is no match, SQL DELETE
    * semantics); the state between the merge and the purge is never
    * published.
    *
    * A write without a change, and a compacting one, shuffle by bucket
    * so each written dir is one file. Returns the covered buckets (empty:
    * nothing to do, no version committed). `numBuckets` is consulted at
    * creation only. */
  private[graft] def write(
      spark: SparkSession,
      path: String,
      change: Option[Change],
      purge: String = "",
      compactMaxFiles: Option[Int] = None,
      numBuckets: Int = 0,
      retainVersions: Int = 0): Seq[Int] = {
    change.foreach { c =>
      require(Set("upsert", "update", "delete", "scd2")(c.loadType),
        s"unknown load type: ${c.loadType}")
      require(c.loadType != "scd2" || c.scd2Ts.nonEmpty,
        "scd2 load needs an explicit batch timestamp (scd2_ts) — version " +
          "bounds must be deterministic, never wall-clock")
      require(!c.rows.columns.contains(bucketCol),
        s"'$bucketCol' is the reserved bucket column of the layout — rename it in the batch")
      require(!c.rows.columns.exists(Set(seqCol, tombCol)),
        s"'$seqCol' and '$tombCol' are reserved delta columns of the layout — rename them in the batch")
    }
    require(retainVersions >= 0,
      s"retainVersions must be >= 0 (0 = the layout's persisted value), got $retainVersions")
    val fs = fsOf(spark, path)
    val oneFilePerDir = change.isEmpty || compactMaxFiles.nonEmpty

    if (!isBucketed(spark, path)) {
      val c = change.getOrElse(throw new IllegalArgumentException(
        s"$path is not a bucketed target (no $metaFile)"))
      require(!fs.exists(new Path(path)) || fs.listStatus(new Path(path)).isEmpty,
        s"$path exists but is not a bucketed target (no $metaFile) — " +
          "refusing to overwrite a flat layout; use MergeSink.mergeIntoParquet there")
      require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
      val rows = c.loadType match {
        case "delete" => return Nil // nothing to delete from
        // update-only against an absent target affects zero rows, but it
        // DOES establish the layout (schema + key), like
        // mergeIntoParquet's limit(0) write
        case "update" => MergeSink.dedupeBatch(c.rows, c.key).limit(0)
        case "upsert" => MergeSink.dedupeBatch(c.rows, c.key)
        // SCD2 bootstrap (MergeSink.openVersions): the layout's schema
        // includes the sink-managed version columns from day one
        case "scd2" => MergeSink.openVersions(c.rows, c.key, to_timestamp(lit(c.scd2Ts)))
      }
      c.key.foreach(k => require(rows.columns.contains(k),
        s"key column '$k' missing from batch (${rows.columns.mkString(",")})"))
      val pred = purgeOf(spark, rows.schema, purge)
      // creation is where a retention request becomes the LAYOUT's
      // retention (0 = the historical default of 1)
      val retain = if (retainVersions == 0) 1 else retainVersions
      // meta FIRST: from here the target exists (empty) and every later
      // state is consistent — a crash before the manifest commit leaves an
      // established empty layout plus an invisible orphan, and replaying
      // the same batch converges (meta-last would instead strand a
      // half-created path that the flat-layout guard then refuses forever)
      writeMeta(spark, path, Meta(numBuckets, c.key, rows.schema, retain))
      // creation commits v1 from an empty manifest: two processes racing to
      // CREATE the same target tie-break on the v1 create — the loser gets
      // the same retryable ConcurrentWriteException (and on retry converges,
      // since the winner established the layout)
      val all = (0 until numBuckets).toSet
      rewriteBuckets(fs, path,
        pred.fold(rows)(p => rows.filter(!p)).withColumn(bucketCol, bucketExpr(c.key, numBuckets)),
        all, Set.empty, oneFilePerDir, 0L, Map.empty, retain)
      return all.toSeq.sorted
    }

    val meta = readMeta(spark, path)
    val n = meta.numBuckets
    // a conflicting retainVersions must fail HERE, not at commit time
    // after the whole extract→route→write job has run (same placement
    // rationale as the schema check below): silently honoring a
    // different value would delete promised snapshots or change the
    // contract
    require(retainVersions == 0 || retainVersions == meta.retainVersions,
      s"retainVersions=$retainVersions conflicts with the layout's persisted " +
        s"retention ${meta.retainVersions} at $path — retention is a " +
        "layout property; change it with BucketedMergeSink.setRetention")
    change.foreach { c =>
      // schema-evolution contract (MergeSink.validateBatchSchema scaladoc):
      // checked BEFORE any routing/persist work — the routing cast below
      // must never be the thing that silently narrows a batch column
      if (c.loadType != "delete")
        MergeSink.validateBatchSchema(meta.schema, c.rows.schema, c.mergeKey)
      // the delete ids BEFORE bucket pruning: a mis-typed id column must
      // fail loudly even when its (mis-cast) ids all route to absent
      // buckets — the early return below would otherwise turn it into a
      // silent no-op, which the flat sink refuses
      c.deleteIds.foreach(ids => MergeSink.validateDeleteIds(meta.schema,
        ids.schema, c.identifier, MergeSink.deleteIdColumn(ids, c.identifier)))
      if (c.loadType != "delete")
        require(c.key == meta.key,
          s"bucketed target $path is keyed on ${meta.key.mkString(",")} — " +
            s"cannot ${c.loadType} on ${c.key.mkString(",")} (rows are routed by the layout key)")
    }
    val pred = purgeOf(spark, meta.schema, purge)

    // the optimistic-commit base and the mapping every read below
    // resolves through (object scaladoc "Concurrent writers")
    val (base, mapping) = snapshot(fs, path)
    // which buckets does this change touch? a delete prunes when the
    // TARGET column it matches is the layout key (a target row with
    // key=v lives in bucket hash(v), whatever the id column in the
    // batch is called); a foreign delete identifier can land anywhere →
    // all buckets, still correct, just full-cost
    val canPrune = change.forall(_.mergeKey == meta.key)
    // hash() is type-sensitive: a batch key narrower than the target's
    // (MergeSink casts batch values to the target type on output) must
    // be cast BEFORE hashing or it routes to the wrong bucket
    val tType = meta.schema.fields.map(f => f.name -> f.dataType).toMap
    def keysOf(df: DataFrame) = df.select(meta.key.map(k => col(k).cast(tType(k)).as(k)): _*)
    // the single key column of a frame of delete ids, cast and non-null
    def idsOf(ids: DataFrame, identifier: String) = {
      val k = meta.key.head
      ids.select(col(MergeSink.deleteIdColumn(ids, identifier)).cast(tType(k)).as(k))
        .filter(col(k).isNotNull)
    }
    // each frame that routes buckets, tagged whether the bucket must
    // already exist (delete ids route by MergeSink.delete's id column; a
    // purge match lives in a live bucket by construction)
    def bucketsOf(df: DataFrame, exprs: Seq[org.apache.spark.sql.Column], existing: Boolean) =
      df.select(bucketOf(exprs, n).as(bucketCol), lit(existing).as("existing"))
    def byId(df: DataFrame, identifier: String) = bucketsOf(df,
      Seq(col(MergeSink.deleteIdColumn(df, identifier)).cast(tType(identifier))), true)
    val routed: Seq[DataFrame] = change.toSeq.flatMap { c =>
      c.routeBy.map(r => Seq(bucketsOf(keysOf(r), meta.key.map(col), false))).getOrElse(
        if (c.loadType == "delete") Seq(byId(c.rows, c.identifier))
        else bucketsOf(c.rows, c.key.map(k => col(k).cast(tType(k))), false) +:
          c.deletes.map(byId(_, c.identifier)).toSeq)
    }
    // the purge's discovery: the filtered scan of every bucket that can
    // hold a match — pruned to the key's buckets when the predicate pins
    // the layout key (the GDPR `user_id = X` shape); arbitrary predicates
    // (TTL cutoffs) scan every live bucket, with parquet row-group stats
    // pruning inside where the predicate allows
    lazy val found: Option[DataFrame] = for {
      p <- pred
      discovery = purgeDiscoveryBuckets(spark, meta, mapping.keys.toSeq, purge)
      if discovery.nonEmpty
    } yield bucketsOf(readDirs(spark, path, meta, mapping, discovery).filter(p),
      meta.key.map(col), true)
    // The touched-bucket scan below is an ACTION on the batch, and the
    // merge/route/write then executes it again; through Runner the batch
    // is the whole extract→transform chain, so without caching every
    // bucketed incremental load pays that chain twice. Persist once and
    // serve both from the cache; a caller who already persisted — the
    // batch itself or the frame it derives from — keeps ownership of
    // their own cache.
    val ownPersist = change.exists(c =>
      canPrune && !c.cached && c.rows.storageLevel == StorageLevel.NONE)
    if (ownPersist) change.get.rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the rows the change and the purge route to each bucket: ≤
      // 2·numBuckets counts to collect, in one job for the routing and
      // the purge discovery together
      val routedRows: Map[Int, Long] =
        if (!canPrune) mapping.keys.map(_ -> 0L).toMap
        else (routed ++ found).reduceOption(_ union _).toSeq
          .flatMap(_.groupBy(bucketCol, "existing").count().collect()
            .map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2))))
          .collect { case (b, existing, k) if !existing || mapping.contains(b) => b -> k }
          .groupMapReduce(_._1)(_._2)(_ + _)
      val bareCompact = change.isEmpty && compactMaxFiles.nonEmpty
      val history = change.exists(_.loadType == "scd2") || holdsVersions(meta)
      // the fold rule (scaladoc above), before the compaction bound
      def folds(b: Int): Boolean = !canPrune || history || (mapping.get(b) match {
        case None => true
        case Some(c) => c.base.rows < 0 || c.deltas.size + 1 >= maxDeltas ||
          2 * (c.deltas.map(_.rows).sum + routedRows(b)) >= c.base.rows
      })
      val ruleFolds = routedRows.keySet.filter(folds)
      // a bare compact folds every chain; any compaction folds the
      // buckets whose base is fragmented
      val compacted = compactMaxFiles.toSeq.flatMap(fragmented(fs, path, mapping -- ruleFolds, _)) ++
        (if (bareCompact) mapping.collect { case (b, c) if c.deltas.nonEmpty => b } else Nil)
      val rewritten = routedRows.keySet ++ compacted
      if (rewritten.isEmpty) return Nil
      val folded = ruleFolds ++ compacted
      val appended = rewritten -- folded
      def in(bs: Set[Int]) = col(bucketCol).isin(bs.toSeq: _*)

      // an applyNet change with every layout column is its own delta:
      // only the folding buckets are read and merged
      val direct = change.exists(c => c.net && pred.isEmpty &&
        meta.schema.fieldNames.forall(c.rows.columns.contains))
      // the read slice of the target: only its leaf dirs are listed
      val slice = readDirs(spark, path, meta, mapping, (if (direct) folded else rewritten).toSeq)
      val merged = change.fold(slice) { c =>
        val target = c.deletes.fold(slice)(d => MergeSink.delete(slice, d,
          c.identifier, broadcastIds = MergeSink.fitsBroadcast(d)))
        val bcast = MergeSink.fitsBroadcast(c.rows)
        c.loadType match {
          case "upsert" => MergeSink.upsert(target, c.rows, c.key, c.excluded, broadcastBatch = bcast)
          case "update" => MergeSink.update(target, c.rows, c.key, c.excluded, broadcastBatch = bcast)
          case "delete" => MergeSink.delete(target, c.rows, c.identifier, broadcastIds = bcast)
          case "scd2" =>
            MergeSink.scd2(target, c.rows, to_timestamp(lit(c.scd2Ts)), c.key,
              broadcastBatch = bcast)
        }
      }
      // re-derive each merged row's bucket from the LAYOUT key (surviving
      // target rows keep their bucket; inserts hash to a covered one)
      val tagged = merged.withColumn(bucketCol, bucketExpr(meta.key, n))
      val kept = pred.fold(tagged)(p => tagged.filter(!p))
      val rows =
        if (appended.isEmpty) kept
        else {
          // key-only rows marking a removed key
          def tombstones(keys: DataFrame) = keys.select(meta.schema.fields.toSeq.map(f =>
            if (meta.key.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)) :+ lit(true).as(tombCol): _*)
          val after = tagged.filter(in(appended))
          // the new rows of every key the batch names: an applyNet change
          // with every layout column is them (cast to the layout, as the
          // merge casts it), else the merged rows of the batch's keys
          val restated = change.filter(_.loadType != "delete").map { c =>
            if (direct) MergeSink.dedupeBatch(c.rows, meta.key).select(
              meta.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
            else pred.fold(after)(p => after.filter(!p)).alias("a")
              .join(broadcastIfSmall(keysOf(c.rows)).alias("k"), keyEq(meta.key, "a", "k"), "left_semi")
          }
          val deleted = change.flatMap(c => c.deleteIds.map(ids => idsOf(ids, c.identifier).distinct()))
          // a delete key no restated row names becomes a tombstone; one
          // pass over the restated rows (a signing, for an index)
          val named = (restated, deleted) match {
            case (Some(r), Some(d)) =>
              val k = meta.key.head
              Some(d.alias("d").join(r.withColumn("__u", lit(true)).alias("u"),
                col(s"d.$k") === col(s"u.$k"), "full_outer")
                .select(meta.schema.fieldNames.toSeq.map(f =>
                  (if (f == k) coalesce(col(s"u.$f"), col(s"d.$f")) else col(s"u.$f")).as(f)) :+
                  col("__u").isNull.as(tombCol): _*))
            case _ => restated.map(_.withColumn(tombCol, lit(false))).orElse(deleted.map(tombstones))
          }
          // and a tombstone for every key the purge removes
          val purged = pred.map(p => tombstones(keysOf(after.filter(p))))
          val delta = (named ++ purged).map(_.withColumn(bucketCol, bucketExpr(meta.key, n)))
            .reduce(_ unionByName _)
            .filter(in(appended)).withColumn(seqCol, lit(base + 1))
          if (folded.isEmpty) delta
          else kept.filter(in(folded))
            .withColumn(tombCol, lit(null).cast(BooleanType))
            .withColumn(seqCol, lit(null).cast(LongType))
            .unionByName(delta)
        }
      rewriteBuckets(fs, path, rows, rewritten, appended, oneFilePerDir, base, mapping,
        meta.retainVersions)
      rewritten.toSeq.sorted
    } finally if (ownPersist) change.get.rows.unpersist(false)
  }

  /** True when the layout carries [[MergeSink.scd2]]'s version columns:
    * it may hold several rows of one key, so a key-only tombstone or a
    * delta naming a key cannot stand for the key's rows, and every write
    * folds. */
  private def holdsVersions(meta: Meta): Boolean =
    Seq("valid_from", "valid_to", "is_current").forall(meta.schema.fieldNames.contains)

  /** `condition` as a purge predicate over rows of `schema` (None when
    * empty): a row matches where it holds, and a null is no match.
    * Resolved here, before any write, so a predicate naming a column the
    * target lacks refuses up front. */
  private def purgeOf(spark: SparkSession, schema: StructType,
      condition: String): Option[org.apache.spark.sql.Column] =
    Option.when(condition.nonEmpty) {
      val pred = coalesce(expr(condition), lit(false))
      try spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).filter(pred)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(s"purge predicate `$condition` does " +
          s"not resolve against the target's columns " +
          s"(${schema.fieldNames.mkString(", ")}) — refusing before any write: " +
          e.getMessage, e)
      }
      pred
    }

  /** The buckets of `mapping` whose base dir holds more than `maxFiles`
    * data files. Lists only referenced leaf dirs, in parallel across a
    * bounded thread pool — one driver-side listing per bucket was a
    * serial bottleneck at 1k+ buckets. */
  private def fragmented(fs: FileSystem, path: String, mapping: Map[Int, Chain],
      maxFiles: Int): Seq[Int] =
    listParallel(mapping.toSeq) { case (b, c) =>
      val files = fs.listStatus(leafDir(path, c.base.commit, b))
        .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")) // "."-files: local-fs .crc checksums
      Option.when(files > maxFiles)(b)
    }.flatten.sorted

  // ------------------------------------------------------------ compact

  /** Fold every chain and compact fragmented bases down to one file
    * each.
    *
    * Each merge writes a bucket's new base or delta with the write
    * parallelism of the merge job, so a dir holds up to
    * `spark.sql.shuffle.partitions` part files per write — cheap at
    * merge time (no extra shuffle on the latency-sensitive load path),
    * but after many micro-batches the small files tax every later scan
    * (file-listing + per-file open cost dominates at 100 TB), and every
    * delta a chain holds is folded on every read. This is the standard
    * LSM split: fast small writes, background compaction.
    *
    * A compaction-only [[write]]: every bucket whose chain holds deltas,
    * and every bucket whose base holds more than `maxFiles` data files,
    * folds into a new base, as ONE job into a fresh commit dir —
    * `repartition($"gbucket")` so each bucket lands in exactly one task
    * (→ exactly one output file per bucket) — and published by the same
    * commit step as a merge, [[rewriteBuckets]]: readers see the target
    * fully chained or fully compacted, never half. Content is
    * row-identical. A load with `compact: true` writes every dir as one
    * file and folds its fragmented bases in its own commit, but leaves
    * short chains be. Returns the compacted bucket ids. */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 1): Seq[Int] =
    write(spark, path, None, compactMaxFiles = Some(maxFiles))

  /** Predicate-based delete over a bucketed target — see
    * [[MergeSink.deleteWhere]] for the semantics. A purge-only
    * [[write]]: ONE filtered scan locates the buckets holding matching
    * rows — pruned to the key's own buckets when the predicate pins the
    * layout key (the GDPR `user_id = X` shape, [[purgeDiscoveryBuckets]]);
    * for arbitrary predicates (TTL) it covers every live bucket with
    * parquet row-group statistics pruning inside — then only those
    * buckets change — each appends a delta of tombstones or folds,
    * [[write]]'s rule — O(touched buckets), the same asymmetry as the
    * merge. Both scans read through one [[snapshot]], and the commit
    * is one version through [[rewriteBuckets]]: a folded bucket the
    * purge empties drops from the manifest (and its dir is GC'd) exactly
    * like an id-based delete that empties it. A load with `delete_where:`
    * folds the same rule into its own commit. A predicate naming a
    * column the target lacks refuses before any write. Returns the
    * rewritten bucket ids (empty = nothing matched, no version
    * committed). */
  def deleteWhere(spark: SparkSession, path: String, condition: String): Seq[Int] =
    write(spark, path, None, purge = condition)

  /** The buckets a purge's DISCOVERY scan ([[write]]) must read for
    * `condition`: when every layout-key column is pinned to literal
    * values by top-level equality / IN conjuncts (the GDPR purge shape
    * — `user_id = 123`, `id IN (7, 42) AND ts < ...`), only the buckets
    * those key tuples hash to can hold matching rows, so discovery
    * prunes to them — [[readForKeys]]' routing applied to the predicate
    * text. Any other shape (ranges, ORs, non-key columns — the TTL
    * purge) returns every live bucket: the full filtered scan is
    * inherent there.
    *
    * Soundness over cleverness: pruning only engages when the pinned
    * literal's type equals the key column's, or both are integral (a
    * value-preserving coercion). A cross-type comparison like
    * `long_key = '0123'` matches rows via SQL coercion that hash
    * differently from the literal's own representation — those fall
    * back to the full scan rather than risk missing a matching row.
    * Literal combinations are capped (1024) so the local routing job
    * stays trivial next to the scan it replaces. */
  private[graft] def purgeDiscoveryBuckets(
      spark: SparkSession,
      meta: Meta,
      live: Seq[Int],
      condition: String): Seq[Int] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualNullSafe, EqualTo, Expression => CExpr, In => CIn, Literal => CLit}
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    val all = live.sorted
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(condition)
      catch { case scala.util.control.NonFatal(_) => return all }
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def isKey(e: CExpr, k: String): Boolean = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.sizeIs == 1 && a.nameParts.head.equalsIgnoreCase(k)
      case _ => false
    }
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    def safeLit(l: CLit, k: String): Boolean = {
      val kt = meta.schema(meta.schema.fieldIndex(k)).dataType
      l.dataType == kt || (integral(l.dataType) && integral(kt))
    }
    val cs = conjuncts(parsed)
    // per key column: the literals a conjunct pins it to (None = unpinned)
    val pinned: Option[Seq[Seq[CLit]]] =
      meta.key.foldLeft(Option(Vector.empty[Seq[CLit]])) { (acc, k) =>
        acc.flatMap { v =>
          cs.collectFirst {
            case EqualTo(a, l: CLit) if isKey(a, k) && safeLit(l, k) => Seq(l)
            case EqualTo(l: CLit, a) if isKey(a, k) && safeLit(l, k) => Seq(l)
            case EqualNullSafe(a, l: CLit) if isKey(a, k) && safeLit(l, k) => Seq(l)
            case EqualNullSafe(l: CLit, a) if isKey(a, k) && safeLit(l, k) => Seq(l)
            case CIn(a, ls) if isKey(a, k) && ls.nonEmpty &&
                ls.forall { case l: CLit => safeLit(l, k); case _ => false } =>
              ls.map(_.asInstanceOf[CLit])
          }.map(v :+ _)
        }
      }
    pinned match {
      case Some(lists) if lists.map(_.size.toLong).product <= 1024L =>
        val tType = meta.schema.fields.map(f => f.name -> f.dataType).toMap
        val combos = lists.foldLeft(Seq(Seq.empty[CLit]))(
          (acc, ls) => acc.flatMap(pre => ls.map(pre :+ _)))
        // route each combination through the SAME cast + hash as the
        // merge: one local row per combo, cast to the layout's types
        val rows = combos.map { combo =>
          spark.range(1).select(meta.key.zip(combo).map { case (k, l) =>
            org.apache.spark.sql.GraftSqlBridge.column(l).cast(tType(k)).as(k)
          }: _*)
        }.reduce(_ unionByName _)
        val liveSet = live.toSet
        rows.select(bucketOf(meta.key.map(k => col(k).cast(tType(k))),
            meta.numBuckets).as(bucketCol))
          .distinct().collect().map(_.getInt(0)).toSeq
          .filter(liveSet).sorted
      case _ => all
    }
  }

  /** Driver-side parallel map over per-bucket filesystem metadata calls:
    * object stores serve ~tens of listings/s per thread, so a serial
    * loop over 10k buckets takes minutes while 32 threads take seconds.
    * Bounded pool; propagates the first failure. */
  private def listParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.sizeIs <= 4) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, items.size))
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(items.map(a =>
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }).asJava)
        .asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }
}
