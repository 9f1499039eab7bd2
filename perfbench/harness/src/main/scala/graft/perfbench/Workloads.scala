package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineSpec
import graft.core.Runner
import graft.ops.{Dedup, Similarity}
import graft.sink.BucketedMergeSink

/** What a workload's window produced: operation latencies (the first is
  * the cold run), throughput, write amplification and error counts. */
final case class Window(
    coldS: Double,
    steadyS: Seq[Double],
    rowsPerS: Double,
    writeAmp: Double,
    attempted: Int,
    failures: Seq[String],
    detail: Map[String, Any],
    layer: Map[String, Double] = Map.empty,
    opsOverride: Option[Double] = None)

/** Outcome of the output checks, run after the window; `layer` adds
  * per-layer values only the checks count. */
final case class Checked(failures: Seq[String], recall: Double, spaceAmp: Double,
    detail: Map[String, Any], layer: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val inputs: String, val work: String,
    val tr: Tracer) {
  /** The first read of the inputs, the last step of set-up. */
  def firstTouch(): Unit
  def runWindow(seconds: Double): Window
  def check(w: Window): Checked

  protected def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  /** Bytes of `df` written once, as one parquet file — the denominator of
    * `space_amp`. */
  protected def onceBytes(df: DataFrame, name: String): Long = {
    val p = s"$work/check/once-$name"
    df.coalesce(1).write.mode("overwrite").parquet(p)
    bytesUnder(p)
  }

  /** Order-insensitive row-set difference count, both directions. */
  protected def diffRows(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.toSeq.map(col)
    val x = a.select(cols: _*); val y = b.select(cols: _*)
    x.exceptAll(y).count() + y.exceptAll(x).count()
  }

  /** What a closed loop ran: the cold latency, the steady latencies,
    * failures and the number of operations attempted. */
  final case class Loop(coldS: Double, steadyS: Seq[Double], fails: Seq[String],
      attempted: Int)

  /** Closed loop over numbered operations: operation 0 is the cold run,
    * operations 1 to `warmup` bring the state to its steady
    * shape and are timed but not reported, then steady operations run
    * until their summed latency reaches `seconds` or `available`
    * operations have run. Checks between operations are outside the
    * timed latencies. */
  protected def closedLoop(seconds: Double, available: Int, warmup: Int = 0)(
      rowsChars: Int => (Long, Long),
      body: Int => Unit,
      perOpCheck: Int => Seq[String]): Loop = {
    var cold = Double.NaN
    val steadyLat = mutable.ArrayBuffer.empty[Double]
    val fails = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < available && (i <= warmup || steadyLat.sum < seconds)) {
      val steady = i > warmup
      val (rows, chars) = rowsChars(i)
      val t = try tr.op(i, steady, rows, chars)(body(i))
      catch { case e: Exception =>
        fails += s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        Double.NaN
      }
      if (!t.isNaN) {
        if (i == 0) cold = t
        if (steady) steadyLat += t
        fails ++= perOpCheck(i).map(m => s"op $i: $m")
      }
      i += 1
    }
    Loop(cold, steadyLat.toSeq, fails.toSeq, i)
  }

  /** The closed loop's window metrics; `inBytes(i)` is the size of
    * operation i's input files. */
  protected def closedWindow(loop: Loop, inBytes: Int => Long,
      detail: Map[String, Any]): Window = {
    val steadyOps = tr.ops.filter(_.steady)
    val chosen = if (steadyOps.nonEmpty) steadyOps.toSeq else tr.ops.toSeq
    val time = chosen.map(o => (o.endMs - o.startMs) / 1000.0).sum.max(1e-9)
    val rowsPerS = chosen.map(_.rows).sum / time
    val writeAmp = chosen.map(_.counters.fsBytesWritten).sum.toDouble /
      chosen.map(o => inBytes(o.index)).sum.max(1L)
    Window(loop.coldS, loop.steadyS, rowsPerS, writeAmp, loop.attempted, loop.fails, detail)
  }
}

/** Incremental CDC ingest: one `Runner.run` per change batch into a
  * bucketed target with change feed + outbox compaction, MinHash index,
  * KLL profile with an armed KS gate, TTL delete and compaction, then a
  * registered `subscribe_feed` replica. Operation 0 (the cold run) loads
  * the base corpus through the same pipeline; operation i applies change
  * batch i. */
final class CdcIngest(spark: SparkSession, inputs: String, work: String, tr: Tracer,
    ttl: Int) extends Workload(spark, inputs, work, tr) {
  private val root = s"$work/target"
  private val batches = Option(new File(s"$inputs/batches").listFiles).getOrElse(Array.empty[File])
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  private val sources = new File(s"$inputs/base.parquet") +: batches
  private val cols = Seq("doc_id", "text", "source", "n_chars", "epoch")
  // Change batch 1 is a warm-up, timed but not reported: it is the last run
  // that does not find more than retain_versions versions to trim. From
  // batch 2 on every run deletes, trims and rebases the outbox.
  private val warmup = 1

  private def yaml(batch: String): String =
    s"""pypelines:
       |  ingest: [producer, consumer]
       |pypes:
       |  producer:
       |    sources:
       |      changes: {format: parquet, path: "$batch"}
       |    extract_query: "SELECT doc_id, text, source, n_chars, epoch FROM changes"
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
       |""".stripMargin

  def firstTouch(): Unit = {
    require(batches.nonEmpty, s"no change batches under $inputs/batches")
    spark.read.parquet(sources.head.getPath).count(): Unit
  }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), coalesce(sum(xxhash64(cols.map(col): _*) % 1000000007L),
      lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // the state each operation left, recorded outside the timed operations
  private val targetRows = mutable.ArrayBuffer.empty[Long]
  private val versions = mutable.ArrayBuffer.empty[String]

  def runWindow(seconds: Double): Window = {
    val loop = closedLoop(seconds, sources.size, warmup)(
      i => {
        // rows and characters of the operation's input, read outside the timed op
        val r = spark.read.parquet(sources(i).getPath)
          .select(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      },
      i => {
        val spec = tr.span("PipelineSpec.fromYaml", "config") {
          PipelineSpec.fromYaml(yaml(sources(i).getPath))
        }
        // operation i deletes docs untouched since before epoch i - ttl
        val runner = new Runner(spark, spec, Map("ttl_epoch" -> (i - ttl).toString), root)
        tr.span("Runner.run", "core")(runner.run("ingest")): Unit
      },
      _ => {
        val a = fingerprint(BucketedMergeSink.read(spark, s"$root/docs"))
        val b = fingerprint(BucketedMergeSink.read(spark, s"$root/docs_replica"))
        val vs = BucketedMergeSink.manifestVersions(spark, s"$root/docs")
        targetRows += a._1
        versions += s"v${vs.headOption.getOrElse(0L)}-v${vs.lastOption.getOrElse(0L)}"
        if (a == b) Nil else Seq(s"replica fingerprint $b != target $a")
      })
    closedWindow(loop, sources(_).length,
      Map("batches_run" -> (loop.attempted - 1), "target_rows" -> targetRows.toSeq,
        "versions_retained" -> versions.toSeq))
  }

  def check(w: Window): Checked = {
    val target = BucketedMergeSink.read(spark, s"$root/docs").select(cols.map(col): _*)
    val replica = BucketedMergeSink.read(spark, s"$root/docs_replica").select(cols.map(col): _*)
    val fails = mutable.ArrayBuffer.empty[String]
    val d = diffRows(target, replica)
    if (d != 0) fails += s"replica differs from target in $d rows"
    // the q116 pattern: the stored index equals a fresh signing of the target
    val stored = BucketedMergeSink.readPostings(spark, s"$root/docs_minhash")
      .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
    val fresh = Dedup.minhashBandIndex(target, idCol = "doc_id")
      .select(col("id"), col("band").cast("long").as("band"), col("bucket"))
    val drift = stored.withColumn("src", lit(1)).unionByName(fresh.withColumn("src", lit(2)))
      .groupBy("id", "band", "bucket").agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
    if (drift != 0) fails += s"minhash index drifted from a fresh signing in $drift postings"
    // recall: near-duplicate probes of live docs (signed fresh, outside the
    // program) that share a band bucket with their original in the stored index
    val ran = w.detail.getOrElse("batches_run", 0).asInstanceOf[Int]
    val probes = spark.read.parquet(f"$inputs/probes/p$ran%04d.parquet")
      .join(target.select(col("doc_id").as("orig_id")), "orig_id")
    val signed = Dedup.minhashBandIndex(probes, idCol = "probe_id")
      .select(col("id").as("probe_id"), col("band").cast("long").as("band"), col("bucket"))
    val found = probes.select("probe_id", "orig_id").join(signed, "probe_id")
      .join(stored.withColumnRenamed("id", "orig_id"), Seq("orig_id", "band", "bucket"))
      .select("probe_id").distinct().count()
    val nProbes = probes.count()
    val recall = if (nProbes == 0) Double.NaN else found.toDouble / nProbes
    val space = bytesUnder(root).toDouble / onceBytes(target, "docs").max(1L)
    Checked(fails.toSeq, recall, space,
      Map("probes" -> nProbes, "probes_found" -> found))
  }
}

/** One-shot LLM-data cleaning job: char-gram MinHash-LSH pairs →
  * clusters → best survivor per cluster written as parquet, plus
  * SemDeDup over the embeddings. */
final class DedupBatch(spark: SparkSession, inputs: String, work: String, tr: Tracer)
    extends Workload(spark, inputs, work, tr) {
  private val textThreshold = 0.7
  private val vecThreshold = 0.95
  private val docsPath = s"$inputs/docs.parquet"
  private val vecsPath = s"$inputs/vectors.parquet"
  private var rows = 0L
  private var chars = 0L
  private var lastOut = ""

  def firstTouch(): Unit = {
    val r = spark.read.parquet(docsPath)
      .select(count(lit(1)), sum(length(col("text")))).head()
    rows = r.getLong(0) + spark.read.parquet(vecsPath).count()
    chars = r.getLong(1)
  }

  private def job(i: Int): Unit = {
    val out = s"$work/out/op$i"
    lastOut = out
    val docs = spark.read.parquet(docsPath)
    tr.span("Dedup.minhashLshPairsChar", "ops") {
      Dedup.minhashLshPairsChar(docs, textThreshold).write.parquet(s"$out/pairs")
    }
    val pairs = spark.read.parquet(s"$out/pairs")
    val clusters = tr.span("Dedup.dedupClusters", "ops") {
      Dedup.dedupClusters(docs, pairs).localCheckpoint()
    }
    tr.span("Dedup.keepBestPerCluster", "ops") {
      Dedup.keepBestPerCluster(docs, clusters, priority = Seq("src0", "src1"))
        .write.parquet(s"$out/keep")
    }
    spark.read.parquet(s"$out/keep").filter(col("keep")).select("doc_id")
      .join(docs, "doc_id").write.parquet(s"$out/survivors")
    tr.span("Similarity.semanticDedup", "ops") {
      Similarity.semanticDedup(spark.read.parquet(vecsPath), vecThreshold)
        .write.parquet(s"$out/semantic")
    }
  }

  def runWindow(seconds: Double): Window = {
    val inBytes = new File(docsPath).length + new File(vecsPath).length
    val loop = closedLoop(seconds, Int.MaxValue)(_ => (rows, chars), job, _ => Nil)
    closedWindow(loop, _ => inBytes, Map.empty)
  }

  private def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
  private def grams(s: String, k: Int = 5): Set[String] =
    if (s.length < k) Set(s) else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet
  private def jaccard(a: String, b: String): Double = {
    val x = grams(norm(a)); val y = grams(norm(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def check(w: Window): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    val text = spark.read.parquet(docsPath).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = spark.read.parquet(s"$lastOut/pairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bad = pairs.count { case (a, b) => jaccard(text(a), text(b)) < textThreshold - 1e-9 }
    if (bad > 0) fails += s"$bad reported text pairs fail exact Jaccard >= $textThreshold"
    val keep = spark.read.parquet(s"$lastOut/keep")
    val perCluster = keep.groupBy("cluster")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("k")).filter(col("k") =!= 1).count()
    if (perCluster > 0) fails += s"$perCluster clusters without exactly one survivor"
    val nKeep = keep.count(); val nDocs = keep.select("doc_id").distinct().count()
    if (nKeep != text.size || nDocs != text.size)
      fails += s"keep table has $nKeep rows / $nDocs ids for ${text.size} docs"
    val vecs = spark.read.parquet(vecsPath).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val unit = vecs.map { case (k, v) =>
      val n = math.sqrt(v.map(x => x * x).sum); k -> v.map(_ / n) }
    def cos(a: Long, b: Long) = {
      val x = unit(a); val y = unit(b); var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    val sem = spark.read.parquet(s"$lastOut/semantic").select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dropped = sem.filter(!_._2).keys.toSeq
    val ids = unit.keys.toSeq
    val unjustified = dropped.count(d => !ids.exists(o => o != d && cos(d, o) >= vecThreshold - 1e-6))
    if (unjustified > 0) fails += s"$unjustified dropped vectors have no neighbour >= $vecThreshold"
    if (sem.size != vecs.size) fails += s"semantic output has ${sem.size} rows for ${vecs.size}"
    // recall over planted pairs that are true near-duplicates at the thresholds
    val reported = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val pd = spark.read.parquet(s"$inputs/planted_docs.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => jaccard(text(a), text(b)) >= textThreshold }
    val pv = spark.read.parquet(s"$inputs/planted_vecs.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter { case (a, b) => cos(a, b) >= vecThreshold }
    val foundD = pd.count(reported.contains)
    val foundV = pv.count { case (a, b) => !sem(a) || !sem(b) }
    val recall = (foundD + foundV).toDouble / (pd.length + pv.length).max(1)
    val once = onceBytes(spark.read.parquet(s"$lastOut/survivors"), "survivors") +
      onceBytes(spark.read.parquet(s"$lastOut/semantic").filter(col("kept")), "semantic")
    Checked(fails.toSeq, recall, bytesUnder(lastOut).toDouble / once.max(1L),
      Map("pairs" -> pairs.length, "planted_docs_true" -> pd.length, "planted_docs_found" -> foundD,
        "planted_vecs_true" -> pv.length, "planted_vecs_found" -> foundV,
        "survivors" -> nKeep, "vectors_dropped" -> dropped.size),
      layer = Map("ops.pairs_out" -> (pairs.length + dropped.size).toDouble))
  }
}

/** Open-loop streaming merge: seeded change files arrive at a fixed
  * period; `Streams.streamingMergeWithFeed` merges them into a bucketed
  * target and outbox under a processing-time trigger. Latency runs from
  * a file's due time to the commit of the micro-batch holding it. */
final class StreamIngest(spark: SparkSession, inputs: String, work: String, tr: Tracer)
    extends Workload(spark, inputs, work, tr) {
  import StreamIngest.{periodS, triggerMs}
  private val files = Option(new File(s"$inputs/files").listFiles).getOrElse(Array.empty[File])
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  private val src = s"$work/stream/src"
  private val staging = s"$work/stream/staging"
  private val root = s"$work/target"
  private val target = s"$root/docs"
  private val outbox = s"$root/docs_outbox"
  private val ckpt = s"$root/_checkpoint"
  private var schema: org.apache.spark.sql.types.StructType = _
  private var arrived = 0

  def firstTouch(): Unit = {
    require(files.nonEmpty, s"no arrival files under $inputs/files")
    val df = spark.read.parquet(files.head.getPath)
    schema = df.schema
    df.count(): Unit
  }

  /** file name -> micro-batch id, from the source's metadata log. */
  private def fileBatches(): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(dir.listFiles).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .collect { case Entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  private val due = mutable.ArrayBuffer.empty[Long]
  private val late = mutable.ArrayBuffer.empty[Double]

  /** Copy file `i` into the source directory at `dueMs` (atomically, by
    * rename from a staging directory). */
  private def arrive(i: Int, dueMs: Long): Unit = {
    val wait = dueMs - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
    val f = files(i)
    val staged = new File(staging, f.getName)
    Files.copy(f.toPath, staged.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(staged.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    late += (System.currentTimeMillis() - dueMs) / 1000.0
    due += dueMs
    arrived += 1
  }

  /** The cold operation starts the query over the first file, placed
    * just before (due at the start), and lasts until its micro-batch
    * commits. The steady schedule then sends one
    * file per period for `seconds`, starting 250 ms after a trigger
    * boundary (processing-time triggers fire at wall-clock multiples of
    * the interval), so every run sees the same arrival-to-trigger phase.
    * The window ends one trigger interval after the first trigger that
    * can pick up the last file: a sink that keeps up has committed every
    * file by then, and the files it has not are the backlog. Then the
    * query drains and stops. */
  def runWindow(seconds: Double): Window = {
    new File(src).mkdirs(); new File(staging).mkdirs()
    val stream = spark.readStream.schema(schema).parquet(src)
    var endMs = 0L
    var steadyStart = Counters.now()
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val fails = mutable.ArrayBuffer.empty[String]
    val nSteady = math.min(files.size - 1, math.max(1, math.ceil(seconds / periodS - 1e-9).toInt))
    tr.span("StreamingQuery", "streaming") {
      tr.op(0, steady = false, 0L, 0L) {
        arrive(0, System.currentTimeMillis())
        query = tr.span("Streams.streamingMergeWithFeed", "streaming") {
          graft.streaming.Streams.streamingMergeWithFeed(stream, target, outbox, Seq("doc_id"),
            numBuckets = 4)
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
            .option("checkpointLocation", ckpt)
            .start()
        }
        val deadline = System.currentTimeMillis() + 120000
        while (query.isActive && query.recentProgress.forall(_.numInputRows == 0) &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(10)
      }
      tr.op(1, steady = true, 0L, 0L) {
        steadyStart = Counters.now()
        val now = System.currentTimeMillis()
        val boundary = (now / triggerMs + 1) * triggerMs
        val t0 = (if (boundary - now < 500) boundary + triggerMs else boundary) + 250
        for (i <- 1 to nSteady) arrive(i, t0 + math.round((i - 1) * periodS * 1000))
        endMs = (System.currentTimeMillis() / triggerMs + 2) * triggerMs
        // wait for endMs, or less once every file is in the source log and
        // no trigger is running: the trigger that logged the last file has
        // then committed it
        val arrivedNames = files.take(arrived).map(_.getName).toSet
        while (System.currentTimeMillis() < endMs &&
            !(arrivedNames.subsetOf(fileBatches().keySet) && !query.status.isTriggerActive))
          Thread.sleep(50)
        try query.processAllAvailable()
        catch { case e: Exception => fails += s"stream failed: ${e.getMessage}" }
        query.stop()
      }
    }
    val steadyWritten = (Counters.now() - steadyStart).fsBytesWritten
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    val batchEnd = progress.map(p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration)).toMap
    val fb = fileBatches()
    def commitMs(f: File) = fb.get(f.getName).flatMap(batchEnd.get)
    val lat = files.take(arrived).zip(due).map { case (f, d) =>
      commitMs(f).map(e => (e - d) / 1000.0).getOrElse(Double.NaN)
    }
    val missing = lat.count(_.isNaN)
    if (missing > 0) fails += s"$missing arrived files have no committed micro-batch"
    val steadyFiles = files.slice(1, arrived)
    val backlog = steadyFiles.count(f => commitMs(f).forall(_ > endMs))
    val coldBatch = fb.getOrElse(files.head.getName, -1L)
    val steadyBatches = progress.filter(_.batchId != coldBatch).toSeq
    // rows of the steady files themselves: a micro-batch's numInputRows
    // counts every re-read of its input by the foreachBatch body
    val steadyRows = if (steadyFiles.isEmpty) 0L
      else spark.read.parquet(steadyFiles.map(_.getPath): _*).count()
    tr.ops(1) = tr.ops(1).copy(rows = steadyRows)
    // delivered throughput: steady rows over the span from the first
    // steady file's due time to the last steady commit
    val spanS = (steadyFiles.flatMap(commitMs).maxOption.getOrElse(endMs) -
      due.lift(1).getOrElse(endMs)) / 1000.0
    Window(lat.headOption.getOrElse(Double.NaN), lat.drop(1).filterNot(_.isNaN),
      steadyRows / math.max(1e-3, spanS),
      steadyWritten.toDouble / steadyFiles.map(_.length).sum.max(1L),
      arrived, fails.toSeq,
      Map("files_arrived" -> arrived, "backlog_end_files" -> backlog,
        "micro_batches" -> progress.length, "period_s" -> periodS, "trigger_ms" -> triggerMs),
      layer = Map(
        "streaming.backlog_end_files" -> backlog.toDouble,
        "generator.late_s" -> (if (late.isEmpty) 0.0 else late.sum / late.size)),
      opsOverride = Some(math.max(1, steadyBatches.size).toDouble))
  }

  /** The replay of the arrived files under the sink's documented batch
    * contract: files committed in one micro-batch form one batch, a key
    * repeated inside a batch keeps the row that sorts first over all
    * columns (`MergeSink.dedupeBatch`), and batches apply in order.
    * With `byBatch = false` every file is its own batch — the replay in
    * plain arrival order. */
  private def replay(byBatch: Boolean): DataFrame = {
    val fb = fileBatches()
    val all = files.take(arrived).zipWithIndex.map { case (f, i) =>
      spark.read.parquet(f.getPath)
        .withColumn("__b", lit(if (byBatch) fb.getOrElse(f.getName, -1L) else i.toLong))
    }.reduce(_ unionByName _)
    val cols = all.columns.filterNot(_ == "__b").toSeq
    val first = all.groupBy(col("doc_id"), col("__b"))
      .agg(min(struct(cols.map(col): _*)).as("r"))
    val last = first.groupBy("doc_id").agg(max(struct(col("__b"), col("r"))).as("x"))
    last.select(cols.map(c => col(s"x.r.$c").as(c)): _*)
  }

  def check(w: Window): Checked = {
    val cols = Seq("doc_id", "text", "source", "n_chars", "epoch")
    val expected = replay(byBatch = true).select(cols.map(col): _*).cache()
    val fails = mutable.ArrayBuffer.empty[String]
    val got = BucketedMergeSink.read(spark, target).select(cols.map(col): _*)
    val missing = expected.exceptAll(got).count()
    val d = missing + got.exceptAll(expected).count()
    if (d != 0) fails += s"target differs from the replay of arrived files in $d rows"
    val replica = s"$work/check/replica"
    BucketedMergeSink.subscribeFeed(spark, outbox, replica, Seq("doc_id"), numBuckets = 4): Unit
    val r = diffRows(expected, BucketedMergeSink.read(spark, replica).select(cols.map(col): _*))
    if (r != 0) fails += s"outbox replay differs from the replay of arrived files in $r rows"
    val nExp = expected.count()
    val matched = nExp - missing
    // keys where a newer file's row lost to an older one in the same
    // micro-batch; counted in the traced run only, to keep checks short
    val stale = if (!tr.enabled) -1L
      else replay(byBatch = false).select(cols.map(col): _*).exceptAll(expected).count()
    Checked(fails.toSeq, if (nExp == 0) 1.0 else matched.toDouble / nExp,
      bytesUnder(root).toDouble / onceBytes(got, "docs").max(1L),
      Map("expected_rows" -> nExp, "matched_rows" -> matched,
        "keys_older_row_kept_within_batch" -> stale))
  }
}

object StreamIngest {
  /** One arrival file per second, under a 5 s processing-time trigger. */
  val periodS = 1.0
  val triggerMs = 5000L
}
