package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters: Hadoop filesystem statistics (bytes written),
  * the traced run's filesystem call counter, GC beans and Spark's
  * codegen timers. The untraced run reads the bytes written too (for
  * `write_amp`); its call counter stays 0. */
final case class Counters(fsBytesWritten: Long, fsMetaOps: Long, gcMs: Long, codegenNs: Long) {
  def -(o: Counters): Counters = Counters(fsBytesWritten - o.fsBytesWritten,
    fsMetaOps - o.fsMetaOps, gcMs - o.gcMs, codegenNs - o.codegenNs)
}

object Counters {
  def now(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(
      fs.map(_.getBytesWritten).sum,
      CountingLocalFileSystem.ops.get,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime +
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }
}

/** One timed region. Times are epoch milliseconds (comparable with
  * Spark's job and planning timestamps) plus nanoTime for the span's
  * own duration. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Long, endMs: Long, durNs: Long)

/** One measured operation of a workload: a `Runner.run`, a dedup job,
  * or one micro-batch. `counters` is the delta over the operation. */
final case class OpRec(index: Int, steady: Boolean, startMs: Long, endMs: Long,
    counters: Counters, rows: Long, chars: Long)

final class JobRec(val id: Int, val startMs: Long, val execId: Long, val stageModule: String) {
  @volatile var endMs: Long = -1L
  var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
}

/** Scan and write metrics of one SQL execution, read from its plan when
  * the execution ends. */
final case class PlanRec(execId: Long, endMs: Long, scans: Seq[(Int, Long, Long)],
    writeFiles: Long, writeRows: Long) {
  def scanRows: Long = scans.map(_._2).sum
}

final case class BatchRec(batchId: Long, rows: Long, durations: Map[String, Long])

/** Attribution of jobs to the repo's modules, from the benchmark's own
  * listeners. Nothing here touches program code: a job's module is the
  * innermost `graft.*` frame of the call site Spark records for its SQL
  * execution (or, for plain RDD jobs, for its stages). */
object Modules {
  val layers = Seq("graft", "config", "core", "sources", "sink", "ops", "functions",
    "streaming")

  def ofClass(cls: String): String =
    if (cls.startsWith("graft.perfbench.")) "bench"
    else if (cls.startsWith("graft.GraftSession") || cls.startsWith("graft.Tables")) "graft"
    else layers.find(l => cls.startsWith(s"graft.$l.")).getOrElse("other")

  /** Module of the innermost repo frame of a Spark long-form call site,
    * or "" when no frame belongs to the repo. */
  def ofCallSite(longForm: String): String =
    if (longForm == null) ""
    else longForm.split('\n').iterator.map(_.trim.takeWhile(_ != '('))
      .find(_.startsWith("graft.")).map(ofClass).getOrElse("")
}

object PlanWalk {
  import org.apache.spark.sql.execution.CommandResultExec
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** Every node of an executed plan, including the command plan behind
    * a `CommandResultExec`, AQE's final plan and its query stages. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => (m.children ++ m.subqueries).flatMap(nodes) ++
      nodes(m.relation.cachedPlan)
    case p => (p.children ++ p.subqueries).flatMap(nodes)
  })

  private def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
      name: String): Long = m.get(name).map(_.value).getOrElse(0L)

  /** (node identity, rows, bytes) of file scans rooted under `under`. A
    * cached plan's scan shows up in every execution that reads the
    * cache, so callers de-duplicate by node identity. */
  def scans(plan: SparkPlan, under: String): Seq[(Int, Long, Long)] =
    nodes(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(under)) =>
        (System.identityHashCode(s), metric(s.metrics, "numOutputRows"),
          metric(s.metrics, "filesSize"))
    }

  /** (files, rows) written by file-writing commands. */
  def writes(plan: SparkPlan): (Long, Long) = {
    val hits = nodes(plan).collect {
      case w: DataWritingCommandExec =>
        (metric(w.cmd.metrics, "numFiles"), metric(w.cmd.metrics, "numOutputRows"))
    }
    (hits.map(_._1).sum, hits.map(_._2).sum)
  }
}

/** Spans, listeners and per-operation records. With `enabled = false`
  * only operation boundaries and the listener-free [[Counters]] are
  * kept — that is the untraced (timed) run. */
final class Tracer(val enabled: Boolean, inputsRoot: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  val ops = mutable.ArrayBuffer.empty[OpRec]

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  // Catalyst phase intervals (start, end) in epoch ms
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private var spark: SparkSession = _

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, ms0, System.currentTimeMillis(),
          System.nanoTime() - ns0)
      }
    }

  /** Time one operation; returns its latency in seconds. */
  def op(index: Int, steady: Boolean, rows: Long, chars: Long)(body: => Unit): Double = {
    val c0 = Counters.now()
    val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - ns0) / 1e9
    val ms1 = System.currentTimeMillis()
    ops += OpRec(index, steady, ms0, ms1, Counters.now() - c0, rows, chars)
    sec
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execModule.put(x.executionId, Modules.ofCallSite(x.details))
        case x: SparkListenerSQLExecutionEnd =>
          SparkInternals.queryExecution(x).foreach { qe =>
            val (wf, wr) = PlanWalk.writes(qe.executedPlan)
            plans.add(PlanRec(x.executionId, x.time, PlanWalk.scans(qe.executedPlan, inputsRoot),
              wf, wr))
          }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val exec = Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        val stageMod = e.stageInfos.iterator.map(si => Modules.ofCallSite(si.details))
          .find(_.nonEmpty).getOrElse("")
        jobs.put(e.jobId, new JobRec(e.jobId, e.time, exec, stageMod))
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m == null) return
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.synchronized {
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def attachStreaming(s: SparkSession): Unit = if (enabled) {
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          batches.add(BatchRec(p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
  }

  def drain(): Unit = if (enabled && spark != null)
    SparkInternals.drain(spark.sparkContext)

  /** A job's module: the innermost repo frame of its call site. When
    * that frame is the benchmark's own code (an action on a frame the
    * program returned, such as writing `Dedup` pairs), the job belongs
    * to the layer of the innermost span open when it started. */
  private def jobModule(j: JobRec): String = {
    val m = if (j.execId >= 0) Option(execModule.get(j.execId)).getOrElse("") else ""
    val site = if (m.nonEmpty) m else if (j.stageModule.nonEmpty) j.stageModule else "unattributed"
    if (site != "bench") site
    else spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .sortBy(s => -s.startMs).headOption.map(_.layer).getOrElse("bench")
  }

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def spanOf(name: String) = spans.filter(_.name == name)

  /** Per-layer metrics, as means per steady operation (all operations
    * when none is steady; per `opsOverride` operations when given).
    * `perOp` adds workload-specific values. */
  def layerMetrics(perOp: Map[String, Double], opsOverride: Option[Double]): Map[String, Double] = {
    drain()
    val chosen = { val s = ops.filter(_.steady); if (s.nonEmpty) s.toSeq else ops.toSeq }
    val n = opsOverride.getOrElse(chosen.size.max(1).toDouble)
    val allJobs = jobs.values.asScala.toSeq
    val allPlans = plans.asScala.toSeq
    def inOp(t: Long, o: OpRec) = t >= o.startMs && t <= o.endMs
    val opJobs = chosen.map(o => o -> allJobs.filter(j => inOp(j.startMs, o)))
    val opPlans = chosen.map(o => o -> allPlans.filter(p => inOp(p.endMs, o)))
    val allPhases = phases.asScala.toSeq
    val opPhases = chosen.map(o => o -> allPhases.filter(p => inOp(p._1, o)))
    def jobsOf(mod: String) = opJobs.flatMap(_._2).filter(j => jobModule(j) == mod)
    def interval(j: JobRec) = (j.startMs, if (j.endMs >= 0) j.endMs else j.startMs)
    def inJobS(mod: String) = opJobs.map { case (o, js) =>
      unionMs(js.filter(j => jobModule(j) == mod).map(interval), o.startMs, o.endMs)
    }.sum / 1000.0
    def modPlans(mod: String) =
      opPlans.flatMap(_._2).filter(p => Option(execModule.get(p.execId)).contains(mod))
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("session.create_s") = spanOf("GraftSession.create").map(_.durNs).sum / 1e9
    out("session.first_job_s") = spanOf("first_touch").map(_.durNs).sum / 1e9

    // graft.core: the Runner.run spans inside the chosen operations
    val runs = spanOf("Runner.run").filter(s => chosen.exists(o => inOp(s.startMs, o)))
    val rn = runs.size.max(1).toDouble
    out("core.run_s") = runs.map(_.durNs).sum / 1e9 / rn
    val runJobs = runs.map(r => r -> allJobs.filter(j => j.startMs >= r.startMs && j.startMs <= r.endMs))
    out("core.jobs") = runJobs.map(_._2.size).sum / rn
    out("core.in_job_s") = runJobs.map { case (r, js) =>
      unionMs(js.map(interval), r.startMs, r.endMs) }.sum / 1000.0 / rn
    val runPhases = runs.map(r => r -> allPhases.filter { case (a, _) => a >= r.startMs && a <= r.endMs })
    out("core.driver_gap_s") = runJobs.zip(runPhases).map { case ((r, js), (_, ph)) =>
      (r.endMs - r.startMs) - unionMs(js.map(interval) ++ ph, r.startMs, r.endMs)
    }.sum / 1000.0 / rn

    for (mod <- Seq("sink", "ops")) {
      val js = jobsOf(mod)
      out(s"$mod.jobs") = js.size / n
      out(s"$mod.in_job_s") = inJobS(mod) / n
      out(s"$mod.task_cpu_s") = js.map(_.cpuNs).sum / 1e9 / n
      out(s"$mod.shuffle_mb") = js.map(_.shuffleBytes).sum / 1e6 / n
    }
    out("ops.spill_mb") = jobsOf("ops").map(_.spillBytes).sum / 1e6 / n
    val sinkWrites = modPlans("sink")
    val changeRows = chosen.map(_.rows).sum.max(1L).toDouble
    out("sink.rows_written_per_change") = sinkWrites.map(_.writeRows).sum / changeRows
    out("sink.files_written") = sinkWrites.map(_.writeFiles).sum / n
    out("fs.meta_ops") = chosen.map(_.counters.fsMetaOps).sum / n
    out("fs.mb_written") = chosen.map(_.counters.fsBytesWritten).sum / 1e6 / n
    val chars = chosen.map(_.chars).sum.max(1L).toDouble
    out("functions.cpu_ns_per_char") = jobsOf("ops").map(_.cpuNs).sum / chars
    val scans = opPlans.flatMap(_._2).flatMap(_.scans).groupBy(_._1).values
      .map(v => (v.map(_._2).max, v.map(_._3).max))
    out("sources.scan_mb") = scans.map(_._2).sum / 1e6 / n
    out("sources.scan_rows") = scans.map(_._1).sum / n
    out("spark.catalyst_s") = opPhases.map(_._2.map { case (a, b) => b - a }.sum).sum / 1000.0 / n
    out("spark.codegen_s") = chosen.map(_.counters.codegenNs).sum / 1e9 / n
    out("jvm.gc_s") = chosen.map(_.counters.gcMs).sum / 1000.0 / n
    out("jobs.unattributed") = opJobs.flatMap(_._2).count(j => jobModule(j) == "unattributed") / n
    // graft.streaming, from the StreamingQueryListener: micro-batches with
    // input after the first, which is the cold run
    val bs = { val all = batches.asScala.toSeq.sortBy(_.batchId); if (all.size > 1) all.drop(1) else all }
    def meanDur(keys: String*) = if (bs.isEmpty) 0.0
      else bs.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum).sum / 1000.0 / bs.size
    out("streaming.batches") = bs.size.toDouble
    out("streaming.trigger_s") = meanDur("triggerExecution")
    out("streaming.add_batch_s") = meanDur("addBatch")
    out("streaming.planning_s") = meanDur("queryPlanning")
    out("streaming.wal_s") = meanDur("walCommit", "commitOffsets")
    // 0 by definition on a workload without an arrival schedule or a pair
    // output; the workloads that have them set these through `perOp`
    out("streaming.backlog_end_files") = 0.0
    out("generator.late_s") = 0.0
    out("ops.pairs_out") = 0.0
    perOp.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Every job with its interval and module, for the trace file. */
  def jobTable: Seq[(Int, Long, Long, String)] =
    jobs.values.asScala.toSeq.sortBy(_.id).map(j => (j.id, j.startMs, j.endMs, jobModule(j)))

  def dumpJson(path: String, workload: String): Unit = {
    drain()
    val children = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.durNs).sum }
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.sortBy(_.id).map { s =>
      val self = s.durNs - children.getOrElse(s.id, 0L)
      val op = ops.find(o => o.startMs <= s.startMs && s.startMs <= o.endMs).map(_.index).getOrElse(-1)
      f"""{"id":${s.id},"parent":${s.parent},"op":$op,"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ms":${s.startMs},"dur_s":${s.durNs / 1e9}%.6f,"self_s":${self / 1e9}%.6f}"""
    }.mkString(",")
    sb ++= "],\"ops\":["
    sb ++= ops.map(o =>
      s"""{"index":${o.index},"steady":${o.steady},"start_ms":${o.startMs},"end_ms":${o.endMs},""" +
        s""""rows":${o.rows},"fs_bytes_written":${o.counters.fsBytesWritten},""" +
        s""""fs_meta_ops":${o.counters.fsMetaOps},"gc_ms":${o.counters.gcMs}}""").mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobTable.map { case (id, a, b, m) =>
      s"""{"id":$id,"start_ms":$a,"end_ms":$b,"module":"$m"}""" }.mkString(",")
    sb ++= "],\"plans\":["
    sb ++= plans.asScala.toSeq.sortBy(_.execId).map { p =>
      s"""{"exec":${p.execId},"end_ms":${p.endMs},"module":"${Option(execModule.get(p.execId)).getOrElse("")}",""" +
        s""""scan_rows":${p.scanRows},"write_files":${p.writeFiles},"write_rows":${p.writeRows}}"""
    }.mkString(",")
    sb ++= s"],\"workload\":\"$workload\"}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
