package graft.perfbench

import java.io.File

import graft.{Bench, GraftSession}

/** One benchmark JVM. `run.py` starts it (never sbt) as either
  *
  *   --mode setup    set up, report the ready time, exit; or
  *   --mode measure  set up, run the workload's timed window, check the
  *                   outputs, write the result JSON, then wait for stdin
  *                   to close so the parent can read this process's peak
  *                   RSS from /proc before it exits.
  *
  * Set-up is `GraftSession.create` plus the first read of the inputs;
  * the ready time is printed as epoch seconds so the parent can measure
  * set-up from the moment it started the JVM. */
object Main {
  final case class RawJson(s: String)

  def json(v: Any): String = v match {
    case null => "null"
    case RawJson(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  private def epochNow(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it: the
    * 11th-largest sample. Below 20 samples that percentile would not
    * lie above the median, so the maximum is reported instead.
    * Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n < 20) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val mode = a.getOrElse("mode", "measure")
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a("seconds").toDouble
    val inputs = new File(a("inputs")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val hostOpen = Bench.hostSnap()
    val tr = new Tracer(traced, inputs)
    if (traced)
      System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)

    val spark = tr.span("GraftSession.create", "graft") {
      GraftSession.create(configure = _.master(s"local[$cores]").appName(s"perfbench-$workload"))
    }
    tr.attach(spark)
    val wl: Workload = workload match {
      case "cdc_ingest" => new CdcIngest(spark, inputs, work, tr, a("ttl").toInt)
      case "dedup_batch" => new DedupBatch(spark, inputs, work, tr)
      case "stream_ingest" =>
        tr.attachStreaming(spark)
        new StreamIngest(spark, inputs, work, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tr.span("first_touch", "graft")(wl.firstTouch())
    val ready = epochNow()
    val out = new File(a("out"))

    if (mode == "setup") {
      java.nio.file.Files.writeString(out.toPath, json(Map("ready_epoch" -> ready)))
      // the parent deletes the work directory; stopping Spark cleanly
      // would only add to the run's wall time
      Runtime.getRuntime.halt(0)
    }

    val (calibOpen, _) = Bench.calibProbe()
    val w = wl.runWindow(seconds)
    val hostClose = Bench.hostSnap()
    val (calibClose, _) = Bench.calibProbe()
    val c = try wl.check(w)
    catch { case e: Exception =>
      Checked(Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
        Double.NaN, Double.NaN, Map.empty)
    }
    val failures = w.failures ++ c.failures
    val failed = math.min(w.attempted, failures.size).max(if (failures.nonEmpty) 1 else 0)
    val steady = if (w.steadyS.nonEmpty) w.steadyS else Seq(w.coldS)
    val (tl, tp, tn) = tail(steady)
    val e2e = Map(
      "cold_run_s" -> w.coldS,
      "rows_per_s" -> w.rowsPerS,
      "latency_p50_s" -> median(steady),
      "latency_tail_s" -> tl,
      "write_amp" -> w.writeAmp,
      "space_amp" -> c.spaceAmp,
      "recall" -> c.recall)
    val layer =
      if (traced) tr.layerMetrics(w.layer ++ c.layer, w.opsOverride) else Map.empty[String, Double]
    if (traced) tr.dumpJson(s"$work/trace.json", workload)
    val result = Map(
      "ready_epoch" -> ready,
      "workload" -> workload,
      "traced" -> traced,
      "e2e" -> e2e,
      "latency_tail_pct" -> tp,
      "latency_tail_n" -> tn,
      "latency_samples_s" -> steady,
      "layer" -> layer,
      "attempted" -> w.attempted,
      "failed" -> failed,
      "failures" -> failures,
      "detail" -> (w.detail ++ c.detail),
      "broadcast_threshold" ->
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold,
      "host" -> RawJson(Bench.hostDeltaJson(hostOpen, hostClose, calibOpen, calibClose)))
    java.nio.file.Files.writeString(out.toPath, json(result))
    println("PERFBENCH_DONE")
    System.out.flush()
    // hold the process open until the parent has read its peak RSS
    while (System.in.read() >= 0) {}
    Runtime.getRuntime.halt(0)
  }
}
