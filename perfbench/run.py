#!/usr/bin/env python3
"""graft benchmark: user workloads, end-to-end metrics, per-module trace.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_ingest --seed 7 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 7      # every workload, both modes
    python3 perfbench/run.py --quick                      # sf0.001 smoke of every metric

The first call builds the repo and the harness with sbt (see
harness/build.sbt); later calls reuse the build while the sources are
unchanged. Inputs are generated from the seed before any JVM starts.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md for the workloads, metrics and trace format.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SF = 0.1
QUICK_SF = 0.001
# JVMs set up per untraced run; setup_s is their median. Each costs a JVM
# start and a Spark session, and 4 + 22 runs per workload must fit a
# 3,420 s time budget, so two.
SETUP_RUNS = 2

# A run (set-up JVMs, window, checks) must end within this many seconds.
RUN_LIMIT_S = 170

# Per-workload knobs: how many change batches / arrival files to generate
# for a window of `s` seconds (cdc_ingest: a cold run, a warm-up and steady
# runs of a few seconds each; stream_ingest: one file per second), and the
# extra arguments of the JVM.
WORKLOADS = {
    "cdc_ingest": {
        "units": lambda s: int(s / 2) + 4,
        "jvm": {"ttl": str(gen.CDC_TTL_BATCHES)},
    },
    "dedup_batch": {
        "units": lambda s: 0,
        "jvm": {},
    },
    "stream_ingest": {
        "units": lambda s: int(s) + 2,
        "jvm": {},
    },
}

E2E_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.create_s": "s",
    "session.first_job_s": "s",
    "core.run_s": "s",
    "core.jobs": "count",
    "core.in_job_s": "s",
    "core.driver_gap_s": "s",
    "sink.jobs": "count",
    "sink.in_job_s": "s",
    "sink.task_cpu_s": "s",
    "sink.shuffle_mb": "MB",
    "sink.rows_written_per_change": "ratio",
    "sink.files_written": "count",
    "fs.meta_ops": "count",
    "fs.mb_written": "MB",
    "ops.jobs": "count",
    "ops.in_job_s": "s",
    "ops.task_cpu_s": "s",
    "ops.shuffle_mb": "MB",
    "ops.spill_mb": "MB",
    "ops.pairs_out": "count",
    "functions.cpu_ns_per_char": "ns/char",
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_s": "s",
    "streaming.backlog_end_files": "files",
    "generator.late_s": "s",
    "spark.catalyst_s": "s",
    "spark.codegen_s": "s",
    "jvm.gc_s": "s",
    "jobs.unattributed": "count",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                  if f.endswith(".sbt") or f == "build.properties"]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or d == HARNESS and x == "project")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile the repo and the harness unless the stamp says they are
    current; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise BenchError("no graft sources next to perfbench/ (expected build.sbt and "
                         "src/main/scala/graft at the checkout root)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                     "-Dsbt.offline=true"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.classpath={cp_file}",
             "writeClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.isfile(cp_file):
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(f"build failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return open(cp_file).read().strip()


# ----------------------------------------------------------------- inputs

def inputs_for(workload, seed, sf, seconds):
    units = WORKLOADS[workload]["units"](seconds)
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-sf{sf}-u{units}-{gen_hash}")
    meta = os.path.join(d, "meta.json")
    if not os.path.isfile(meta):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, sf, tmp, units)
        os.rename(tmp, d)
    with open(meta) as f:
        return d, json.load(f)


def fs_type(path):
    """Filesystem type of the mount holding `path` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


# -------------------------------------------------------------------- JVM

def java_cmd(classpath, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HARNESS, 'log4j2.properties')}",
        "-cp", classpath, "graft.perfbench.Main",
    ] + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def jvm_env(work):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for s in f:
            if s.startswith("VmHWM:"):
                return int(s.split()[1]) / 1024.0
    return float("nan")


def run_jvm(classpath, args, work, deadline):
    """Start one benchmark JVM and kill it if it is still running at the
    epoch `deadline`; returns (result dict, peak RSS in MB, start epoch)."""
    out = os.path.join(work, f"result-{args['mode']}.json")
    args = dict(args, out=out, work=work)
    log_path = os.path.join(work, f"jvm-{args['mode']}.log")
    t_start = time.time()
    with open(log_path, "a") as logf:
        p = subprocess.Popen(java_cmd(classpath, args), cwd=work, env=jvm_env(work),
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=logf,
                             text=True)
    # The measuring JVM prints PERFBENCH_DONE once its result is written,
    # then waits for stdin to close, so its peak RSS is read while it lives.
    done = threading.Event()

    def read_stdout():
        for line in p.stdout:
            if line.strip() == "PERFBENCH_DONE":
                done.set()

    reader = threading.Thread(target=read_stdout, daemon=True)
    reader.start()
    peak_mb = float("nan")
    try:
        if args["mode"] == "measure":
            if not done.wait(max(0.0, deadline - time.time())):
                raise BenchError(f"{args['workload']} JVM did not finish in time")
            peak_mb = peak_rss_mb(p.pid)
        p.stdin.close()
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"{args['workload']} JVM ({args['mode']}) did not exit in time")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        reader.join()
    if not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-25:]))
        raise BenchError(f"{args['workload']} JVM ({args['mode']}) produced no result "
                         f"(exit {p.returncode})")
    with open(out) as f:
        return json.load(f), peak_mb, t_start


def run_workload(classpath, workload, seed, seconds, trace, sf):
    """One benchmark run of one workload; returns (record, metrics)."""
    t_begin = time.time()
    deadline = t_begin + RUN_LIMIT_S
    inputs, meta = inputs_for(workload, seed, sf, seconds)
    walls = {"inputs_s": time.time() - t_begin}
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    base = {"workload": workload, "inputs": inputs, "seconds": seconds, "trace": trace}
    base.update(WORKLOADS[workload]["jvm"])
    try:
        setups = []
        if not trace:
            for i in range(SETUP_RUNS - 1):
                sw = os.path.join(work, f"setup{i}")
                os.makedirs(sw)
                r, _, t0 = run_jvm(classpath, dict(base, mode="setup"), sw, deadline)
                setups.append(r["ready_epoch"] - t0)
        res, peak_mb, t0 = run_jvm(classpath, dict(base, mode="measure"), work, deadline)
        walls["measure_jvm_s"] = time.time() - t0
        setups.append(res["ready_epoch"] - t0)
        if trace and os.path.isfile(os.path.join(work, "trace.json")):
            tdir = os.path.join(BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(tdir, f"{workload}-s{seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        # only what the JVM emitted: a missing metric stays missing
        metrics = {k: res["layer"][k] for k in LAYER_UNITS if k in res["layer"]}
    else:
        metrics = dict(res["e2e"])
        metrics["setup_s"] = statistics.median(setups)
        metrics["peak_rss_mb"] = peak_mb
    per_op_bytes = meta["input_bytes"] / max(1, meta.get("batches", meta.get("files", 1)))
    record = {
        "workload": workload, "seed": seed, "sf": sf, "seconds": seconds, "trace": trace,
        "input_rows": meta["rows"], "input_bytes": meta["input_bytes"],
        "target_fs": fs_type(BUILD),
        "batch_bytes_over_broadcast_threshold":
            per_op_bytes / max(1, res.get("broadcast_threshold", 1)),
        "setup_samples_s": setups,
        "latency_tail_pct": res.get("latency_tail_pct"),
        "latency_tail_n": res.get("latency_tail_n"),
        "latency_samples_s": res.get("latency_samples_s"),
        "attempted": res["attempted"], "failed": res["failed"],
        "error_rate": res["failed"] / max(1, res["attempted"]),
        "failures": res["failures"], "detail": res["detail"], "host": res["host"],
        "walls": dict(walls, run_s=time.time() - t_begin),
        "metrics": metrics,
        "e2e_traced": res["e2e"] if trace else None,
    }
    rdir = os.path.join(BUILD, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{workload}-s{seed}-t{trace}-{int(time.time())}.json"),
              "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record, metrics


def describe(record):
    m = record["metrics"]
    units = LAYER_UNITS if record["trace"] else E2E_UNITS
    parts = [f"{k}={m[k]:.6g} {units[k]}" for k in units if k in m and m[k] is not None]
    host = record["host"]
    print(f"{record['workload']} seed={record['seed']} trace={record['trace']}: "
          + ", ".join(parts))
    print(f"  error_rate={record['error_rate']:.4g} ({record['failed']}/{record['attempted']})"
          f" input_rows={record['input_rows']} input_bytes={record['input_bytes']}"
          f" target_fs={record['target_fs']}"
          f" batch/broadcast={record['batch_bytes_over_broadcast_threshold']:.4g}"
          f" tail=p{record['latency_tail_pct']} of n={record['latency_tail_n']}"
          f" steal={host.get('steal_pct')}% iowait={host.get('iowait_pct')}%"
          f" cpu_psi={host.get('cpu_psi_some_pct')}% calib={host.get('calib_s')}"
          f"/{host.get('calib_close_s')}s")
    for f in record["failures"]:
        print(f"  FAILED: {f}")


def result_line(records, metrics, units):
    out = {k: {"value": v, "unit": units[k.split("/")[-1]]} for k, v in metrics.items()}
    return json.dumps({
        "correct": all(r["failed"] == 0 for r in records),
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": out,
    })


def bad_metrics(metrics, names):
    """Names missing from `metrics` or not finite numbers."""
    return [n for n in names if not isinstance(metrics.get(n), (int, float))
            or metrics[n] != metrics[n]]


def unemitted(line, spec_metrics):
    """Metrics of BENCHMARK.json that the result line `line` does not
    carry as a finite number with the same unit."""
    emitted = json.loads(line)["metrics"]
    out = []
    for m in spec_metrics:
        e = emitted.get(m["name"])
        if e is None or bad_metrics({"v": e["value"]}, ["v"]):
            out.append(f"{m['name']} missing")
        elif e["unit"] != m["unit"]:
            out.append(f"{m['name']} emitted in {e['unit']}, not {m['unit']}")
    return out


def quick(classpath, seed):
    """sf0.001, every workload once per mode; each must emit every metric
    named in BENCHMARK.json, with that unit, and pass its checks."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = [f"{w['name']}: not a workload of run.py" for w in spec["workloads"]
                if w["name"] not in WORKLOADS]
    records = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rec, metrics = run_workload(classpath, w, seed, 0, trace, QUICK_SF)
            records.append(rec)
            describe(rec)
            line = result_line([rec], metrics, LAYER_UNITS if trace else E2E_UNITS)
            problems += [f"{w} trace={trace}: {x}" for x in unemitted(line, spec[key])]
            problems += [f"{w} trace={trace}: {x}" for x in rec["failures"]]
    for p in problems:
        print(f"QUICK: {p}")
    return records, problems


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", default="all", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--quick", action="store_true",
                    help="sf0.001, one operation per workload, assert every metric is emitted")
    a = ap.parse_args()
    try:
        classpath = build()
        if a.quick:
            records, problems = quick(classpath, a.seed)
            print(json.dumps({"correct": not problems, "attempted": len(records),
                              "failed": len(problems), "metrics": {}}))
            return 1 if problems else 0
        if a.workload == "all":
            records, merged = [], {}
            for w in WORKLOADS:
                rec0, m0 = run_workload(classpath, w, a.seed, a.seconds, 0, SF)
                rec1, m1 = run_workload(classpath, w, a.seed, a.seconds, 1, SF)
                for rec in (rec0, rec1):
                    describe(rec)
                    records.append(rec)
                overhead = rec1["e2e_traced"]["latency_p50_s"] - m0["latency_p50_s"]
                print(f"  tracing overhead (traced minus untraced latency_p50_s): {overhead:.4g} s")
                merged.update({f"{w}/{k}": v for k, v in m0.items()})
                merged.update({f"{w}/{k}": v for k, v in m1.items()})
            print(result_line(records, merged, dict(E2E_UNITS, **LAYER_UNITS)))
            return 0
        rec, metrics = run_workload(classpath, a.workload, a.seed, a.seconds, a.trace, SF)
        describe(rec)
        units = LAYER_UNITS if a.trace else E2E_UNITS
        missing = bad_metrics(metrics, units)
        if missing:
            raise BenchError(f"no value for {', '.join(missing)}")
        print(result_line([rec], metrics, units))
        return 0
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
