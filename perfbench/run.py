"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

Each run builds its own Spark session on ``local[nproc]`` with the
library's default heap, generates its inputs from the seed, warms
every op kind (all of which ``setup_s`` counts from process start), runs
the workload as a closed loop with one client for ``--seconds``, checks
every output, and prints the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import sys
import time
import traceback
from contextlib import nullcontext

import wl_analytic
import wl_lakehouse
import wl_weather
from common import percentile
from spans import NullTracer, Tracer

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "weather_etl_docker_airflow_project_spark"
WORKLOADS = {"weather_etl": wl_weather, "analytic_mix": wl_analytic, "lakehouse_rw": wl_lakehouse}
TAIL = 90   # percentile reported as the tail
# A run ends on a round boundary once --seconds have passed, and never
# before MIN_ROUNDS rounds: stopping after one round on a slow moment of
# the host would measure a different, colder mix than the usual two.
MIN_ROUNDS = 2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    spec = _bench_spec()

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    _pin_host(work)
    sys.path[:0] = [ROOT]

    module = WORKLOADS[args.workload]
    spark = None
    try:
        from weather_etl_docker_airflow_project_spark.session import build_session

        tb = time.perf_counter()
        spark = build_session(extra_conf=_session_conf(work))
        build_ms = (time.perf_counter() - tb) * 1e3
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = module.Workload(args.seed, tracer)
        patch = getattr(module, "traced_layers", None)
        with patch(tracer) if (args.trace and patch) else nullcontext():
            wl.setup(spark, os.path.join(work, "run"))
            setup_s = time.perf_counter() - T_START
            calibration_s = _calibration(spark)

            jvm = spark.sparkContext._gateway.proc.pid
            cpu0 = _cpu_s(jvm)
            lat: dict[str, list[float]] = {"write": [], "read": []}
            by_name: dict[str, list[float]] = {}
            errors: list[str] = []
            failed_ops: set = set()
            attempted = rounds = 0
            loop_t0 = time.perf_counter()
            deadline = loop_t0 + args.seconds
            for op in wl.ops():
                attempted += 1
                with tracer.op(op.name, op.kind) if args.trace else nullcontext():
                    t0 = time.perf_counter()
                    try:
                        out = op.run()
                        err = None
                    except Exception as e:  # an op that raises is a failed op, not a crash
                        err = f"{op.name} raised {type(e).__name__}: {str(e)[:300]}"
                    # a traced op's latency leaves out the tracer's own time
                    dt = time.perf_counter() - t0 - tracer.op_overhead_s
                tracer.harvest()
                if err is None:
                    err = op.check(out)
                if err is None:
                    lat[op.kind].append(dt * 1e3)
                    by_name.setdefault(op.name, []).append(dt * 1e3)
                else:
                    failed_ops.add(op)
                    errors.append(err)
                rounds += op.boundary
                if op.boundary and rounds >= MIN_ROUNDS and time.perf_counter() >= deadline:
                    break
            loop_s = time.perf_counter() - loop_t0
            cpu_s = _cpu_s(jvm) - cpu0
            # End-of-run checks blame the op that made a wrong result where
            # they can; an error no op can be blamed for counts as one more.
            late = wl.finish()
            errors += [msg for _, msg in late]
            blamed = {op for op, _ in late if op is not None}
            failed = min(attempted, len(failed_ops | blamed) + any(op is None for op, _ in late))
        extra = wl.report()
        extra["cpu_ms_per_op"] = (cpu_s * 1e3 / max(1, attempted), "ms")
        extra["peak_rss_mb"] = ((_vm_hwm_kb(jvm) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024, "MB")
        context = _context(spark, calibration_s, lat, by_name)
        layers = _layers(tracer, wl, lat, extra, build_ms) if args.trace else {}
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        _shutdown(spark)
        return 1
    _shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)

    done = [x for v in lat.values() for x in v]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(done) / loop_s, "op/s"),
        "op_p50_ms": (percentile(done, 50), "ms"),
    }
    report = dict(e2e)
    report.update(_split(lat, wl))
    report.update(extra)
    report["failed_ratio"] = (failed / max(1, attempted), "ratio")
    print("# context " + json.dumps(context))
    for name, (value, unit) in report.items():
        print(f"# {name} {value:.6g} {unit}")
    for e in errors[:20]:
        print(f"# ERROR {e}")
    metrics = layers if args.trace else e2e
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if {k: u for k, (_, u) in metrics.items()} != want:
        print(f"perfbench: metric names or units disagree with BENCHMARK.json: "
              f"{sorted(set(metrics) ^ set(want))}", file=sys.stderr)
        return 1
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in want}}))
    return 0 if correct else 3


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _pin_host(work: str) -> None:
    """Host set-up every run shares: all cores of this host, the library's
    own heap default, Spark scratch and temp files inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Dderby.system.home={tmp}",
    }


def _calibration(spark) -> float:
    """Fixed pure-codegen probe (no I/O, no Python, no shuffle), printed
    as context: the same work on every commit, so it tracks host speed."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 8).select(F.sum(F.xxhash64("id") % F.lit(1_000_003))).collect()
    return time.perf_counter() - t0


def _context(spark, calibration_s, lat, by_name) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)), "master": spark.sparkContext.master,
        "driver_heap": conf.get("spark.driver.memory", "default"),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "calibration_s": round(calibration_s, 4),
        "samples": {k: len(v) for k, v in lat.items()}, "tail_percentile": TAIL,
        "op_p50_ms": {k: round(percentile(v, 50), 2) for k, v in sorted(by_name.items())},
        "op_ms": {k: [round(x) for x in v] for k, v in sorted(by_name.items())},
    }


def _split(lat: dict, wl) -> dict:
    """The write/read split and the rows made visible per write second."""
    out = {}
    for kind in ("write", "read"):
        if lat[kind]:
            out[f"{kind}_p50_ms"] = (percentile(lat[kind], 50), "ms")
            out[f"{kind}_tail_ms"] = (percentile(lat[kind], TAIL), "ms")
    if lat["write"]:
        out["rows_per_s"] = (wl.rows_visible / (sum(lat["write"]) / 1e3), "rows/s")
    return out


def _layers(tracer, wl, lat, extra, build_ms: float) -> dict:
    """Per-layer metrics from the spans of the timed ops (op id > 0)."""
    spans = [s for s in tracer.spans if s.op > 0]
    ops = max(1, len({s.op for s in spans}))

    def named(*names):
        return [s for s in spans if s.name in names]

    def med_ms(ss):
        return percentile([s.ms for s in ss], 50)

    def mean(ss, key, attrs=False):
        vals = [(s.attrs if attrs else s.counts).get(key, 0) for s in ss]
        return sum(vals) / len(vals) if vals else 0.0

    def ratio(num, den):
        return num / den if den else 0.0

    m: dict[str, tuple[float, str]] = {"session.build_ms": (build_ms, "ms")}
    rest = named("rest.records_to_df")
    m["rest.records_to_df_ms"] = (med_ms(rest), "ms")
    m["rest.rows"] = (mean(rest, "rows", True), "rows")
    m["weather.transform_ms"] = (med_ms(named("weather.transform_weather")), "ms")

    up = named("upsert.upsert_parquet")
    m["upsert.wall_ms"] = (med_ms(up), "ms")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_ms", "ms"), ("gc_ms", "ms"), ("shuffle_write_bytes", "bytes")):
        m[f"upsert.{key}"] = (mean(up, key), unit)
    for key, unit in (("files_written", "count"), ("bytes_written", "bytes")):
        m[f"upsert.{key}"] = (mean(up, key, True), unit)
    m["upsert.sink_files_read"] = (mean(up, "sink_files", True), "count")
    appended = sum(s.attrs.get("appended", 0) for s in up)
    m["upsert.keys_read_per_row_appended"] = (ratio(sum(s.counts.get("input_records", 0) for s in up), appended), "ratio")
    m["upsert.appended_per_row_in"] = (ratio(appended, getattr(wl, "rows_in", 0)), "ratio")

    progress = getattr(wl, "stream_progress", [])
    m["stream.start_ms"] = (med_ms(named("stream.start")), "ms")
    for key, phase in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                       ("latest_offset_ms", "latestOffset"), ("query_planning_ms", "queryPlanning"),
                       ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")):
        m[f"stream.{key}"] = (percentile([p.get(phase, 0) for p in progress], 50), "ms")
    m["stream.jobs_per_batch"] = (ratio(sum(s.counts.get("jobs", 0) for s in named("stream.run")), len(progress)), "count")

    build, exe = named("plans.build"), named("plans.exec")
    m["plans.build_ms"] = (med_ms(build), "ms")
    m["plans.exec_ms"] = (med_ms(exe), "ms")
    calls = max(1, len(exe))
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_ms", "ms"), ("executor_cpu_ns", "ms"), ("gc_ms", "ms"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes")):
        total = sum(s.counts.get(key, 0) for s in build + exe) / calls
        name = "executor_cpu_ms" if key == "executor_cpu_ns" else key
        m[f"plans.{name}"] = (total / 1e6 if key == "executor_cpu_ns" else total, unit)
    m["plans.spill_bytes"] = (sum(s.counts.get("spill_memory_bytes", 0) + s.counts.get("spill_disk_bytes", 0)
                                  for s in build + exe) / calls, "bytes")
    in_records = sum(s.counts.get("input_records", 0) for s in build + exe)
    m["plans.rows_in_per_row_out"] = (ratio(in_records, sum(s.attrs.get("rows_out", 0) for s in exe)), "ratio")
    m["io.input_bytes"] = (sum(s.counts.get("input_bytes", 0) for s in build + exe) / calls, "bytes")
    m["io.input_records"] = (in_records / calls, "count")

    for op in ("append", "merge", "delete_keys", "delete_keys_mor", "delete_where_mor", "compact"):
        ss = named(f"versioned.{op}")
        m[f"versioned.{op}.wall_ms"] = (med_ms(ss), "ms")
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("executor_run_ms", "ms"),
                          ("shuffle_write_bytes", "bytes")):
            m[f"versioned.{op}.{key}"] = (mean(ss, key), unit)
    log = getattr(wl, "write_log", [])
    m["versioned.files_written"] = (ratio(sum(w[1] for w in log), len(log)), "count")
    m["versioned.bytes_written_per_user_byte"] = (ratio(sum(w[2] for w in log), sum(w[3] for w in log)), "ratio")
    log_files, log_bytes = wl.log_files() if hasattr(wl, "log_files") else (0, 0)
    m["versioned.log_files"] = (log_files, "count")
    m["versioned.log_bytes"] = (log_bytes, "bytes")
    compacts = [w for w in log if w[0] == "compact"]
    m["versioned.compact.bytes_rewritten"] = (ratio(sum(max(0, w[2]) for w in compacts), len(compacts)), "bytes")
    reads = named("versioned.read")
    m["versioned.read.wall_ms"] = (med_ms(reads), "ms")
    for key, unit in (("jobs", "count"), ("tasks", "count"), ("executor_run_ms", "ms")):
        m[f"versioned.read.{key}"] = (mean(reads, key), unit)
    prune = getattr(wl, "prune", [])
    m["versioned.read.dirs_scanned"] = (ratio(sum(p[0] for p in prune), len(prune)), "count")
    m["versioned.read.dirs_total"] = (ratio(sum(p[1] for p in prune), len(prune)), "count")
    m["versioned.read.rows_in_per_row_out"] = (ratio(sum(s.counts.get("input_records", 0) for s in reads),
                                                     sum(s.attrs.get("rows_out", 0) for s in reads)), "ratio")

    for layer in ("op", "rest", "weather", "upsert", "stream", "plans", "versioned"):
        m[f"self_ms.{layer}"] = (sum(s.self_ms for s in spans if s.name.split(".")[0] == layer) / ops, "ms")
    split = _split(lat, wl)
    for key in ("write_p50_ms", "write_tail_ms", "read_p50_ms", "read_tail_ms", "rows_per_s"):
        m[f"e2e.{key}"] = split.get(key, (0.0, "rows/s" if key == "rows_per_s" else "ms"))
    for key, unit in (("stream_batch_p50_ms", "ms"), ("storage_amplification", "ratio"),
                      ("cpu_ms_per_op", "ms"), ("peak_rss_mb", "MB")):
        m[f"e2e.{key}"] = extra.get(key, (0.0, unit))
    done = [x for v in lat.values() for x in v]
    m["trace.op_p50_ms"] = (percentile(done, 50), "ms")
    m["trace.harvest_ms_per_op"] = (tracer.harvest_s * 1e3 / ops, "ms")
    m["trace.overhead_ms_per_op"] = (tracer.overhead_s * 1e3 / ops, "ms")
    return m


def _cpu_s(pid: int) -> float:
    """User+system CPU seconds of the driver JVM plus this process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    mine = os.times()
    return (int(fields[11]) + int(fields[12])) / tick + mine.user + mine.system


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def _shutdown(spark) -> None:
    """Stop Spark, then the driver JVM and every process under this one,
    and wait until each has ended."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    gw = SparkContext._gateway
    procs = _descendants(os.getpid())
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in procs:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


if __name__ == "__main__":
    sys.exit(main())
