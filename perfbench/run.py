"""Migration benchmark: one workload, one run.

    python3 perfbench/run.py --workload {convert,load,sync,queries} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run

1. starts the program's Spark session (``get_spark``) unless the workload
   runs no Spark, with every scratch file inside ``perfbench/_work``;
2. makes the inputs from ``--seed`` three times and keeps the median time;
3. runs a fixed number of warm-up passes; ``setup_s`` ends here;
4. makes the checks that run once per run (oracles, diff flag counts),
   untimed;
5. measures passes until their summed time reaches ``--seconds`` and
   their number the workload's ``min_passes``. Before every operation it
   times a fixed pure-Python loop and a fixed ``spark.range`` job (host
   calibration, untimed); after the pass it checks every operation's
   output, untimed;
6. stops the Spark session and waits until the driver JVM and every
   process it started have ended, also when the run fails or receives
   SIGTERM;
7. prints a summary line, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``pass_s``, ``op_p50_s``, ``op_p90_s`` and ``rss_peak_mb``, timings in
host-normalised seconds (see ``GATED``; the raw ones are in the record).
``rss_peak_mb`` covers set-up and the operations, not the checks and
calibrations between them. With
``--trace 1`` the run turns on the Spark event log through its own
``SPARK_CONF_DIR``, mixes untraced and traced passes, and reports the
per-layer metrics (medians over traced passes) and the tracing overhead
(traced over untraced ``pass_s``, at least two passes of each). The event
log is on for the whole traced run, so this overhead is that of the spans
and ``statusTracker`` reads only; ``steady.py --trace`` also divides the
traced passes by an untraced run of the same seed, which includes the event
log.
The full record of a run, spans included, is written to
``perfbench/_out/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import measure  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, log_counters, no_span, patched, read_event_log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: input preparations per run; ``setup_s`` counts their median
PREPARES = 3

#: warm-up passes per run. With the JVM flags below, JIT compile time is
#: about 7.5 s over session start and the first pass, about 1 s in the
#: second and falls to 0.3-0.7 s per pass from the third on. The checks
#: made once per run call the program's code once more before the measured
#: passes; a second warm-up pass would not fit the time budget
WARMUP_PASSES = 1

#: which calibration normalises a workload's timings: the Spark job tracks
#: how contention on the host slows Spark operations, the Python loop how
#: it slows the interpreter
CALIBRATION = {"convert": "py", "load": "jvm", "sync": "jvm", "queries": "jvm"}

#: whether the gated end-to-end timings are raw or host-normalised seconds:
#: normalised, because a host slowed by other tenants (CPU steal up to 20%
#: was seen) slows a run's Spark operations and its Spark calibration job
#: alike, so their ratio varies less between runs than raw seconds do
GATED = "normalised"

#: Driver JVM flags:
#: - C1 only. The C2 compiler keeps compiling for minutes, far past any run
#:   that fits the time budget, and its threads compete with the measured
#:   passes for the cores. With C1, JIT work per pass drops from 6-11 s of
#:   compile time to under 1 s after the warm-up passes: measured passes sit
#:   on a plateau. The price: compiled code, Spark's generated code too, runs
#:   slower per row than under C2, so row-bound work weighs more in every
#:   Spark figure than it does in the program's own JVM.
#: - A code cache as large as the tiered default. With C1 only the JVM
#:   reserves 48 MB, which fills after a few passes; the flush that follows
#:   recompiles for seconds (3-5 s of JIT in one pass was seen).
#: - A fixed 1 GiB heap with the parallel collector, whose young generation
#:   has a fixed size: peak RSS then depends on what the program keeps, not
#:   on when a collector chose to grow the heap.
#: - No hsperfdata file outside the checkout.
DRIVER_MEM = "1g"
JVM_FLAGS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:+UseParallelGC"
             f" -Xms{DRIVER_MEM} -XX:-UsePerfData")

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "rss_peak_mb": "MB"}


def _isolate(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(measure.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    # a configuration directory of the benchmark's own, so no site
    # spark-defaults.conf applies; the traced run adds the event log
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    os.environ["SPARK_CONF_DIR"] = conf
    lines = [f"spark.driver.defaultJavaOptions {JVM_FLAGS} -Djava.io.tmpdir={tmp}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        lines += ["spark.eventLog.enabled true", f"spark.eventLog.dir file://{events}",
                  "spark.eventLog.compress false", "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


#: prctl(2) option that makes this process the parent of every orphaned
#: descendant, so it can wait for them
_PR_SET_CHILD_SUBREAPER = 36

#: seconds the driver JVM and the processes it started get to end by
#: themselves before they are killed
STOP_TIMEOUT_S = 60.0


def _adopt_orphans() -> None:
    """Become the subreaper of this process's descendants: the Python
    workers the driver JVM starts outlive it for a moment, and would
    otherwise be orphaned out of reach of ``_end_children``."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every live process that descends from this one."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [c for c, pp in parent.items() if pp == pid]
        out += kids
        todo += kids
    return out


def _end_children(timeout: float = STOP_TIMEOUT_S) -> None:
    """Wait until every child process has ended, killing the descendants
    still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() < deadline:
            time.sleep(0.05)
            continue
        for child in _descendants():
            try:
                os.kill(child, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = float("inf")


def _stop_spark() -> None:
    """Stop the Spark session, if one is running, and end the driver JVM.
    The JVM exits when its stdin closes, but on its own that happens only
    once this process has gone, so the run would end with the JVM still
    running; here it is closed and waited for. ``_end_children`` then waits
    for the processes the JVM started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as e:  # noqa: BLE001 -- the JVM is ended below anyway
            print(f"perfbench: stopping Spark failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.close()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _calibrate(spark, p: dict) -> None:
    """Host calibration, untimed: the Python loop, and after releasing
    leftover blocks the Spark job, appended to the pass's samples."""
    p["py_calibs"].append(measure.py_calibration())
    if spark is not None:
        measure.release_blocks(spark)
        p["jvm_calibs"].append(measure.jvm_calibration(spark))


def _run_pass(wl, ops, tracer, steal, counters, spark, rss, record) -> dict:
    """One measured pass: reset, then for every operation calibrate
    (untimed) and run it (timed); then check every output (untimed).
    Process counters and peak memory cover the operations only."""
    p = {"traced": tracer is not None, "py_calibs": [], "jvm_calibs": []}
    wl.before_pass()
    p["steal_frac"] = steal.read()
    deltas: dict[str, float] = {}
    py_cpu = 0.0
    results, times, windows = [], [], []
    span = tracer.span if tracer else no_span
    with patched(wl.trace_patches(tracer) if tracer else []):
        for name, fn, attrs in ops:
            _calibrate(spark, p)
            if tracer:
                tracer.op_id = f"p{len(record['passes'])}:{name}"
            c0 = counters.read() if counters else {}
            rss.resume()
            cpu0 = time.process_time()
            a, t = time.time(), time.perf_counter()
            try:
                with span("op", op_name=name, **attrs):
                    results.append((name, fn(span), None))
            except Exception as e:  # noqa: BLE001 -- a failed operation is counted
                results.append((name, None, e))
            times.append(time.perf_counter() - t)
            windows.append((a, time.time()))
            py_cpu += time.process_time() - cpu0
            rss.pause()
            if counters:
                c1 = counters.read()
                for k in c1:
                    deltas[k] = deltas.get(k, 0.0) + c1[k] - c0[k]
    p["py_cpu_s"] = py_cpu
    p.update(deltas)
    p["py_calib_s"] = measure.median(p["py_calibs"])
    p["jvm_calib_s"] = measure.median(p["jvm_calibs"])
    p["s"] = sum(times)
    p["op_s"] = times
    p["op_windows"] = windows
    p["failed"] = []
    for name, result, err in results:
        ok = err is None and name not in record["bad"] and wl.check(name, result)
        if not ok:
            p["failed"].append(name)
            print(f"perfbench: {name} failed: {err or 'wrong output'}", file=sys.stderr)
    return p


def run(args, work: str) -> dict:
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "passes": [], "bad": set()}
    cls = workloads.WORKLOADS[args.workload]
    spark = counters = None
    rss = measure.RssPeak()
    if cls.needs_spark:
        from sqlserver2pgsql_spark.session import get_spark

        spark = get_spark("perfbench")
        counters = measure.JvmCounters(spark)
        rss.pids.append(counters.pid)
    record["session_s"] = time.perf_counter() - T0
    wl = cls(args.seed, work, spark)
    prep = []
    for _ in range(PREPARES):
        t = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t)
    record["prepare_s"] = prep
    ops = wl.ops()

    t = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        wl.before_pass()
        for name, fn, _attrs in ops:
            try:
                fn(no_span)
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: warm-up {name} failed: {e}", file=sys.stderr)
                record["bad"].add(name)
    record["warmup_s"] = time.perf_counter() - t
    record["setup_s"] = time.perf_counter() - T0 - sum(prep) + measure.median(prep)
    record["setup_jit_ms"] = counters.read()["jit_ms"] if counters else 0.0
    rss.pause()

    # untimed from here on: the checks made once per run, on the state every
    # pass starts from, and a first run of each calibration
    t = time.perf_counter()
    wl.before_pass()
    names = [name for name, _fn, _attrs in ops]
    try:
        record["bad"].update(wl.check_once(names))
    except Exception as e:  # noqa: BLE001
        print(f"perfbench: checks made once per run failed: {e}", file=sys.stderr)
        record["bad"].update(names)
    record["check_once_s"] = time.perf_counter() - t
    measure.py_calibration()
    if spark is not None:
        measure.jvm_calibration(spark)

    steal = measure.StealMeter()
    tracer = Tracer(spark) if args.trace else None
    passes = record["passes"]
    # the wall-clock cap only matters when operations fail instantly
    cap = time.perf_counter() + 4 * args.seconds + 60
    # a traced run orders its passes untraced, traced, traced, untraced, so
    # a steady drift in speed cancels out of the tracing overhead
    min_passes = max(4, wl.min_passes) if args.trace else wl.min_passes
    while (sum(p["s"] for p in passes) < args.seconds or len(passes) < min_passes) \
            and time.perf_counter() < cap:
        traced = tracer if args.trace and len(passes) % 4 in (1, 2) else None
        passes.append(_run_pass(wl, ops, traced, steal, counters, spark, rss, record))

    record["rss_peak_mb"] = rss.mb()
    record["rss_reset_ok"] = rss.reset_ok
    if spark is not None:
        # the event log is complete once the session has stopped
        spark.stop()
    if tracer:
        record["spans"] = tracer.spans
    record["wall_s"] = time.perf_counter() - T0
    return record


def end_to_end(record: dict, passes: list[dict]) -> dict:
    """Raw and host-normalised end-to-end metrics of ``passes``. A pass's
    times are normalised by the median of the calibrations taken during that
    pass, which follows the host's speed from pass to pass; ``setup_s`` by
    the median of all the run's calibrations."""
    which = CALIBRATION[record["workload"]]
    ref = measure.REF_PY_CALIB_S if which == "py" else measure.REF_JVM_CALIB_S
    key = f"{which}_calibs"
    calib = measure.median(x for p in record["passes"] for x in p[key])
    out = {"calibration": which, "calib_s": calib, "n_passes": len(passes),
           "n_ops": sum(len(p["op_s"]) for p in passes)}
    for kind, scales, setup_scale in (
            ("raw", [1.0] * len(passes), 1.0),
            ("normalised", [ref / measure.median(p[key]) for p in passes], ref / calib)):
        ops = [t * sc for p, sc in zip(passes, scales) for t in p["op_s"]]
        out[kind] = {
            "setup_s": record["setup_s"] * setup_scale,
            "pass_s": measure.median(p["s"] * sc for p, sc in zip(passes, scales)),
            "op_p50_s": measure.percentile(ops, 50),
            "op_p90_s": measure.percentile(ops, 90),
            "rss_peak_mb": record["rss_peak_mb"],
        }
    return out


def per_layer(record: dict) -> dict:
    """Per-layer metrics: medians over the traced passes of per-pass sums."""
    passes = record["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    spans = record.get("spans", [])
    log = None
    if record["workload"] != "convert":
        log = read_event_log(os.path.join(record["work"], "events"))

    def pass_spans(i: int) -> list[dict]:
        return [s for s in spans if s["op"] and s["op"].startswith(f"p{i}:")]

    per_pass = []
    for i, p in enumerate(passes):
        if not p["traced"]:
            continue
        ss = pass_spans(i)
        by = {}
        for s in ss:
            if s["name"] != "op":
                by[s["name"]] = by.get(s["name"], 0.0) + s["end"] - s["start"]
        ops = [s for s in ss if s["name"] == "op"]
        m = {
            "ddl.parse_s": by.get("ddl.parse", 0.0),
            "ddl.emit_s": by.get("ddl.emit", 0.0),
            "catalog.conflicts_s": by.get("catalog.conflicts", 0.0),
            "plans.build_s": by.get("plans.build", 0.0),
            "transfer.small_table_s": sum(s["end"] - s["start"] for s in ops
                                          if s.get("size") == "small"),
            "transfer.large_table_s": sum(s["end"] - s["start"] for s in ops
                                          if s.get("size") == "large"),
            "transfer.verify_count_s": by.get("transfer.verify_count", 0.0),
            "operators.cleanse.build_s": by.get("operators.cleanse.build", 0.0),
            "operators.diff.build_s": by.get("operators.diff.build", 0.0),
            "operators.merge.build_s": by.get("operators.merge.build", 0.0),
            "sink.write_s": by.get("sink.write", 0.0),
            "queries.build_s": by.get("queries.build", 0.0),
            "queries.exec_s": by.get("queries.exec", 0.0),
            "queries.build_jobs": float(sum(s.get("jobs", 0) for s in ss
                                            if s["name"] == "queries.build")),
            "spark.jobs": float(sum(s.get("jobs", 0) for s in ss)),
            "spark.stages": float(sum(s.get("stages", 0) for s in ss)),
            "spark.tasks": float(sum(s.get("tasks", 0) for s in ss)),
            "jvm.cpu_s": p.get("cpu_s", 0.0),
            "jvm.jit_ms": p.get("jit_ms", 0.0),
            "jvm.gc_ms": p.get("gc_ms", 0.0),
            "py.cpu_s": p["py_cpu_s"],
        }
        m.update(dict.fromkeys(("shuffle.read_bytes", "shuffle.write_bytes",
                                "sink.bytes_written", "executor.cpu_s", "driver.gap_s"), 0.0))
        if log is not None:
            m.update(log_counters(log, p["op_windows"]))
            m.pop("shuffle_write_stages")
            # per operation, for the split each workload was chosen for
            record["per_op"] = {
                s["op_name"]: {k: v for k, v in log_counters(
                    log, [(s["start"], s["end"])]).items()
                    if k != "executor.cpu_s"}
                for s in ops}
        per_pass.append(m)
    out = {k: measure.median(m[k] for m in per_pass) for k in per_pass[0]}
    out.update({
        "warmup_s": record["warmup_s"],
        "jvm.setup_jit_ms": record["setup_jit_ms"],
        "host.py_calib_s": measure.median(p["py_calib_s"] for p in passes),
        "host.jvm_calib_s": measure.median(p.get("jvm_calib_s", 0.0) for p in passes),
        "host.steal_frac": measure.median(p["steal_frac"] for p in passes),
        "trace.overhead": (measure.median(p["s"] for p in traced)
                           / measure.median(p["s"] for p in untraced)),
    })
    return out


PER_LAYER_UNITS = {
    "ddl.parse_s": "s", "ddl.emit_s": "s", "catalog.conflicts_s": "s", "plans.build_s": "s",
    "transfer.small_table_s": "s", "transfer.large_table_s": "s",
    "transfer.verify_count_s": "s", "operators.cleanse.build_s": "s",
    "operators.diff.build_s": "s", "operators.merge.build_s": "s", "sink.write_s": "s",
    "sink.bytes_written": "bytes", "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "driver.gap_s": "s", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "executor.cpu_s": "s", "jvm.cpu_s": "s",
    "jvm.jit_ms": "ms", "jvm.setup_jit_ms": "ms", "jvm.gc_ms": "ms", "py.cpu_s": "s",
    "warmup_s": "s", "host.py_calib_s": "s", "host.jvm_calib_s": "s",
    "host.steal_frac": "ratio", "trace.overhead": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("convert", "load", "sync", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "sqlserver2pgsql_spark", "__init__.py")):
        print(f"perfbench: the program (sqlserver2pgsql_spark) is not in {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, bool(args.trace))
    _adopt_orphans()
    # a run that is told to stop still ends the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        record = run(args, work)
        record["work"] = work
        e2e = end_to_end(record, [p for p in record["passes"] if not p["traced"]])
        layers = per_layer(record) if args.trace else None
    finally:
        if workloads.WORKLOADS[args.workload].needs_spark:
            _stop_spark()
        _end_children()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(len(p["failed"]) for p in record["passes"])
    attempted = sum(len(p["op_s"]) for p in record["passes"])
    record["bad"] = sorted(record["bad"])
    record["end_to_end"] = e2e
    record["per_layer"] = layers
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    gated = e2e[GATED]
    print(f"perfbench {args.workload} seed={args.seed}: "
          + " ".join(f"{k}={v:.4g}{END_TO_END[k]}" for k, v in gated.items())
          + f" ({GATED} by the {e2e['calibration']} calibration; raw pass_s="
          f"{e2e['raw']['pass_s']:.4g}s; {e2e['n_passes']} passes, {e2e['n_ops']} ops, "
          f"failed {failed}/{attempted})")
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": gated[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
