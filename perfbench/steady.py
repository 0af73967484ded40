"""Steadiness evidence: two sets of runs of the same code, compared.

    python3 perfbench/steady.py [--workloads convert,sync,queries] [--runs 10]
        [--sets 2] [--seconds S] [--seed 1] [--trace]

Each set runs ``perfbench/run.py`` ``--runs`` times per workload, each run
with its own seed. For every end-to-end metric the script prints, per set,
the median, the quartiles and the spread (quartile distance over median),
for raw and for host-normalised seconds side by side, and then the
agreement of the sets' medians against the metric's bound in
BENCHMARK.json. ``--runs 1 --sets 1`` is a plain report of every metric,
with units, sample counts and failure share. ``--trace`` adds one traced
run per workload and prints its per-layer metrics and its tracing overhead
with the event log included: the raw ``pass_s`` of its traced passes over
that of the untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "_out", f"{workload}-s{seed}-t{trace}.json")) as fh:
        result["record"] = json.load(fh)
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """Median, first and third quartile, and their distance over the median
    (``statistics.quantiles(values, n=4)``, as the acceptance check takes it)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: the workloads in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]

    ok = True
    for wl in workloads:
        sets = []
        for k in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.seed + 1000 * k + i
                r = one_run(wl, seed, seconds, 0)
                e2e = r["record"]["end_to_end"]
                print(f"  {wl} set {k + 1} seed {seed}: "
                      + " ".join(f"{m}={e2e['raw'][m]:.4g}" for m in bounds)
                      + f" | {e2e['n_passes']} passes, {e2e['n_ops']} ops,"
                      f" failed {r['failed']}/{r['attempted']}", flush=True)
                ok &= bool(r["correct"])
                runs.append(r)
            sets.append(runs)
        print(f"\n{wl}: {args.runs} runs x {args.sets} sets, {seconds} s each")
        print(f"  {'metric':<12} {'kind':<10} " + " ".join(
            f"{'set' + str(k + 1) + ' median [q1, q3] spread':<40}" for k in range(args.sets))
            + " agreement / bound")
        for m, bound in bounds.items():
            for kind in ("raw", "normalised"):
                cols, meds = [], []
                for runs in sets:
                    med, q1, q3, sp = spread([r["record"]["end_to_end"][kind][m] for r in runs])
                    meds.append(med)
                    cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] {sp:.1%}".ljust(40))
                agree = ""
                if len(meds) > 1:
                    d = meds[1] / meds[0] - 1
                    agree = f"{d:+.1%} / {bound:.0%} {'ok' if abs(d) <= bound else 'EXCEEDS'}"
                print(f"  {m:<12} {kind:<10} " + " ".join(cols) + " " + agree)
        n_ops = [r["record"]["end_to_end"]["n_ops"] for runs in sets for r in runs]
        fails = sum(r["failed"] for runs in sets for r in runs)
        att = sum(r["attempted"] for runs in sets for r in runs)
        print(f"  samples: {min(n_ops)}-{max(n_ops)} ops per run; failed {fails}/{att}"
              f" ({fails / att:.1%})")
        if args.trace:
            r = one_run(wl, args.seed, seconds, 1)
            traced = statistics.median(p["s"] for p in r["record"]["passes"] if p["traced"])
            plain = sets[0][0]["record"]["end_to_end"]["raw"]["pass_s"]
            print(f"  traced run (seed {args.seed}); overhead with the event log "
                  f"{traced / plain:.3f} (traced passes {traced:.4g} s / untraced run "
                  f"{plain:.4g} s):")
            for name, v in r["metrics"].items():
                print(f"    {name:<28} {v['value']:.6g} {v['unit']}")
            for op, c in (r["record"].get("per_op") or {}).items():
                print(f"    op {op:<24} shuffle write {c['shuffle.write_bytes']:.0f} B in "
                      f"{c['shuffle_write_stages']} stages, sink {c['sink.bytes_written']:.0f} B,"
                      f" gap {c['driver.gap_s']:.3f} s")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
