"""Steadiness tool: run one workload k times and summarise each metric.

    python3 perfbench/steady.py --workload dml_session --runs 10
    python3 perfbench/steady.py --workload dml_session --runs 10 --against a.json
    python3 perfbench/steady.py --workload batch_pipeline --runs 3 --overhead

Each run gets its own seed (--seed0, --seed0 + 1, ...). For every metric it
prints the median, the quartiles (statistics.quantiles(values, n=4)) and
the spread: (Q3 - Q1) / median. Every end-to-end metric's spread must
stay within its bound in BENCHMARK.json. --save keeps the values; --against
compares them with a saved set: the two sets agree when each median differs
from the saved one, either way, by at most the metric's bound. --overhead
also runs the traced mode and prints traced minus untraced medians (tracing
overhead).

Claims of a gain are checked on HELD_OUT_SEED, a seed never used while a
change is written (see perfbench/README.md).
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
HELD_OUT_SEED = 7919
METRIC = re.compile(r"^metric (\S+) = (\S+) (\S+)$")


def bench():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def one_run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True,
                       cwd=HERE.parent)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed (seed {seed}, exit {p.returncode}):\n"
                         f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    values = {m.group(1): float(m.group(2)) for m in map(METRIC.match, lines) if m}
    stamp = json.loads(next(ln for ln in lines if ln.startswith("stamp "))[6:])
    values["cpu_steal_s"] = stamp["cpu_steal_s"]
    values.update({k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()})
    return values


def summary(runs):
    out = {}
    for k in runs[0]:
        vs = [r[k] for r in runs if k in r]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else float("nan"), "values": vs}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--save", help="write the per-run values to this file")
    ap.add_argument("--against", help="compare medians with a saved set")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    b = bench()
    bounds = {m["name"]: m for m in b["end_to_end"]}
    seeds = range(a.seed0, a.seed0 + a.runs)
    runs = [one_run(a.workload, s, b["run_seconds"], 0) for s in seeds]
    summ = summary(runs)
    ok = True
    print(f"{a.workload}: {a.runs} runs, seeds {seeds.start}..{seeds.stop - 1}")
    for k, s in summ.items():
        note = ""
        if k in bounds:
            good = s["spread"] <= bounds[k]["bound"]
            ok &= good
            note = f"  bound {bounds[k]['bound']} {'ok' if good else 'EXCEEDED'}"
        print(f"{k:24s} median {s['median']:.6g}  q1 {s['q1']:.6g}  q3 {s['q3']:.6g}"
              f"  spread {s['spread']:.3f}{note}")
    if a.save:
        Path(a.save).write_text(json.dumps(runs))
    if a.against:
        old = summary(json.loads(Path(a.against).read_text()))
        for k, m in bounds.items():
            o, n = old[k]["median"], summ[k]["median"]
            moved = (n - o) / o
            good = abs(moved) <= m["bound"]
            ok &= good
            worse = moved > 0 if m["better"] == "lower" else moved < 0
            verdict = "agrees" if good else "REGRESSED" if worse else "IMPROVED"
            print(f"{k:24s} saved {o:.6g} now {n:.6g} moved {moved:+.3f}"
                  f" (bound {m['bound']}) {verdict}")
    if a.overhead:
        traced = summary([one_run(a.workload, s, b["run_seconds"], 1) for s in seeds])
        print("tracing overhead (traced median - untraced median):")
        for k in bounds:
            d = traced[k]["median"] - summ[k]["median"]
            print(f"{k:24s} {d:+.6g} ({d / summ[k]['median']:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
