#!/usr/bin/env python3
"""Per-family perf regression gate.

Usage: python3 scripts/check_bench.py [BENCH_BUDGET.json [BENCH_LOCAL.json]]

Compares the freshest local bench run against the committed per-family
budgets. Families (q/r/t/d/s/e/m/p — the name prefix before the digits)
are the gating unit: individual sub-second queries swing with GC/loop
noise, but a family subtotal only moves when a shared stage (signature
pipeline, a join strategy, codegen) actually regresses.

Budget semantics: each family has a ceiling in wall seconds at the
budget's SF/CPU shape (sf0.1, local bench harness, min-of-3). A family
over its ceiling fails the gate. New families (operators added since the
budget was last refreshed) warn rather than fail — refresh the budget
with --refresh once their cost is intentional.

  python3 scripts/check_bench.py --refresh   # rewrite budgets from
                                             # BENCH_LOCAL.json * margin
"""
import json
import sys
from pathlib import Path

MARGIN = 1.6  # headroom over the measured family total when refreshing


def load(p):
    return json.loads(Path(p).read_text())


MAX_REFRESH_LOAD = 0.25  # load_avg/cpus above this → machine too hot to re-baseline

# (BENCH_LOCAL key, per-gate margin, flat grace added on refresh).
# shuffle: a plan property, tight margin; partition-count jitter on
# near-zero queries absorbed by the 0.5 MB grace. spill: 0 at sf0.1 for
# every healthy plan, so any budget must tolerate the first nonzero byte
# being noise (64 MB = one task's sort buffer). peakmem: round 8's 1.6x
# budget false-FAILed 74/217 healthy queries because per-task peak
# quantizes to Tungsten page multiples and the page size was auto-computed
# per JVM (8 vs 64 MiB first pages read as an 8x "regression" on unchanged
# code). The root fix is pinning spark.buffer.pageSize in GraftSession --
# with it, a loaded round-9 run reproduced the round-8 quiet run's
# per-query peaks bit-for-bit -- so the budget stays TIGHT: 2x margin for
# AQE-coalescing/pool jitter + 32 MB (4 pages) flat grace. Verified both
# ways: the full healthy run passes 219/219, and a planted unpartitioned
# window in q01 (a true 10.7x peak regression, 8.7 -> 92.9 MB) lands ~2x
# over its ceiling (the same plant also trips the shuffle gate 28x).
PER_QUERY_GATES = [("shuffle_mb", 1.6, 0.5), ("spill_mb", 1.6, 64.0),
                   ("peakmem_mb", 2.0, 32.0)]


def refresh(budget_path, local_path, force=False):
    local = load(local_path)
    # Quiet-machine gate: budgets taken from a hot run are inflated by
    # whatever else the machine was doing and then mask real regressions
    # for every later round. Refuse to re-baseline unless the run was
    # quiet (BENCH_HISTORY shows 84–97 s spreads at load_avg≈13 on the
    # SAME code). The AMBIENT load is load_start (sampled before the
    # session spins up); load_avg at run end is dominated by the bench's
    # own 32 threads and would flag every healthy run as hot.
    # --force overrides for a deliberate hot re-baseline.
    load_avg = local.get("load_start", local.get("load_avg", -1.0))
    cpus = local.get("cpus", 32)
    if load_avg >= 0 and load_avg / cpus > MAX_REFRESH_LOAD and not force:
        print(f"REFUSED: load_avg {load_avg:.1f} on {cpus} CPUs "
              f"(> {MAX_REFRESH_LOAD:.2f}/cpu) — rerun the bench on a quiet "
              f"machine or pass --force to re-baseline hot")
        return 1
    if local.get("errors"):
        print(f"REFUSED: {len(local['errors'])} queries threw in {local_path} "
              f"({', '.join(sorted(local['errors']))}) — a run with errors "
              f"is not a baseline")
        return 1
    fams = local.get("families") or {}
    if not fams:
        print(f"no 'families' key in {local_path} — rerun graft.Bench first")
        return 1
    budget = {
        "sf": local.get("sf"),
        "margin": MARGIN,
        "families": {f: round(v * MARGIN, 2) for f, v in sorted(fams.items())},
        "total": round(local["value"] * MARGIN, 2),
    }
    for k in sorted(local):
        if k.endswith("_build"):
            budget[k] = round(local[k] * MARGIN, 2)
    # PER-QUERY plan-property ceilings. Wall seconds drift with GC and
    # machine load; shuffle bytes, spilled bytes, and peak execution
    # memory are properties of the PLAN — a query whose broadcast
    # silently falls back to a corpus shuffle, or whose aggregate starts
    # buffering whole groups per task (the q44-style collect-then-sort
    # regression class), blows through its own ceiling even when its
    # wall time hides in family noise. The flat grace absorbs
    # partition-count jitter on near-zero queries.
    budget["doc"] = (
        "family/total/_build ceilings = quiet-run value * margin; per-query "
        "MB ceilings = value * gate_margins[key] + gate_grace_mb[key]. "
        "peakmem is comparable across environments because GraftSession "
        "pins spark.buffer.pageSize (the r8 false-FAILs were per-JVM page "
        "size variance, 8 vs 64 MiB); its 2x margin + 32 MB grace covers "
        "AQE-coalescing jitter while a planted unpartitioned window "
        "(10.7x peak on q01) lands ~2x over its ceiling.")
    budget["gate_margins"] = {k: m for k, m, _ in PER_QUERY_GATES}
    budget["gate_grace_mb"] = {k: g for k, _, g in PER_QUERY_GATES}
    for key, gate_margin, grace in PER_QUERY_GATES:
        vals = local.get(key) or {}
        if vals:
            budget[key] = {
                q: round(v * gate_margin + grace, 2)
                for q, v in sorted(vals.items())}
    Path(budget_path).write_text(json.dumps(budget, indent=2) + "\n")
    print(f"refreshed {budget_path} from {local_path} (margin {MARGIN}x)")
    return 0


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    budget_path = args[0] if len(args) > 0 else "BENCH_BUDGET.json"
    local_path = args[1] if len(args) > 1 else "BENCH_LOCAL.json"
    if "--refresh" in argv:
        return refresh(budget_path, local_path, force="--force" in argv)
    budget, local = load(budget_path), load(local_path)
    load_avg = local.get("load_start", local.get("load_avg", -1.0))
    cpus = local.get("cpus", 32)
    if load_avg >= 0 and load_avg / cpus > MAX_REFRESH_LOAD:
        print(f"warn: local run started HOT (ambient load {load_avg:.1f}/{cpus} "
              f"cpus) — FAILs below may be machine noise; rerun quiet")
    fams = local.get("families") or {}
    # a query that threw has no time: graft.Bench records it under
    # "errors" and leaves it out of every total, so it fails here
    errors = local.get("errors") or {}
    for q, why in sorted(errors.items()):
        print(f"FAIL {q} threw: {why}")
    n_fail = len(errors)
    for fam, ceiling in sorted(budget["families"].items()):
        got = fams.get(fam)
        if got is None:
            print(f"warn {fam}: in budget but absent from local run")
            continue
        status = "FAIL" if got > ceiling else "ok"
        n_fail += got > ceiling
        print(f"{status:4} {fam:3} {got:7.2f}s / budget {ceiling:.2f}s")
    for fam in sorted(set(fams) - set(budget["families"])):
        print(f"warn {fam}: new family, no budget yet ({fams[fam]:.2f}s) — "
              f"run --refresh once intentional")
    for k in sorted(budget):
        if not k.endswith("_build") or local.get(k) is None:
            continue
        status = "FAIL" if local[k] > budget[k] else "ok"
        n_fail += local[k] > budget[k]
        print(f"{status:4} {k} {local[k]:.2f}s / budget {budget[k]:.2f}s")
    for key, _margin, _grace in PER_QUERY_GATES:
        name = key.split("_")[0]
        vals = local.get(key) or {}
        key_budget = budget.get(key) or {}
        if vals and not key_budget:
            # a budget file with no entry for this gate at all (pre-refresh
            # budgets, forks) must say the gate is NOT enforcing, not
            # silently skip it
            print(f"warn {name}: local run has {key} but the budget has "
                  f"none — {name} gate NOT enforced; run --refresh")
        if not (vals and key_budget):
            continue
        over = [(q, v, key_budget[q]) for q, v in sorted(vals.items())
                if q in key_budget and v > key_budget[q]]
        for q, v, ceil_v in over:
            print(f"FAIL {name} {q}: {v:.2f} MB / budget {ceil_v:.2f} MB")
        n_fail += len(over)
        fresh = sorted(set(vals) - set(key_budget))
        if fresh:
            print(f"warn {name}: {len(fresh)} queries without a {name} "
                  f"budget yet — run --refresh once intentional")
        top = sorted(vals.items(), key=lambda kv: -kv[1])[:5]
        print(("ok  " if not over else "    ") +
              f" {name}: {len(vals) - len(over)}/{len(vals)} under budget; top: " +
              ", ".join(f"{k}={v:.2f}MB" for k, v in top))
    if local["value"] > budget["total"]:
        n_fail += 1
        print(f"FAIL total {local['value']:.2f}s / budget {budget['total']:.2f}s")
    else:
        print(f"ok   total {local['value']:.2f}s / budget {budget['total']:.2f}s")
    print(("PASS" if n_fail == 0 else "FAIL") + f" ({n_fail} over budget or threw)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
