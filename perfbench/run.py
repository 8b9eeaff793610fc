"""graft benchmark: one closed-loop workload, timed, checked, reported.

    python3 perfbench/run.py --workload dml_session --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), generates the inputs
from the seed (perfbench/datagen.py, perfbench/workloads.py), runs one
driver JVM with one client thread against `local[N]`, checks every output
against DuckDB, and prints the run stamp, every metric by name and unit,
and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones of BENCHMARK.json. A failed op or a failed check
makes the exit code 1.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("dml_session", "serve_read", "batch_pipeline")
CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
DEADLINE_S = 170
JVM_OPTS = [
    "-Xmx" + HEAP, "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def plan(workload, seed, data):
    """The config the harness runs: timed ops, warm-up ops, set-up edits."""
    if workload == "dml_session":
        datagen.generate(data, seed, 0.1, tables=("documents",))
        return {"ops": W.dml_ops(seed, data, cycles=40),
                "warm_ops": W.dml_ops(seed + 10**6, data, cycles=1,
                                      id0=10**6, key0=90_000_000),
                "min_groups": 1}
    if workload == "serve_read":
        datagen.generate(data, seed, 0.1, tables=("documents",))
        ops = W.serve_ops(seed, data, 4000)
        return {"ops": ops, "warm_ops": W.serve_ops(seed + 1, data, len(W.READ_CYCLE)),
                "min_groups": 100, "setup_edits": W.serve_setup(seed, data),
                "tag": {"name": W.TAG[0], "version": W.TAG[1]}}
    # one pass of the basket, each query's first run in this JVM, as in a
    # batch job; further passes only while --seconds has not run out.
    # Scale 0.01: at 0.1 a run takes about 12 s longer, which the gate's
    # time budget does not leave room for (perfbench/README.md).
    datagen.generate(data, seed, 0.01)
    return {"ops": W.batch_ops(seed, passes=20), "warm_ops": [], "min_groups": 1}


def plant(cfg, workload, kinds):
    """Test hook: put a throwing op and/or a wrong-answer op first. The
    wrong answer is a read whose DuckDB twin differs, a basket query whose
    expected rows are rotated, or (dml_session) a write DuckDB never
    replays, so that the chain's tip fingerprint differs."""
    planted = []
    for k in kinds:
        first = cfg["ops"][0]
        op = {"id": -1 - len(planted), "group": first.get("group", first["id"]), "duck": []}
        if workload == "batch_pipeline":
            op.update(kind="query", name="no_such_query" if k == "throw"
                      else W.BASKET["relational"][0], wrong=(k == "wrong"))
        elif k == "throw":
            op.update(kind="sql", sql="SELECT * FROM no_such_table")
        elif workload == "dml_session":
            op.update(kind="sql", sql="UPDATE {F} SET lang = 'planted' WHERE doc_id = 1L")
        else:
            op.update(kind="sql", sql="SELECT 1 AS x", expect="SELECT 2 AS x",
                      step="planted")
        planted.append(op)
    cfg["ops"] = planted + cfg["ops"]


def steal_s():
    """CPU seconds the host has taken from this machine's vCPUs since boot
    (Linux /proc/stat); a run that lost many is not comparable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, work, budget_s):
    """Run the harness on work/cfg.json; every file it writes stays in work."""
    cp = f"{classes}:{build.spark_jars()}/*"
    (work / "tmp").mkdir()
    here = [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(["java"] + JVM_OPTS + here + [
                                 "-cp", cp, "perfbench.Main", str(work / "cfg.json")],
                             stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")))
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def pctl(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--plant", default="", help="comma list of throw,wrong (tests)")
    a = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    classes = build.build()
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    try:
        cfg = plan(a.workload, a.seed, data)
        if a.plant:
            plant(cfg, a.workload, a.plant.split(","))
        cfg.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=a.trace, cpus=CPUS,
                   data=str(data), work=str(work), out=str(work / "result.json"))
        (work / "cfg.json").write_text(json.dumps(cfg))
        budget = DEADLINE_S - (time.time() - t_start)
        steal0 = steal_s()
        rc = run_jvm(classes, work, budget)
        steal = steal_s() - steal0
        if rc != 0:
            tail = (work / "jvm.log").read_text()[-3000:]
            print(f"harness JVM failed (exit {rc}):\n{tail}", file=sys.stderr)
            return 2
        res = json.loads((work / "result.json").read_text())
        res["steal_s"] = steal
        return report(a, cfg, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, cfg, res):
    ops = {op["id"]: op for op in cfg["ops"]}
    done = res["ops"]
    failures = check.run(a.workload, cfg, ops, done, res)
    attempted = len(done)
    failed = len(failures)
    bad = {f[0] for f in failures}
    lat = [d["wall_s"] for d in done if d["id"] not in bad]
    ok_n = len(lat)
    setup_s = res["session_s"] + res["state_s"] + res["warm_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ok_n / res["run_s"], "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    named = workload_metrics(a.workload, cfg, ops, done, bad, res, lat)
    named["fail_ratio"] = (failed / attempted if attempted else 1.0, "ratio")
    stamp = {
        "commit": commit(), "source_hash": build.source_hash(),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "spark_master": res["spark_master"],
        "nproc": res["nproc"], "driver_heap_mb": round(res["heap_max_mb"]),
        "load_start": res["load_start"], "load_end": res["load_end"],
        "cpu_steal_s": res.get("steal_s"),
        "attempted": attempted, "failed": failed, "samples": ok_n,
        "setup_parts_s": {"session": res["session_s"], "state": res["state_s"],
                          "warm": res["warm_s"]},
    }
    print("stamp " + json.dumps(stamp))
    for op_id, why in failures:
        print(f"FAILED op {op_id}: {why[:300]}")
    for k, (v, u) in list(e2e.items()) + list(named.items()):
        print(f"metric {k} = {v:.6g} {u}")
    if a.trace:
        per = layers.per_layer(cfg, res, done, bad)
        for k, v in per.items():
            print(f"layer {k} = {v:.6g}")
        metrics = {m["name"]: {"value": per[m["name"]], "unit": m["unit"]}
                   for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def workload_metrics(workload, cfg, ops, done, bad, res, lat):
    """The workload's own end-to-end metrics, printed beside the gated ones."""
    fin = res["finish"]
    if workload == "dml_session":
        changed = sum(ops[d["id"]].get("changed", 0) for d in done if d["id"] not in bad)
        chains = fin["chains"].values()
        tip_rows = sum(c["tip_rows"] for c in chains)
        tip_bytes = sum(c["tip_bytes"] for c in chains)
        row_bytes = tip_bytes / max(tip_rows, 1)
        return {
            "dml_p50_s": (statistics.median(lat), "s"),
            "dml_stmts_per_s": (len(lat) / res["run_s"], "1/s"),
            "dml_samples": (len(lat), "count"),
            "dml_write_amp": (fin["new_inode_bytes"] / max(changed * row_bytes, 1), "ratio"),
            "dml_space_amp": (sum(c["unique_bytes"] for c in chains) / max(tip_bytes, 1),
                              "ratio"),
        }
    if workload == "serve_read":
        return {"read_p50_s": (statistics.median(lat), "s"),
                "read_p90_s": (pctl(lat, 90), "s"),
                "reads_per_s": (len(lat) / res["run_s"], "1/s"),
                "read_samples": (len(lat), "count")}
    passes = {}
    for d in done:
        if d["id"] not in bad:
            passes.setdefault(ops[d["id"]]["group"], []).append(d["wall_s"])
    size = sum(map(len, W.BASKET.values()))
    full = [sum(v) for v in passes.values() if len(v) == size]
    return {"batch_s": (statistics.median(full) if full else float("nan"), "s"),
            "batch_query_p50_s": (statistics.median(lat), "s"),
            "batch_passes": (len(full), "count")}


if __name__ == "__main__":
    sys.exit(main())
