"""Per-layer metrics of a traced run.

Spans (name, op, start ms, end ms) come from the harness: one `op` root per
timed op, catalyst phases from each frame's QueryPlanningTracker, Spark jobs
from the benchmark's listener, and spans the harness wraps around its calls
into each layer. Every instant of an op's wall belongs to the innermost span
covering it, and a span's self time is the time so given to it: its duration
minus the parts its child spans cover. Times are means per timed op (set-up
spans: totals), so runs of different length compare, and the self times of
all layers add up to the mean op wall time (`op.wall_s`).
"""
PACKS = ("relational", "textops", "dedup", "similarity", "eventops",
         "multimodal", "pipeline")
LAYERS = ("op", "plans", "catalyst", "spark", "sources", "operators",
          "registry", "streaming")


def _union(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Self time (ms) of each span. Every instant of an op's wall belongs
    to the innermost span covering it, so the self times of one op's spans
    add up to its wall exactly, overlapping Spark jobs included."""
    out = [0.0] * len(spans)
    by_op = {}
    for i, sp in enumerate(spans):
        by_op.setdefault(sp[1], []).append(i)
    for idx in by_op.values():
        roots = [i for i in idx if spans[i][0] == "op"]
        if not roots:
            continue
        lo, hi = spans[roots[0]][2], spans[roots[0]][3]
        cut = sorted({lo, hi} | {min(max(t, lo), hi) for i in idx for t in spans[i][2:4]})
        for a, b in zip(cut, cut[1:]):
            mid = (a + b) / 2
            inner = min((i for i in idx if spans[i][2] <= mid < spans[i][3]),
                        key=lambda i: (spans[i][3] - spans[i][2], i))
            out[inner] += b - a
    return out


def per_layer(cfg, res, done, bad):
    spans = [tuple(s) for s in res.get("spans", [])]
    counters = res.get("counters", {})
    timed = {d["id"] for d in done}
    n_ops = max(len(timed), 1)
    selfs = self_times(spans)
    tot, self_by_layer = {}, {layer: 0.0 for layer in LAYERS}
    for sp, st in zip(spans, selfs):
        name, op = sp[0], sp[1]
        if op in timed:
            tot[name] = tot.get(name, 0.0) + (sp[3] - sp[2]) / 1e3
            self_by_layer[name.split(".")[0]] += st / 1e3
        elif op == -1:
            tot["setup:" + name] = tot.get("setup:" + name, 0.0) + (sp[3] - sp[2]) / 1e3
    jobs = {}
    for sp in spans:
        if sp[0] == "spark.job" and sp[1] in timed:
            jobs.setdefault(sp[1], []).append((sp[2], sp[3]))
    job_s = sum(_union(v) for v in jobs.values()) / 1e3
    wall = sum(d["wall_s"] for d in done)
    fin = res["finish"]
    chains = fin.get("chains", {}).values()
    written = counters.get("sources.files_written", 0.0)
    linked = counters.get("sources.files_linked", 0.0)
    scans = counters.get("sources.scan_candidates", 0.0)
    names = {op["id"]: op.get("name") for op in cfg["ops"]}
    r06 = [d for d in done if d["id"] not in bad and
           names.get(d["id"]) == "r06_batch_extract"]
    r06_s = sum(d["wall_s"] for d in r06)
    delivered = counters.get("streaming.delivered", 0.0)
    changed = sum(op.get("changed", 0) for op in cfg["ops"] if op["id"] in timed)
    tip_rows = sum(c.get("tip_rows", 0) for c in chains)
    tip_bytes = sum(c.get("tip_bytes", 0) for c in chains)
    per = {
        "plans.parse_s": tot.get("plans.parse", 0.0) / n_ops,
        "catalyst.analysis_s": tot.get("catalyst.analysis", 0.0) / n_ops,
        "catalyst.optimization_s": tot.get("catalyst.optimization", 0.0) / n_ops,
        "catalyst.planning_s": tot.get("catalyst.planning", 0.0) / n_ops,
        "spark.jobs": sum(len(v) for v in jobs.values()) / n_ops,
        "spark.job_s": job_s / n_ops,
        "spark.driver_gap_s": (wall - job_s) / n_ops,
        "spark.task_s": counters.get("spark.task_s", 0.0) / n_ops,
        "spark.shuffle_write_mb": counters.get("spark.shuffle_write_mb", 0.0) / n_ops,
        "spark.spill_mb": counters.get("spark.spill_mb", 0.0) / n_ops,
        "spark.input_mb": counters.get("spark.input_mb", 0.0) / n_ops,
        "sources.files_written": written / n_ops,
        "sources.files_linked": linked / n_ops,
        "sources.bytes_written_mb": counters.get("sources.bytes_written_mb", 0.0) / n_ops,
        "sources.link_ratio": linked / (linked + written) if linked + written else 0.0,
        "sources.scan_files": counters.get("sources.scan_files", 0.0) / n_ops,
        "sources.scan_prune_ratio": (counters.get("sources.scan_files", 0.0) / scans
                                     if scans else 0.0),
        "sources.stats_scan_s": tot.get("sources.stats_scan", 0.0) / n_ops,
        "sources.generations": sum(c["generations"] for c in chains),
        "sources.materialize_s": tot.get("setup:sources.materialize", 0.0),
        "sources.write_amp": (fin.get("new_inode_bytes", 0) /
                              (changed * tip_bytes / tip_rows)
                              if changed and tip_rows else 0.0),
        "sources.space_amp": (sum(c["unique_bytes"] for c in chains) / tip_bytes
                              if tip_bytes else 0.0),
        "operators.sql_dml_s": tot.get("operators.sql_dml", 0.0) / n_ops,
        "operators.apply_s": tot.get("operators.apply", 0.0) / n_ops,
        "operators.vacuum_s": tot.get("operators.vacuum", 0.0) / n_ops,
        "operators.compact_s": tot.get("operators.compact", 0.0) / n_ops,
        **{f"operators.{p}_s": tot.get(f"operators.{p}", 0.0) / n_ops for p in PACKS},
        "operators.sigstore_build_s": tot.get("setup:operators.sigstore_build", 0.0),
        "registry.dispatch_s": tot.get("registry.dispatch", 0.0) / n_ops,
        "registry.extract_rows_per_s": (sum(len(d["rows"]) for d in r06) / r06_s
                                        if r06_s else 0.0),
        "streaming.batch_s": tot.get("streaming.batch", 0.0) / n_ops,
        "streaming.applied_ratio": (counters.get("streaming.applied", 0.0) / delivered
                                    if delivered else 0.0),
        "op.wall_s": wall / n_ops,
        **{f"{layer}.self_s": v / n_ops for layer, v in self_by_layer.items()},
    }
    return per

