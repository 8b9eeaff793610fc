"""Seeded op generators for the three workloads, with the DuckDB statements
that compute each op's expected effect or answer independently of Spark.

Every op is a JSON-able dict. The harness reads `kind` and the fields of
that kind; `duck` (DuckDB statements) and `expect` (DuckDB query of the
expected answer) are only read by the checker.
"""
import random

import pyarrow.parquet as pq

from datagen import WORDS

BUCKETS = 16
M32 = 0xFFFFFFFF


def _rotl(x, r):
    return ((x << r) | (x >> (32 - r))) & M32


def _mix_k1(k):
    return (_rotl((k * 0xCC9E2D51) & M32, 15) * 0x1B873593) & M32


def _mix_h1(h, k):
    return (_rotl(h ^ k, 13) * 5 + 0xE6546B64) & M32


def bucket_of(key: int, n: int = BUCKETS) -> int:
    """Spark's bucket id of a BIGINT key: pmod(murmur3_x86_32(key, 42), n)."""
    h = _mix_h1(_mix_h1(42, _mix_k1(key & M32)), _mix_k1((key >> 32) & M32))
    h ^= 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M32
    h ^= h >> 16
    signed = h - (1 << 32) if h & 0x80000000 else h
    return signed % n


def _text(rng, lo=5, hi=15):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _spark_long(v):
    return f"{v}L"


class KeyPicker:
    """Draws small key sets (0.1-2% of the corpus), 80% of them from three
    hot buckets, so writes concentrate on a few bucket files."""

    def __init__(self, rng, keys):
        self.rng = rng
        self.keys = sorted(keys)
        hot = set(rng.sample(range(BUCKETS), 3))
        self.hot = [k for k in self.keys if bucket_of(k) in hot]
        self.cold = [k for k in self.keys if bucket_of(k) not in hot]

    def pick(self, share=None):
        """`share` of the keys, or a log-uniform share in 0.1-2%."""
        if share is None:
            share = 10 ** self.rng.uniform(-3, -1.7)
        size = max(int(round(len(self.keys) * share)), 2)
        out = set()
        while len(out) < size:
            pool = self.hot if self.rng.random() < 0.8 else self.cold
            out.add(self.rng.choice(pool))
        return sorted(out)


def _row(rng, key, sources, tomb=False):
    if tomb:
        return [key, None, None, None, None, True]
    t = _text(rng)
    return [key, t, rng.choice(["en", "fr", "de", "xx"]),
            rng.choice(sources), len(t), False]


def _duck_apply(table, rows):
    """DuckDB statements of a changeset apply: matched upserts replace the
    row, unmatched upserts insert, tombstones delete."""
    keys = ", ".join(str(r[0]) for r in rows)
    ups = [r for r in rows if not r[5]]
    out = [f"DELETE FROM {table} WHERE doc_id IN ({keys})"]
    if ups:
        vals = ", ".join("(" + ", ".join(_lit(v) for v in r[:5]) + ")" for r in ups)
        out.append(f"INSERT INTO {table} VALUES {vals}")
    return out


def load_docs(data_dir):
    t = pq.read_table(f"{data_dir}/documents.parquet",
                      columns=["doc_id", "source"]).to_pydict()
    return t["doc_id"], sorted(set(t["source"]))


# ── dml_session ─────────────────────────────────────────────────────────

# Each SQL verb runs once per cycle: UPDATE on the partitioned chain,
# DELETE, MERGE and INSERT on the flat one; both chains take a direct
# apply; the flat chain also takes a streaming micro-batch, its
# re-delivery, and OPTIMIZE; both are vacuumed.
DML_CYCLE = ["update:P", "delete:F", "merge:F", "insert:F", "apply:F",
             "apply:P", "stream:F", "redeliver:F", "vacuum:F", "optimize:F",
             "vacuum:P"]
# Share of the corpus keys each write touches, fixed per step (0.1-2%) so
# that seeds vary which keys and values, not how much work a cycle does.
DML_SHARE = {"update": 0.01, "delete": 0.002, "merge": 0.005, "insert": 0.004,
             "apply:F": 0.02, "apply:P": 0.001, "stream": 0.008}


def dml_ops(seed, data_dir, cycles, id0=0, key0=10_000_000):
    """`cycles` repetitions of DML_CYCLE. The op types repeat in a fixed
    order; the seed picks every key set and value."""
    rng = random.Random(seed)
    keys, sources = load_docs(data_dir)
    picker = KeyPicker(rng, keys)
    ops = []
    next_key = key0
    batch = id0
    last_stream = None
    for c in range(cycles):
        for step in DML_CYCLE:
            kind, chain = step.split(":")
            t = "{" + chain + "}"
            d = chain.lower()
            op = {"id": id0 + len(ops), "group": c, "chain": chain, "step": kind}
            share = DML_SHARE.get(kind, DML_SHARE.get(step))
            if kind == "update":
                ks = picker.pick(share)
                lang, inc = f"u{rng.randint(0, 9)}", rng.randint(1, 9)
                where = f"doc_id IN ({', '.join(map(str, ks))})"
                op.update(kind="sql", changed=len(ks), sql=(
                    f"UPDATE {t} SET lang = '{lang}', n_chars = n_chars + {inc} "
                    f"WHERE doc_id IN ({', '.join(map(_spark_long, ks))})"),
                    duck=[f"UPDATE {d} SET lang = '{lang}', n_chars = n_chars + {inc} "
                          f"WHERE {where}"])
            elif kind == "delete":
                ks = picker.pick(share)
                op.update(kind="sql", changed=len(ks), sql=(
                    f"DELETE FROM {t} WHERE doc_id IN "
                    f"({', '.join(map(_spark_long, ks))})"),
                    duck=[f"DELETE FROM {d} WHERE doc_id IN ({', '.join(map(str, ks))})"])
            elif kind == "merge":
                old = picker.pick(share)
                new = [next_key + i for i in range(max(1, len(old) // 4))]
                next_key += len(new)
                src = [(k, f"m{rng.randint(0, 9)}", _text(rng), rng.choice(sources))
                       for k in old + new]
                vals = ", ".join(
                    f"({k}L, '{v}', '{tx}', '{s}', {len(tx)}L)" for k, v, tx, s in src)
                op.update(kind="sql", changed=len(src), sql=(
                    f"MERGE INTO {t} t USING (SELECT * FROM VALUES {vals} "
                    "AS s(doc_id, v, text, source, n_chars)) s "
                    "ON t.doc_id = s.doc_id "
                    "WHEN MATCHED THEN UPDATE SET lang = s.v, n_chars = t.n_chars + 1 "
                    "WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, source, n_chars) "
                    "VALUES (s.doc_id, s.text, s.v, s.source, s.n_chars)"))
                dv = ", ".join(f"({k}, '{v}', '{tx}', '{s}', {len(tx)})"
                               for k, v, tx, s in src)
                op["duck"] = [
                    f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM (VALUES {dv}) "
                    "s(doc_id, v, text, source, n_chars)",
                    f"UPDATE {d} SET lang = src.v, n_chars = {d}.n_chars + 1 "
                    f"FROM src WHERE {d}.doc_id = src.doc_id",
                    f"INSERT INTO {d} SELECT doc_id, text, v, source, n_chars FROM src "
                    f"WHERE doc_id NOT IN (SELECT doc_id FROM {d})"]
            elif kind == "insert":
                new = [next_key + i for i in range(round(len(keys) * share))]
                next_key += len(new)
                rows = [(k, _text(rng), rng.choice(["en", "fr"]), rng.choice(sources))
                        for k in new]
                vals = ", ".join(f"({k}L, '{tx}', '{lg}', '{s}', {len(tx)}L)"
                                 for k, tx, lg, s in rows)
                op.update(kind="sql", changed=len(rows), sql=(
                    f"INSERT INTO {t} (doc_id, text, lang, source, n_chars) "
                    f"SELECT * FROM VALUES {vals} AS v(doc_id, text, lang, source, n_chars)"),
                    duck=[f"INSERT INTO {d} VALUES " + ", ".join(
                        f"({k}, '{tx}', '{lg}', '{s}', {len(tx)})" for k, tx, lg, s in rows)])
            elif kind in ("apply", "stream"):
                old = picker.pick(share)
                tombs = set(rng.sample(old, len(old) // 4))
                new = [next_key + i for i in range(max(1, len(old) // 4))]
                next_key += len(new)
                rows = [_row(rng, k, sources, k in tombs) for k in old + new]
                op.update(kind=kind, rows=rows, changed=len(rows),
                          duck=_duck_apply(d, rows))
                if kind == "stream":
                    batch += 1
                    op["batch"] = batch
                    last_stream = op
            elif kind == "redeliver":
                # the previous micro-batch again: the ledger must skip it
                op.update(kind="stream", rows=last_stream["rows"], changed=0,
                          batch=last_stream["batch"], duck=[])
            elif kind == "vacuum":
                op.update(kind="sql", layer="operators.vacuum", changed=0, duck=[],
                          sql=f"VACUUM {t} RETAIN 3 GENERATIONS")
            elif kind == "optimize":
                op.update(kind="sql", layer="operators.compact", changed=0, duck=[],
                          sql=f"OPTIMIZE {t}")
            ops.append(op)
    return ops


# ── serve_read ──────────────────────────────────────────────────────────

READ_CYCLE = ["point", "point_in", "part_agg", "version", "timestamp", "tag",
              "changes", "history", "stats_scan", "join", "tip_agg"]
SERVE_GENS = [("cow", 1), ("cow", 2), ("mor", 3), ("mor", 4)]
TAG = ("pinned", 2)


def serve_setup(seed, data_dir):
    """Edits that build generations 1..4 of the served chain (two
    copy-on-write, two deletion-vector) and their DuckDB replay."""
    rng = random.Random(seed * 7919 + 1)
    keys, sources = load_docs(data_dir)
    picker = KeyPicker(rng, keys)
    edits = []
    next_key = 20_000_000
    for mode, g in SERVE_GENS:
        old = sorted(set(picker.pick() + picker.pick()))
        tombs = set(rng.sample(old, len(old) // 3))
        new = [next_key + i for i in range(len(old) // 3 + 1)]
        next_key += len(new)
        rows = [_row(rng, k, sources, k in tombs) for k in old + new]
        edits.append({"mode": mode, "gen": g, "rows": rows})
    return edits


def serve_ops(seed, data_dir, n):
    rng = random.Random(seed)
    keys, sources = load_docs(data_dir)
    agg = "SELECT lang, COUNT(*) AS n, SUM(n_chars) AS c FROM {} WHERE source = '{}' GROUP BY lang"
    ops = []
    top = SERVE_GENS[-1][1]
    for i in range(n):
        kind = READ_CYCLE[i % len(READ_CYCLE)]
        op = {"id": i, "kind": "sql", "step": kind}
        src = rng.choice(sources)
        g = rng.randint(0, top)
        if kind == "point":
            k = rng.choice(keys)
            q = f"SELECT doc_id, text, lang, source, n_chars FROM {{T}} WHERE doc_id = {k}"
            op.update(sql=q, expect=q.replace("{T}", f"g{top}"))
        elif kind == "point_in":
            ks = ", ".join(str(k) for k in rng.sample(keys, 5))
            q = f"SELECT doc_id, lang, n_chars FROM {{T}} WHERE doc_id IN ({ks})"
            op.update(sql=q, expect=q.replace("{T}", f"g{top}"))
        elif kind == "part_agg":
            op.update(sql=agg.format("{PT}", src), expect=agg.format("g0", src))
        elif kind == "version":
            op.update(sql=agg.format(f"{{T}} VERSION AS OF {g}", src),
                      expect=agg.format(f"g{g}", src))
        elif kind == "timestamp":
            op.update(sql=agg.format(f"{{T}} TIMESTAMP AS OF '{{TS{g}}}'", src),
                      expect=agg.format(f"g{g}", src))
        elif kind == "tag":
            op.update(sql=agg.format(f"{{T}} VERSION AS OF '{TAG[0]}'", src),
                      expect=agg.format(f"g{TAG[1]}", src))
        elif kind == "changes":
            a = rng.randint(0, top - 1)
            b = rng.randint(a + 1, top)
            op.update(sql=(
                "SELECT _change_type, _commit_generation, COUNT(*) AS n, "
                f"SUM(doc_id) AS s FROM graft_changes('{{T}}', {a}, {b}) "
                "GROUP BY _change_type, _commit_generation"),
                expect=("SELECT change_type, gen, COUNT(*) AS n, SUM(doc_id) AS s "
                        f"FROM cdf WHERE gen > {a} AND gen <= {b} GROUP BY ALL"))
        elif kind == "history":
            op.update(sql="DESCRIBE HISTORY {T}", project=[0, 5], expect=(
                f"SELECT g, g = {top} FROM range({top + 1}) r(g)"))
        elif kind == "stats_scan":
            lo = rng.randint(20, 500)
            hi = lo + rng.randint(10, 60)
            op.update(kind="stats_scan", lo=lo, hi=hi, expect=(
                f"SELECT doc_id, n_chars FROM g{top} WHERE n_chars BETWEEN {lo} AND {hi}"))
        elif kind == "join":
            q = ("SELECT COUNT(*) AS n, SUM(a.n_chars - b.n_chars) AS d FROM {T} a "
                 "JOIN {T} VERSION AS OF 1 b ON a.doc_id = b.doc_id "
                 f"WHERE a.lang <> b.lang OR a.source = '{src}'")
            op.update(sql=q, expect=q.replace("{T} VERSION AS OF 1", "g1")
                      .replace("{T}", f"g{top}"))
        elif kind == "tip_agg":
            q = ("SELECT source, COUNT(*) AS n, SUM(n_chars) AS c, MAX(doc_id) AS m "
                 "FROM {T} GROUP BY source")
            op.update(sql=q, expect=q.replace("{T}", f"g{top}"))
        ops.append(op)
    return ops


# ── batch_pipeline ──────────────────────────────────────────────────────

# The basket: every non-lifecycle pack (p26+ belong to the chain
# workloads) gets a share of 16 queries proportional to its r16 family
# total (q 18.7 s, d 17.5, e 13.4, s 10.2, p01-25 6.6, t 5.7, r 4.9,
# m 3.8 of 236 queries at sf0.1), at least one, picked evenly spaced over
# the pack's name-sorted queries; the registry pack is r05 (dispatch) and
# r06 (batch extract). Fixed here so that every commit runs the same
# basket: a renamed query fails loudly instead of leaving it.
BASKET = {
    "relational": ["q07_anti_join", "q21_percentile", "q35_argmax_group",
                   "q49_topk_agg"],
    "dedup": ["d05_embed_dupes", "d13_containment", "d21_bloom_decontaminate"],
    "eventops": ["e08_sequence_pattern", "e22_binned_interval_join",
                 "e35_asof_sliced"],
    "similarity": ["s06_ivf_ann", "s16_bm25_topk"],
    "pipeline": ["p13_length_histogram"],
    "textops": ["t15_domain_extract"],
    "registry": ["r05_file_dispatch", "r06_batch_extract"],
    "multimodal": ["m07_frame_boilerplate"],
}


def batch_ops(seed, passes):
    """`passes` runs of the basket, each in its own seed-permuted order."""
    rng = random.Random(seed)
    names = [n for pack in BASKET.values() for n in pack]
    ops = []
    for p in range(passes):
        order = list(names)
        rng.shuffle(order)
        for n in order:
            ops.append({"id": len(ops), "kind": "query", "name": n, "group": p})
    return ops
