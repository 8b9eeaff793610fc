"""Output checks of a benchmark run, computed independently in DuckDB.

`run` returns one (op id, reason) pair per failed op: an op that threw,
an answer that differs from DuckDB's, or a chain tip whose fingerprint
differs from DuckDB's replay of the same edits (reported against the
chain, since a wrong tip cannot be pinned on one statement).
"""
import calendar
import datetime
import decimal
import math
import struct

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def run(workload, cfg, ops, done, res):
    fails = [(d["id"], d["error"]) for d in done if not d["ok"]]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if workload == "dml_session":
        fails += _dml(con, cfg, ops, done, res)
    elif workload == "serve_read":
        fails += _serve(con, cfg, ops, done)
    else:
        fails += _batch(con, cfg, ops, done, res)
    con.close()
    return fails


def _base(con, name, data):
    con.execute(f"CREATE TABLE {name} AS SELECT doc_id, text, lang, source, "
                f"CAST(n_chars AS BIGINT) AS n_chars FROM '{data}/documents.parquet'")


FINGERPRINT = ("SELECT COUNT(*), SUM(CAST(hash(doc_id, text, lang, source, n_chars) "
               "AS HUGEINT)) FROM {}")


def _dml(con, cfg, ops, done, res):
    fails = []
    for t in ("f", "p"):
        _base(con, t, cfg["data"])
    # the warm-up cycle ran first, against the same chains
    for op in cfg["warm_ops"]:
        for stmt in op.get("duck", []):
            con.execute(stmt)
    for d in done:
        op = ops[d["id"]]
        if not d["ok"]:
            continue
        for stmt in op.get("duck", []):
            con.execute(stmt)
        if op["kind"] == "stream":
            want = op["changed"] > 0
            if d.get("applied") != want:
                fails.append((d["id"], f"applyBatch returned {d.get('applied')}, "
                                       f"expected {want} for batch {op['batch']}"))
    for chain, c in res["finish"]["chains"].items():
        got = con.execute(FINGERPRINT.format(f"'{c['dump']}/*.parquet'")).fetchone()
        want = con.execute(FINGERPRINT.format(chain.lower())).fetchone()
        c["tip_rows"] = got[0]
        if got != want:
            fails.append((f"tip:{chain}", f"tip fingerprint {got} != DuckDB replay {want}"))
    return fails


def _serve(con, cfg, ops, done):
    """Replays the set-up edits into tables g0..gN and the change feed into
    `cdf`, then compares every read with its DuckDB twin."""
    _base(con, "g0", cfg["data"])
    con.execute("CREATE TABLE cdf (change_type VARCHAR, gen INTEGER, doc_id BIGINT)")
    for e in cfg["setup_edits"]:
        g = e["gen"]
        live = {r[0] for r in con.execute(f"SELECT doc_id FROM g{g - 1}").fetchall()}
        for r in e["rows"]:
            kind = (("delete" if r[0] in live else None) if r[5]
                    else ("update_postimage" if r[0] in live else "insert"))
            if kind:
                con.execute("INSERT INTO cdf VALUES (?, ?, ?)", [kind, g, r[0]])
        con.execute(f"CREATE TABLE g{g} AS SELECT * FROM g{g - 1}")
        keys = ", ".join(str(r[0]) for r in e["rows"])
        con.execute(f"DELETE FROM g{g} WHERE doc_id IN ({keys})")
        ups = [r[:5] for r in e["rows"] if not r[5]]
        if ups:
            con.executemany(f"INSERT INTO g{g} VALUES (?, ?, ?, ?, ?)", ups)
    fails = []
    for d in done:
        op = ops[d["id"]]
        if not d["ok"]:
            continue
        want = con.execute(op["expect"]).fetchall()
        got = d.get("rows", [])
        if "project" in op:
            got = [[r[i] for i in op["project"]] for r in got]
        if sorted(map(_key, got)) != sorted(map(_key, want)):
            fails.append((d["id"], f"{op['step']}: got {_show(got)} want {_show(want)}"))
    return fails


def _batch(con, cfg, ops, done, res):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cfg['data']}/{t}.parquet'")
    oracle = res["finish"]["oracle"]
    expected = {}
    fails = []
    for d in done:
        op = ops[d["id"]]
        if not d["ok"]:
            continue
        name = op["name"]
        if oracle.get(name) is None:
            fails.append((d["id"], f"{name}: no oracle SQL to check against"))
            continue
        if name not in expected:
            cur = con.execute(oracle[name])
            expected[name] = ([c[0] for c in cur.description], cur.fetchall())
        cols, rows = expected[name]
        if op.get("wrong"):
            rows = rows[1:] + [rows[0]] if len(rows) > 1 else rows + rows
        why = _compare(d["cols"], d["rows"], cols, rows)
        if why:
            fails.append((d["id"], f"{name}: {why}"))
    return fails


def _compare(gcols, grows, wcols, wrows):
    """The oracle gate's rule: columns matched by name, rows in order,
    floats bit for bit."""
    if sorted(gcols) != sorted(wcols):
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    gi = [gcols.index(c) for c in sorted(gcols)]
    wi = [wcols.index(c) for c in sorted(wcols)]
    for n, (g, w) in enumerate(zip(grows, wrows)):
        for a, b in zip((g[i] for i in gi), (w[i] for i in wi)):
            if not _eq(a, b):
                return f"row {n}: {a!r} != {b!r}"
    return None


def _eq(a, b):
    """Spark value (as the harness encodes it) vs DuckDB value."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, float) and isinstance(a, float):
        return struct.pack(">d", a) == struct.pack(">d", b) or (math.isnan(a) and math.isnan(b))
    if isinstance(b, decimal.Decimal):
        return decimal.Decimal(str(a)) == b
    if isinstance(b, (list, tuple)):
        return isinstance(a, list) and len(a) == len(b) and all(map(_eq, a, b))
    if isinstance(b, dict):
        return _eq(a, list(b.values()))
    return _canon(a) == _canon(b)


def _canon(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return ("n", decimal.Decimal(v) if not isinstance(v, float) or math.isfinite(v)
                else repr(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("n", decimal.Decimal(calendar.timegm(v.timetuple()) * 10**6 + v.microsecond))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(_canon(x) for x in v.values())
    return v


def _key(row):
    return repr(tuple(_canon(v) for v in row))


def _show(rows):
    s = repr(rows)
    return s if len(s) < 200 else s[:200] + "..."
