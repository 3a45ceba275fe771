"""Output checks. Each returns {op index: reason} for the ops whose result
is wrong; run.py counts them in `fail_frac`."""
import importlib.util
import json
import math
import os

import duckdb

CLT_SIGMAS = 6.0


def _oracle_module(root):
    # The repository's own mirror of the DuckDB oracle gate: its canonical
    # form (columns by name, rows sorted, exact cell equality) is the
    # comparison used here.
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _compare(oc, got, want):
    g, w = oc.canon(got), oc.canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            a = None if (isinstance(a, float) and math.isnan(a)) else a
            b = None if (isinstance(b, float) and math.isnan(b)) else b
            if not oc.cmp_cell(a, b):
                return f"col {c} row {i}: {a!r} vs {b!r}"
    return None


def oracle(root, input_dir, work, ops):
    """Each query's first result (every later run of it must match its
    fingerprint, checked in the client) against DuckDB running the
    query's oracle SQL on the same files. Queries without an oracle twin
    must return rows."""
    oc = _oracle_module(root)
    sqls = json.load(open(os.path.join(work, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in oc.TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for name in {o["name"] for o in ops if o["layer"] == "ops.call" and o["ok"]}:
        res = os.path.join(work, "results", name)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf()
            if name in sqls:
                verdict[name] = _compare(oc, got, con.execute(sqls[name]).fetchdf())
            else:
                verdict[name] = None if len(got) > 0 else "rows-only query returned no rows"
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            verdict[name] = f"check failed: {str(e)[:200]}"
    return {o["i"]: verdict[o["name"]] for o in ops
            if o["layer"] == "ops.call" and o["ok"] and verdict.get(o["name"])}, verdict


def reserve_band(props, n_sims, ops):
    """Each reserve job's SUM of per-type averages must lie within a CLT
    band around the closed form: per policy the claim count is
    floor(Exp(mean term)), geometric with mean q/(1-q), q = e^{-365/term};
    the per-trial variance is sum(1e4 Var n + 100 E n) and the job averages
    n_sims trials."""
    mu = props["expected_reserve"]
    half = CLT_SIGMAS * math.sqrt(props["trial_variance"] / n_sims)
    return {o["i"]: f"reserve {o['value']:.1f} outside {mu:.1f} +- {half:.1f}"
            for o in ops if o["layer"] == "actuarial.call" and o["ok"]
            and abs(o["value"] - mu) > half}, {"expected": mu, "half_width": half}


class _Model:
    """In-memory model of the statement stream: doc_id -> (lang, n_chars),
    plus the digest table's state at each committed version."""

    def __init__(self):
        self.rows = {}
        self.version = 0
        self.history = {}

    def commit(self):
        self.version += 1
        self.history[self.version] = dict(self.rows)


def _parse_values(sql):
    body = sql[sql.index("VALUES") + len("VALUES"):]
    body = body[:body.index(" AS v(")] if " AS v(" in body else body
    out = []
    for tup in body.split("),"):
        i, lang, n = tup.strip(" ()").split(", ")
        out.append((int(i.rstrip("L")), lang.strip("'"), int(n.rstrip("L"))))
    return out


def _between(sql):
    lo = int(sql.split("doc_id >= ")[1].split(" ")[0])
    hi = int(sql.split("doc_id < ")[1].split(" ")[0])
    return lo, hi


def _expected(model, kind, sql):
    rows = model.rows
    if kind == "asof":
        rows = model.history[int(sql.split("VERSION AS OF ")[1].split(" ")[0])]
    if kind == "point":
        i = int(sql.split("doc_id = ")[1])
        return sorted([(i,) + rows[i]] if i in rows else [])
    lo, hi = _between(sql)
    lang = sql.split("lang = '")[1].split("'")[0] if "lang = '" in sql else None
    return sorted((i,) + v for i, v in rows.items()
                  if lo <= i < hi and (lang is None or v[0] == lang))


def _apply(model, kind, sql):
    if kind == "insert":
        for i, lang, n in _parse_values(sql):
            model.rows[i] = (lang, n)
    elif kind == "merge":
        for i, lang, n in _parse_values(sql):
            model.rows[i] = (model.rows[i][0], n) if i in model.rows else (lang, n)
    elif kind == "delete":
        lo, hi = _between(sql)
        for i in [i for i in model.rows if lo <= i < hi]:
            del model.rows[i]
    if kind in ("insert", "merge", "delete", "compact"):
        model.commit()


def lakehouse(input_dir, work, ops):
    """Replays the executed statements in the model; every read and the
    final read-back of each table from its path must match it."""
    stmts = [line.rstrip("\n").split("\t") for line in open(os.path.join(input_dir, "statements.tsv"))]
    reads = {}
    for line in open(os.path.join(work, "reads.jsonl")):
        if line.strip():
            r = json.loads(line)
            reads[r["i"]] = sorted(tuple(x) for x in r["rows"])
    wrong = {}
    # a read sees the state after every statement before its own
    model = _Model()
    _apply(model, "insert", stmts[0][1])
    applied = 0
    for o in ops:
        k = int(o["name"].split("#")[1])
        while applied < k - 1:
            applied += 1
            _apply(model, stmts[applied][0], stmts[applied][1])
        if o["kind"] == "read" and o["ok"]:
            want = _expected(model, stmts[k][0], stmts[k][1])
            if reads.get(o["i"]) != want:
                wrong[o["i"]] = f"{o['name']}: {len(reads.get(o['i'], []))} rows vs model {len(want)}"
    readback, user_bytes = {}, 0
    for flavor in ("digest", "evolve"):
        # each flavor ran a prefix of the stream; the deadline may cut
        # between the two flavors' runs of one statement
        last = max((int(o["name"].split("#")[1]) for o in ops
                    if o["name"].startswith(flavor + ".")), default=0)
        m = _Model()
        for s in stmts[:last + 1]:
            _apply(m, s[0], s[1])
        final = sorted((i,) + v for i, v in m.rows.items())
        got = sorted(tuple(x) for x in json.load(open(os.path.join(work, f"final_{flavor}.json"))))
        readback[flavor] = got == final
        inserted = [r for s in stmts[:last + 1] if s[0] == "insert" for r in _parse_values(s[1])]
        inserted += [_parse_values(s[1])[-1] for s in stmts[:last + 1] if s[0] == "merge"]
        user_bytes += sum(16 + len(lang) for _, lang, _ in inserted)
    return wrong, {"readback_ok": readback, "user_bytes": user_bytes}
