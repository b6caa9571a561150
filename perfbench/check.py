"""Correctness checks for one benchmark run (untimed, after the JVM exits).

- Batch workloads: every step result of every pass is compared with DuckDB
  running the step's `SparkEntry.oracleSql` text over the same generated
  inputs: same column names, same declared types, same multiset of rows
  (columns sorted by name, rows sorted, floats by repr). The oracle's
  canonical form is cached per (input digest, SQL text).
- lakehouse_mix: the executed prefix of the plan is replayed against a
  last-op-wins model of the op stream; every read's digest and the final
  table must match the model.

Each check returns (attempted, failures) where failures is a list of
human-readable strings.
"""
import hashlib
import json
import math
import os

import duckdb

import inputs


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _canon(cur):
    """Canonical (columns, types, rows, digest) of a DuckDB result."""
    cols = [d[0] for d in cur.description]
    types = {d[0]: str(d[1]) for d in cur.description}
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_norm(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"cols": sorted(cols), "types": types, "rows": len(rows), "digest": h.hexdigest()}


def _input_views(indir):
    con = duckdb.connect()
    for name in sorted(os.listdir(indir)):
        if name.endswith(".parquet"):
            path = f"{indir}/{name}" + ("/*.parquet" if os.path.isdir(f"{indir}/{name}") else "")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    return con


def check_batch(indir, rundir, result, cache_dir):
    with open(f"{rundir}/oracle.json") as f:
        oracle = json.load(f)
    con = _input_views(indir)
    digest = inputs.input_digest(indir)
    os.makedirs(cache_dir, exist_ok=True)
    expected = {}
    for step, sql in oracle.items():
        key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()[:24]
        path = f"{cache_dir}/{key}.json"
        if os.path.exists(path):
            with open(path) as f:
                expected[step] = json.load(f)
            continue
        try:
            expected[step] = _canon(con.execute(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            expected[step] = {"error": f"oracle: {e}"}
            continue
        with open(path + ".tmp", "w") as f:
            json.dump(expected[step], f)
        os.replace(path + ".tmp", path)

    attempted, failures = 0, []
    for p in result["passes"]:
        for step in p["steps_s"]:
            attempted += 1
            where = f"pass {p['iter']} {step}"
            if step in p["errors"]:
                failures.append(f"{where}: {p['errors'][step]}")
                continue
            try:
                got = _canon(con.execute(f"SELECT * FROM '{rundir}/out/p{p['iter']}/{step}/*.parquet'"))
            except Exception as e:
                failures.append(f"{where}: output unreadable: {e}")
                continue
            want = expected.get(step)
            if want is None:
                if got["rows"] == 0:
                    failures.append(f"{where}: empty result and no oracle")
            elif "error" in want:
                failures.append(f"{where}: {want['error']}")
            elif got != want:
                diff = [k for k in ("cols", "types", "rows", "digest") if got[k] != want[k]]
                failures.append(f"{where}: differs from oracle in {', '.join(diff)}")
    return attempted, failures


def _digest(rows):
    lines = "\n".join(f"{k}|{c}|{s}|{p}|{v}" for k, (c, s, p, v) in sorted(rows))
    return hashlib.md5(lines.encode()).hexdigest()


def _select(model, pred):
    """Evaluate the plan's two predicate shapes against the model."""
    parts = pred.split()
    if parts[1] == "=":
        k = int(parts[2])
        return [(k, model[k])] if k in model else []
    lo, hi = int(parts[2]), int(parts[4])
    return [(k, model[k]) for k in range(lo, hi + 1) if k in model]


def check_lakehouse(indir, rundir, result):
    con = duckdb.connect()
    model = {r[0]: tuple(r[1:]) for r in con.execute(
        f"SELECT k, cust, status, price_cents, ver FROM '{indir}/base.parquet'").fetchall()}
    with open(f"{indir}/plan.tsv") as f:
        plan = [line.rstrip("\n").split("\t", 1) for line in f]
    attempted, failures = 0, []
    for o in result["ops"]:
        attempted += 1
        kind, arg = plan[o["line"]]
        where = f"line {o['line']} {kind} {arg}"
        if kind == "W":
            for k, cust, status, price, ver, op in con.execute(
                    f"SELECT k, cust, status, price_cents, ver, op FROM '{indir}/batches/{arg}'").fetchall():
                if op == "delete":
                    model.pop(k, None)
                else:
                    model[k] = (cust, status, price, ver)
        if "error" in o:
            failures.append(f"{where}: {o['error']}")
        elif kind == "R":
            want = _select(model, arg)
            if o["rows"] != len(want) or o["digest"] != _digest(want):
                failures.append(f"{where}: read {o['rows']} rows, model has {len(want)}")
    attempted += 1
    try:
        final = con.execute(f"SELECT k, cust, status, price_cents, ver FROM '{rundir}/final/*.parquet'").fetchall()
        got = {r[0]: tuple(r[1:]) for r in final}
        if len(final) != len(got) or got != model:
            failures.append(f"final table: {len(final)} rows, model has {len(model)}")
    except Exception as e:
        failures.append(f"final table unreadable: {e}")
    return attempted, failures
