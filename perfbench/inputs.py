"""Seeded benchmark inputs, derived from the repository's testdata (run.py's
SOURCE_SF names the scale each workload starts from).

The same (workload, seed) always yields byte-identical files: DuckDB runs on
one thread, every permutation comes from numpy's PCG64 seeded by (seed,
domain), and parquet is written with fixed row-group sizes. Inputs are cached
under `<cache>/<workload>-<generator digest>-s<seed>/`, so a repeated seed costs
nothing and generation never lands inside the program's timed set-up.

- curation_batch: customer, orders and lineitem. The seed drives a bijection
  of every key domain (custkey, orderkey, partkey, suppkey), applied to the
  primary key and every foreign key alike, so fan-out and cardinalities are
  kept exactly, plus a permutation of row order.
- corpus_curation: documents replicated DOC_REPLICAS times by graft.ScaleGen's
  rules (keys shifted by replica * (max + 1); replica text salted every two
  words so cross-replica shingles never match). The seed picks the salt
  tokens and the row order; the rows land in DOC_FILES files. No measured
  step reads embeddings, so none are generated.
- lakehouse_mix: a base table taken from orders in o_orderkey order, a CDC op
  stream (one parquet file per micro-batch, at most one op per key per batch)
  and a plan of point and range reads and maintenance rounds; the seed drives
  the op stream and the reads. Every constant of the stream is derived below
  from the testdata or from the repository's own queries (METRICS.md).
"""
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa

CURATION_TABLES = ("customer", "orders", "lineitem")
DOC_REPLICAS = 2
# documents land in DOC_FILES parquet files, as graft.ScaleGen writes them, so
# the row-level scoring splits across the cores instead of running in one
# task; the relational tables keep the testdata's one file per table (split
# into four files, curation_batch ran 17% slower on four cores)
DOC_FILES = 4

# lakehouse_mix shape. A round is one CDC micro-batch, one read, then the
# maintenance verbs, in the order and with the retention of s48_sql_ddl's SQL
# lifecycle (OPTIMIZE, EXPIRE SNAPSHOTS ... KEEP LAST 2, VACUUM). Maintenance
# runs every round so every round has the same shape: with one maintenance
# round every third write, a 10 s run held 3-5 rounds and their median flipped
# with the count (spread 0.5 of the median over four seeds). The plan holds
# more rounds than a run can execute; the harness stops at its time limit and
# the checker replays exactly the executed prefix.
PLAN_WRITES = 80
KEEP_LAST = 2
# Op shares of a micro-batch: those of w27_stream_cdc / w31_stream_merge's
# two change batches (SparkEntryStream.scala), per key of their key domain.
# Inserts of fresh keys: k%3=1, then k%3=2. Re-upserts of live keys with a
# changed payload: k%3=0 & k%5=0 (the second batch's k%3=1 & k%6=0 is empty).
# Deletes: k%3=0 & k%7=0 & k%5!=0, then k%3=1 & k%4=0 and k%3=0 & k%11=0, the
# last of which hits 4/1155 keys the first batch already deleted.
W27_DEAD_DELETES = 4 / 1155
W27_MIX = {"insert": 2 / 3, "update": 1 / 15,
           "delete": 4 / 105 + 1 / 12 + 1 / 33 - W27_DEAD_DELETES,
           "delete_dead": W27_DEAD_DELETES}
# Point vs range reads: the judged s-family snapshot reads use 6 point
# variants (readPoint, readPointStr, readHiddenPoint*) and 7 range variants
# (readPruned, readPrunedStr, readHiddenRange*).
POINT_READ_SHARE = 6 / 13


def generator_digest():
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _rng(seed, domain):
    tag = int.from_bytes(hashlib.sha256(domain.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order = true")
    return con


def _reg(con, name, cols):
    con.register(name, pa.table(cols))


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 122880)")


def _key_map(con, name, values, seed):
    """Register `<name>_map(old, new)`: a seeded bijection of the key set."""
    old = np.asarray(values, dtype=np.int64)
    new = old[_rng(seed, "keys:" + name).permutation(len(old))]
    _reg(con, f"{name}_map", {"old": old, "new": new})


def _shuffled(con, name, src, seed, select, joins=""):
    """SQL for `src` in a seeded row order; `__pos` is each row's place in it."""
    n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    pos = _rng(seed, "rows:" + name).permutation(n).astype(np.int64)
    _reg(con, f"{name}_ord", {"rn": np.arange(n, dtype=np.int64), "pos": pos})
    return (f"SELECT {select}, o.pos AS __pos FROM "
            f"(SELECT *, row_number() OVER () - 1 AS __rn FROM {src}) s {joins} "
            f"JOIN {name}_ord o ON o.rn = s.__rn")


def _distinct(con, sql):
    return [r[0] for r in con.execute(sql).fetchall()]


def _gen_curation(src, out, seed):
    con = _con()
    for t in CURATION_TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM '{src}/{t}.parquet'")
    domains = {
        "cust": "SELECT c_custkey FROM src_customer UNION SELECT o_custkey FROM src_orders",
        "ord": "SELECT o_orderkey FROM src_orders UNION SELECT l_orderkey FROM src_lineitem",
        "part": "SELECT DISTINCT l_partkey FROM src_lineitem",
        "supp": "SELECT DISTINCT l_suppkey FROM src_lineitem",
    }
    for name, sql in domains.items():
        _key_map(con, name, sorted(_distinct(con, sql)), seed)
    remap = {
        "customer": {"c_custkey": "cust"},
        "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
        "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    }
    for t in CURATION_TABLES:
        joins, sel = [], []
        for (c,) in con.execute(f"SELECT column_name FROM (DESCRIBE src_{t})").fetchall():
            dom = remap[t].get(c)
            if dom:
                joins.append(f"JOIN {dom}_map m_{c} ON m_{c}.old = s.{c}")
                sel.append(f"m_{c}.new AS {c}")
            else:
                sel.append(f"s.{c}")
        sql = _shuffled(con, t, f"src_{t}", seed, ", ".join(sel), " ".join(joins))
        _copy(con, f"SELECT * EXCLUDE (__pos) FROM ({sql}) ORDER BY __pos", f"{out}/{t}.parquet")


def _gen_corpus(src, out, seed):
    con = _con()
    docs = f"'{src}/documents.parquet'"
    rng = _rng(seed, "corpus")
    # one salt token per replica; replica 0 stays verbatim (ScaleGen's rule)
    salts = [""] + [f"r{r}x{int(rng.integers(1 << 16)):04x}" for r in range(1, DOC_REPLICAS)]
    _reg(con, "reps", {"rep": np.arange(DOC_REPLICAS, dtype=np.int64),
                       "salt": np.array(salts, dtype=object)})
    stride = con.execute(f"SELECT max(doc_id) + 1 FROM {docs}").fetchone()[0]
    salted = ("CASE WHEN r.rep = 0 THEN d.text ELSE "
              "regexp_replace(d.text, '(\\S+ \\S+) ', '\\1 ' || r.salt || ' ', 'g') END")
    con.execute(f"CREATE TABLE g_documents AS SELECT d.doc_id + r.rep * {stride} AS doc_id, "
                f"{salted} AS text, d.lang, d.source, CASE WHEN r.rep = 0 THEN d.n_chars "
                f"ELSE CAST(length({salted}) AS BIGINT) END AS n_chars FROM {docs} d, reps r")
    con.execute("CREATE TABLE g_shuffled AS "
                + _shuffled(con, "documents", "g_documents", seed, "s.* EXCLUDE (__rn)"))
    os.makedirs(f"{out}/documents.parquet")
    for i in range(DOC_FILES):
        _copy(con, f"SELECT * EXCLUDE (__pos) FROM g_shuffled WHERE __pos % {DOC_FILES} = {i} "
                   f"ORDER BY __pos", f"{out}/documents.parquet/part-{i}.parquet")


def _gen_lakehouse(src, out, seed):
    con = _con()
    orders = f"'{src}/orders.parquet'"
    # kept in key order, so the table's files cover disjoint key ranges and a
    # min/max prune on k has something to skip
    _copy(con, f"SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_custkey AS BIGINT) AS cust, "
               f"CAST(o_orderstatus AS VARCHAR) AS status, "
               f"CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, CAST(0 AS BIGINT) AS ver "
               f"FROM {orders} ORDER BY o_orderkey", f"{out}/base.parquet")
    keys = [r[0] for r in con.execute(f"SELECT o_orderkey FROM {orders} ORDER BY 1").fetchall()]
    # one micro-batch inserts one day of new orders (the median count per
    # o_orderdate), and a range read spans as many keys
    day = int(con.execute(f"SELECT median(n) FROM (SELECT count(*) AS n FROM {orders} "
                          f"GROUP BY o_orderdate)").fetchone()[0])
    batch_ops = round(day / (W27_MIX["insert"] / sum(W27_MIX.values())))
    shares = np.array(list(W27_MIX.values())) / sum(W27_MIX.values())

    rng = _rng(seed, "lakehouse")
    live, dead = set(keys), []
    live_list = list(keys)
    next_key = keys[-1] + 1
    statuses = ["F", "O", "P"]
    os.makedirs(f"{out}/batches")
    plan = []
    for b in range(PLAN_WRITES):
        n_ins, n_upd, n_del, n_dead = rng.multinomial(batch_ops, shares)
        short = max(0, n_dead - len(dead))  # no dead key yet: delete a live one
        n_dead, n_del = n_dead - short, n_del + short
        used = set()

        def pick(pool, member):
            while True:
                k = pool[int(rng.integers(len(pool)))]
                if k not in used and member(k):
                    used.add(k)
                    return k

        ops = [(next_key + i, "upsert") for i in range(n_ins)]
        next_key += n_ins
        ops += [(pick(live_list, live.__contains__), "upsert") for _ in range(n_upd)]
        ops += [(pick(live_list, live.__contains__), "delete") for _ in range(n_del)]
        ops += [(pick(dead, lambda k: k not in live), "delete") for _ in range(n_dead)]
        ops = [(k, kind, int(rng.integers(15000)), statuses[int(rng.integers(3))],
                int(rng.integers(1, 50_000_000)), b + 1) for k, kind in ops]
        for k, kind, *_ in ops:
            if kind == "delete":
                if k in live:
                    live.discard(k)
                    dead.append(k)
            elif k not in live:
                live_list.append(k)
                live.add(k)
        if len(live_list) > 2 * len(live):
            live_list = list(live)
        cols = list(zip(*ops))
        _reg(con, "batch_src", {
            "k": np.array(cols[0], dtype=np.int64), "cust": np.array(cols[2], dtype=np.int64),
            "status": np.array(cols[3], dtype=object), "price_cents": np.array(cols[4], dtype=np.int64),
            "ver": np.array(cols[5], dtype=np.int64), "op": np.array(cols[1], dtype=object)})
        _copy(con, "SELECT * FROM batch_src", f"{out}/batches/b-{b:05d}.parquet")
        con.unregister("batch_src")
        plan.append(f"W\tb-{b:05d}.parquet")
        if rng.random() < POINT_READ_SHARE:
            plan.append(f"R\tk = {int(rng.integers(next_key))}")
        else:
            lo = int(rng.integers(next_key))
            plan.append(f"R\tk BETWEEN {lo} AND {lo + day - 1}")
        plan.append("M\tOPTIMIZE graft_snap.t")
        plan.append(f"M\tEXPIRE SNAPSHOTS graft_snap.t KEEP LAST {KEEP_LAST}")
        plan.append("M\tVACUUM graft_snap.t")
    with open(f"{out}/plan.tsv", "w") as f:
        f.write("\n".join(plan) + "\n")


GENERATORS = {
    "curation_batch": _gen_curation,
    "corpus_curation": _gen_corpus,
    "lakehouse_mix": _gen_lakehouse,
}


def _census(out):
    """Rows and bytes of every generated input; a directory is one input."""
    con = _con()
    res = {}
    for name in sorted(os.listdir(out)):
        p = f"{out}/{name}"
        key = name.removesuffix(".parquet")
        if os.path.isdir(p):
            files = sorted(os.listdir(p))
            res[key] = {"files": len(files),
                        "rows": con.execute(f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0],
                        "bytes": sum(os.path.getsize(f"{p}/{x}") for x in files)}
        elif name.endswith(".parquet"):
            res[key] = {"rows": con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0],
                        "bytes": os.path.getsize(p)}
        else:
            res[key] = {"bytes": os.path.getsize(p)}
    return res


def build(workload, seed, src, cache_root):
    """Return (input dir, census), generating the inputs on a cache miss."""
    out = os.path.join(cache_root, f"{workload}-{generator_digest()}-s{seed}")
    done = os.path.join(out, "_census.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        GENERATORS[workload](src, tmp, seed)
        census = _census(tmp)
        with open(os.path.join(tmp, "_census.json"), "w") as f:
            json.dump(census, f, sort_keys=True)
        os.rename(tmp, out)
    with open(done) as f:
        return out, json.load(f)


def input_digest(path):
    """sha256 over every generated file, for the oracle cache key."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
