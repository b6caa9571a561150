"""Per-layer numbers from a traced run.

The harness records spans (workload pass or round -> step or op) with wall
clock stamps, and, while tracing, every Spark job (with its task metrics) and
every QueryExecution (Catalyst phase times, physical operator count, scan-node
file metrics). A job carries the span id as a job tag when the client thread
started it; a job started on the stream thread is attributed to the op span
whose time window contains its start, which is exact because there is one
client. Counters are reported per traced pass (curation_batch,
corpus_curation) or per traced round (lakehouse_mix); the table layout is
sampled before each traced read.
"""
import bisect
import statistics

def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Index:
    """Leaf spans sorted by start, for time-window attribution."""

    def __init__(self, leaves):
        self.leaves = sorted(leaves, key=lambda s: s["start_ms"])
        self.starts = [s["start_ms"] for s in self.leaves]
        self.by_id = {s["id"]: s for s in self.leaves}

    def find(self, t, span_id=-1):
        if span_id in self.by_id:
            return self.by_id[span_id]
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and self.leaves[i]["start_ms"] <= t <= self.leaves[i]["end_ms"]:
            return self.leaves[i]
        return None


def analyse(workload, result, step_spans):
    """Return (metrics, self_time_rows, trace_doc) for the traced phase."""
    spans = result["spans"]
    trace = result["trace"]
    units = result.get("passes") or result["rounds"]
    traced = {u["iter"] for u in units if u["phase"] == "traced"}
    roots = [s for s in spans if s["parent"] < 0 and s["iter"] in traced]
    root_ids = {s["id"] for s in roots}
    leaves = [s for s in spans if s["parent"] in root_ids]
    n = max(len(roots), 1)
    idx = _Index(leaves)

    per_leaf = {s["id"]: [] for s in leaves}
    for j in trace["jobs"]:
        leaf = idx.find(j["start_ms"], j["span"])
        if leaf is not None:
            per_leaf[leaf["id"]].append(j)
    queries = [q for q in trace["queries"] if idx.find(q["start_ms"]) is not None]

    m = {}
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = sum(q[f"{p}_ms"] for q in queries) / n
    m["catalyst.physical_ops"] = sum(q["physical_ops"] for q in queries) / n
    jobs = [j for js in per_leaf.values() for j in js]
    m["driver.jobs"] = len(jobs) / n
    m["driver.stages"] = sum(j["stages"] for j in jobs) / n
    gaps = {s["id"]: (s["end_ms"] - s["start_ms"])
            - _union_ms([(j["start_ms"], j["end_ms"]) for j in per_leaf[s["id"]]],
                        s["start_ms"], s["end_ms"]) for s in leaves}
    m["driver.gap_ms"] = sum(gaps.values()) / n
    writes = [s for s in leaves if s["layer"] == "cdc"]
    m["streaming.batch_jobs"] = sum(len(per_leaf[s["id"]]) for s in writes) / n
    m["streaming.batch_gap_ms"] = sum(gaps[s["id"]] for s in writes) / n
    for k, src in (("exec.tasks", "tasks"), ("exec.task_ms", "task_ms"), ("exec.cpu_ms", "cpu_ms"),
                   ("exec.gc_ms", "gc_ms"), ("shuffle.write_bytes", "shuffle_write_bytes"),
                   ("shuffle.read_bytes", "shuffle_read_bytes"), ("shuffle.spill_bytes", "spill_bytes")):
        m[k] = sum(j[src] for j in jobs) / n
    m["scan.files_read"] = sum(q["files_read"] for q in queries) / n
    m["scan.input_bytes"] = sum(q["files_bytes"] for q in queries) / n

    layouts = result.get("layouts", [])
    for k in ("manifest_bytes", "files_live", "snapshot_chain"):
        m[f"ops.{k}"] = statistics.median(x[k] for x in layouts) if layouts else 0
    m["plans.maintenance_ms"] = sum(s["end_ms"] - s["start_ms"] for s in leaves
                                    if s["layer"] == "maintenance") / n
    passes = [p for p in result.get("passes", []) if p["phase"] == "traced"]
    m["storage.persisted_left"] = sum(sum(p["persisted_left"].values()) for p in passes) / n
    for name in step_spans:
        ds = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in leaves if s["layer"] == name]
        m[name] = statistics.median(ds) if ds else 0

    # self time: a leaf's own time is what its jobs do not cover (planning,
    # driver gaps); a job's own time is its whole duration (tasks are not
    # spans); a pass's own time is the benchmark's drain between steps
    rows = {}

    def add(layer, total, own):
        r = rows.setdefault(layer, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += total
        r[2] += own

    untimed = {u["iter"]: u.get("untimed_ms", 0.0) for u in units}
    for s in roots:
        add(s["layer"], s["end_ms"] - s["start_ms"], (s["end_ms"] - s["start_ms"]) - untimed[s["iter"]]
            - _union_ms([(x["start_ms"], x["end_ms"]) for x in leaves if x["parent"] == s["id"]],
                        s["start_ms"], s["end_ms"]))
    for s in leaves:
        add(s["layer"], s["end_ms"] - s["start_ms"], gaps[s["id"]])
    for j in jobs:
        add("spark.job", j["end_ms"] - j["start_ms"], j["end_ms"] - j["start_ms"])
    table = [(k, v[0], v[1] / n, v[2] / n) for k, v in sorted(rows.items())]

    # one workload span over the traced iterations, above their pass or round
    base = max(s["id"] for s in spans) + 1
    doc_spans = [{"id": base, "name": workload, "layer": "workload", "iter": -1, "parent": -1,
                  "start_ms": min(s["start_ms"] for s in roots), "end_ms": max(s["end_ms"] for s in roots)}]
    doc_spans += [dict(s, parent=base) if s["id"] in root_ids else s
                  for s in spans if s["id"] in root_ids or s["parent"] in root_ids]
    base += 1
    for i, j in enumerate(jobs):
        leaf = idx.find(j["start_ms"], j["span"])
        doc_spans.append({"id": base + i, "name": f"job-{j['id']}", "layer": "spark.job",
                          "iter": leaf["iter"], "parent": leaf["id"], "start_ms": j["start_ms"],
                          "end_ms": j["end_ms"], "counters": {k: j[k] for k in (
                              "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                              "shuffle_read_bytes", "spill_bytes", "input_bytes")}})
    doc = {"workload": workload, "spans": doc_spans, "queries": queries, "metrics": m,
           "self_time_ms_per_iter": [{"layer": k, "spans": c, "total_ms": t, "self_ms": s}
                                     for k, c, t, s in table]}
    return m, table, doc
