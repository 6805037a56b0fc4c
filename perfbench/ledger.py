"""Per-layer ledger of a traced run.

A span is one call into an engine module's public function; a Spark job
belongs to the span whose id it carried. A span's counters are inclusive:
they cover the jobs of the span and of every span nested in it.
"""
from collections import defaultdict

import stats

SPANS = ["tables.append", "tables.snapshot_cold", "tables.merge", "tables.delete",
         "tables.lookup", "tables.optimize", "tables.range_read",
         "streaming.batch", "streaming.expectations",
         "text.dedup_probe", "text.index_append", "queries.plan", "queries.exec"]

# job field -> counter name
JOB_COUNTERS = {"run_ms": "task_run_ms", "cpu_ms": "executor_cpu_ms",
                "input_bytes": "input_bytes", "shuffle_read_bytes": "shuffle_read_bytes",
                "shuffle_write_bytes": "shuffle_write_bytes", "gc_ms": "gc_ms",
                "deser_ms": "executor_deser_ms"}

# counters summed over the traced section and reported per op
PER_OP = {("tables.log", "commits"), ("tables.log", "checkpoints")}

PROGRESS = ["latestOffset", "queryPlanning", "walCommit", "commitOffsets"]


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _traced(raw: dict):
    ops = [o for o in raw["ops"] if o["phase"] == "traced"]
    return ops, {o["i"] for o in ops}


def span_table(raw: dict) -> list:
    """Every traced span: name, start, end, parent, op id and self time."""
    spans = raw["spans"]
    child_ms = defaultdict(float)
    for s in spans:
        child_ms[s["parent"]] += s["end_ms"] - s["start_ms"]
    return [{"id": s["id"], "name": s["name"], "parent": s["parent"], "op": s["op"],
             "start_ms": s["start_ms"], "end_ms": s["end_ms"],
             "self_ms": s["end_ms"] - s["start_ms"] - child_ms[s["id"]]} for s in spans]


def reduce(raw: dict) -> dict:
    """Flat `<span>.<counter>` -> value map for the traced section."""
    ops, traced_ops = _traced(raw)
    n_ops = max(1, len(ops))
    spans = [s for s in span_table(raw) if s["op"] in traced_ops]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    jobs_of = defaultdict(list)
    for j in raw["jobs"]:
        jobs_of[j["span"]].append(j)

    def inclusive(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.extend(jobs_of[x])
            todo.extend(children[x])
        return out

    out = {}
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    for name in SPANS:
        inst = by_name.get(name, [])
        rows = []
        for s in inst:
            js = inclusive(s["id"])
            wall = s["end_ms"] - s["start_ms"]
            r = {"wall_ms": wall, "self_ms": s["self_ms"], "jobs": len(js),
                 "driver_gap_ms": wall - covered_ms(
                     [(j["start_ms"], j["end_ms"]) for j in js], s["start_ms"], s["end_ms"])}
            for field, counter in JOB_COUNTERS.items():
                r[counter] = sum(j[field] for j in js)
            rows.append(r)
        keys = ["wall_ms", "self_ms", "jobs", "driver_gap_ms"] + list(JOB_COUNTERS.values())
        for k in keys:
            xs = [r[k] for r in rows]
            if not xs:
                v = 0.0
            elif k == "wall_ms":
                v = stats.median(xs)
            else:
                v = sum(xs) / len(xs)
            out[f"{name}.{k}"] = v
        out[f"{name}.calls"] = len(inst) / n_ops

    counters = defaultdict(list)
    for c in raw["counters"]:
        if c["op"] in traced_ops:
            counters[(c["span"], c["key"])].append(c["value"])
    for (span, key), xs in counters.items():
        out[f"{span}.{key}"] = sum(xs) / (n_ops if (span, key) in PER_OP else len(xs))
    for span, key in PER_OP:
        out.setdefault(f"{span}.{key}", 0.0)

    prog = [p for p in raw["progress"] if p["op"] in traced_ops]
    for k in PROGRESS:
        xs = [p["duration_ms"].get(k, 0) for p in prog]
        out[f"streaming.{k}_ms"] = stats.median(xs) if xs else 0.0
    over = [p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
            for p in prog]
    out["streaming.overhead_ms"] = stats.median(over) if over else 0.0
    out["streaming.jobs_per_batch"] = out["streaming.batch.jobs"]
    out["streaming.executor_deser_ms"] = out["streaming.batch.executor_deser_ms"]

    # the listener only runs during the traced section
    out["unattributed_jobs"] = float(sum(1 for j in raw["jobs"] if j["span"] == 0))
    untraced, traced = raw["sections"][0], raw["sections"][-1]
    ups = untraced["n_ops"] / (untraced["elapsed_ms"] / 1000.0)
    tps = traced["n_ops"] / (traced["elapsed_ms"] / 1000.0)
    out["trace.ops_per_s_untraced"] = ups
    out["trace.ops_per_s_traced"] = tps
    out["trace.overhead_ops_per_s"] = ups - tps
    return out
