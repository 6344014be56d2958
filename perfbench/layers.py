#!/usr/bin/env python3
"""Per-layer split of a traced benchmark run.

A traced run writes its spans (operation -> trigger phase -> Spark SQL
execution -> job -> stage) to `.bench_build/traces/`. This module turns
them into per-layer self times and counts; `run.py` uses it for the
`--trace 1` metrics, and run as a script it prints the full split:

    python3 perfbench/layers.py .bench_build/traces/<run>.json

A layer's self time is its span's duration minus the part of that
interval its child spans cover. Tracing overhead is the traced run's
end-to-end figures minus the untraced medians in `perfbench/baseline.json`.
"""
import json
import os
import statistics
import sys

SLOTS = 4  # local[4]

# Units of the per-layer metrics every workload reports (`generic`).
UNITS = {
    "driver_ms": "ms", "write_ms": "ms", "writes": "count",
    "action_ms": "ms", "actions": "count", "jobs": "count",
    "tasks": "count", "task_cpu_ms": "ms", "shuffle_write_bytes": "bytes",
    "input_rows": "rows", "output_rows": "rows", "slot_busy_ratio": "ratio",
    "max_task_rows": "rows", "peak_task_mem_mb": "MB"}


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Trace:
    """Spans of one traced run, indexed by parent."""

    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def spans_of_kind(self, kind):
        return [s for s in self.spans if s["kind"] == kind]

    def kids(self, span, kind=None):
        return [c for c in self.children.get(span["id"], [])
                if kind is None or c["kind"] == kind]

    def descendants(self, span, kind):
        out, todo = [], [span]
        while todo:
            for c in self.children.get(todo.pop()["id"], []):
                if c["kind"] == kind:
                    out.append(c)
                todo.append(c)
        return out

    def label(self, span):
        """What a span did: its own name, or for a stage (named by
        Spark after the submitting thread) and an unnamed job, the name
        of the nearest SQL execution or job above it."""
        s = span
        while s["kind"] == "stage" or (s["kind"] == "job" and not s["name"]):
            s = self.by_id[s["parent"]]
        return s["name"] if s["parent"] != -1 else s["kind"]

    def self_ms(self, span):
        kids = self.children.get(span["id"], [])
        return (span["end_ms"] - span["start_ms"]) - union_ms(
            [(max(k["start_ms"], span["start_ms"]),
              min(k["end_ms"], span["end_ms"])) for k in kids
             if k["end_ms"] > k["start_ms"]])

    def top_actions(self, op):
        """The Spark actions an operation ran: its SQL executions, plus
        jobs run outside any SQL execution. An execution that only
        wraps others (a micro-batch's `foreachBatch`) is replaced by the
        executions it wraps; its own time counts as driver time.
        """
        out = []
        todo = [op]
        while todo:
            for c in self.children.get(todo.pop()["id"], []):
                if c["kind"] == "phase" or (
                        c["kind"] == "sql" and self.kids(c, "sql")):
                    todo.append(c)
                elif c["kind"] in ("sql", "job"):
                    out.append(c)
        return out


def dur(s):
    return s["end_ms"] - s["start_ms"]


def stage_sum(trace, op, key):
    return sum(st["attrs"].get(key, 0) for st in trace.descendants(op, "stage"))


def stage_max(trace, ops, key):
    return max([st["attrs"].get(key, 0) for op in ops
                for st in trace.descendants(op, "stage")] or [0])


def generic(trace, ops):
    """The per-layer metrics every workload reports, per operation (a
    steady micro-batch or a registry query)."""
    n = len(ops)
    rows = {k: 0.0 for k in ("driver_ms", "write_ms", "writes", "action_ms",
                             "actions", "jobs", "tasks", "task_cpu_ms",
                             "shuffle_write_bytes", "input_rows",
                             "output_rows")}
    run_ms = wall_ms = 0.0
    for op in ops:
        acts = trace.top_actions(op)
        clip = [(max(a["start_ms"], op["start_ms"]),
                 min(a["end_ms"], op["end_ms"])) for a in acts]
        writes = [c for a, c in zip(acts, clip) if a["name"].startswith("write.")]
        others = [c for a, c in zip(acts, clip)
                  if not a["name"].startswith("write.")]
        rows["driver_ms"] += dur(op) - union_ms(clip)
        rows["write_ms"] += union_ms(writes)
        rows["writes"] += len(writes)
        rows["action_ms"] += union_ms(others)
        rows["actions"] += len(others)
        rows["jobs"] += len(trace.descendants(op, "job"))
        rows["tasks"] += stage_sum(trace, op, "tasks")
        rows["task_cpu_ms"] += stage_sum(trace, op, "cpu_ms")
        rows["shuffle_write_bytes"] += stage_sum(trace, op, "shuffle_write_bytes")
        rows["input_rows"] += stage_sum(trace, op, "input_rows")
        rows["output_rows"] += stage_sum(trace, op, "output_rows")
        run_ms += stage_sum(trace, op, "run_ms")
        wall_ms += dur(op)
    out = {k: v / n for k, v in rows.items()}
    out["slot_busy_ratio"] = run_ms / (wall_ms * SLOTS) if wall_ms else 0.0
    out["max_task_rows"] = stage_max(trace, ops, "max_task_rows")
    out["peak_task_mem_mb"] = stage_max(trace, ops, "peak_task_mem_bytes") / 2**20
    return out


# Named actions of a micro-batch, by the layer they belong to.
PIPE_ACTIONS = {"sink.prepare_ms": "action.collect",
                "sink.write_ms": "write.fact_report",
                "dlq.probe_ms": "action.isEmpty",
                "dlq.write_ms": "write.dead_letter"}


def pipe_layers(trace, ops, record):
    """The pipe's named layers, per steady micro-batch (means), and how
    much of a batch they explain (medians of per-batch shares).

    Inside `addBatch` the named actions are timed as spans; what is left
    of `addBatch` is split into `sink.other_actions_ms` (actions that are
    not named) and `sink.residual_ms`, the driver time in `foreachBatch`
    between actions, which no span explains.
    """
    acc, named_share, residual_share = {}, [], []

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    starts = sorted(trace.spans_of_kind("batch"), key=lambda s: s["start_ms"])
    nxt = {a["id"]: b for a, b in zip(starts, starts[1:])}
    for op in ops:
        ph = {p["name"]: p for p in trace.kids(op, "phase")}
        pd = {k: dur(v) for k, v in ph.items()}
        row = {"stream.source_ms": pd.get("latestOffset", 0) + pd.get("getBatch", 0),
               "stream.plan_ms": pd.get("queryPlanning", 0),
               "stream.commit_ms": pd.get("walCommit", 0) + pd.get("commitOffsets", 0),
               "stream.add_batch_ms": pd.get("addBatch", 0),
               "stream.other_ms": dur(op) - sum(pd.values())}
        acts = trace.top_actions(op)
        for k, name in PIPE_ACTIONS.items():
            row[k] = sum(dur(a) for a in acts if a["name"] == name)
        named = [a for a in acts if a["name"] in PIPE_ACTIONS.values()]
        rest = [a for a in acts if a["name"] not in PIPE_ACTIONS.values()]
        row["sink.other_actions_ms"] = union_ms(
            [(a["start_ms"], a["end_ms"]) for a in acts]) - union_ms(
            [(a["start_ms"], a["end_ms"]) for a in named])
        row["sink.residual_ms"] = row["stream.add_batch_ms"] - union_ms(
            [(a["start_ms"], a["end_ms"]) for a in acts])
        explained = (row["stream.source_ms"] + row["stream.plan_ms"]
                     + row["stream.commit_ms"] + sum(row[k] for k in PIPE_ACTIONS))
        named_share.append(explained / dur(op))
        residual_share.append(row["sink.residual_ms"] / dur(op))
        for k, v in row.items():
            add(k, v)
        if op["id"] in nxt:
            add("stream.gap_ms", nxt[op["id"]]["start_ms"] - op["end_ms"])
        fact = [a for a in named if a["name"] == "write.fact_report"]
        dead = [a for a in named if a["name"] == "write.dead_letter"]
        written = sum(stage_sum(trace, a, "output_rows") for a in fact)
        dl = sum(stage_sum(trace, a, "output_rows") for a in dead)
        rows_in = op["attrs"].get("rows", 0) - dl
        add("sink.rows_in", rows_in)
        add("sink.rows_read", sum(stage_sum(trace, a, "input_rows") for a in fact))
        add("sink.rows_written", written)
        add("sink.dups_dropped", rows_in - written)
        add("sink.other_actions", len(rest))
        add("dlq.rows", dl)
        add("spark.jobs_per_batch", len(trace.descendants(op, "job")))
        add("spark.tasks_per_batch", stage_sum(trace, op, "tasks"))
        add("spark.task_cpu_ms_per_batch", stage_sum(trace, op, "cpu_ms"))
        add("spark.shuffle_bytes_per_batch",
            stage_sum(trace, op, "shuffle_write_bytes"))
    n = len(ops)
    out = {k: v / n for k, v in acc.items()}
    if "stream.gap_ms" in acc:
        out["stream.gap_ms"] = acc["stream.gap_ms"] / max(1, n - 1)
    out["sink.useful_ratio"] = (acc["sink.rows_written"] / acc["sink.rows_in"]
                                if acc.get("sink.rows_in") else 0.0)
    out["batch.mean_ms"] = sum(map(dur, ops)) / n
    out["batch.named_share"] = statistics.median(named_share)
    out["batch.residual_share"] = statistics.median(residual_share)
    return out


def registry_layers(trace, ops, record):
    """The registry's named layers: per operator module, the artifact
    store, and the scheduler."""
    out = {}
    info = {q["name"]: q for q in record["queries"]}
    for op in ops:
        q = info[op["trace"]]
        m = q["module"]
        out[f"{m}.s"] = out.get(f"{m}.s", 0.0) + q["seconds"]
        out[f"{m}.build_s"] = out.get(f"{m}.build_s", 0.0) + q["build_s"]
        out[f"{m}.jobs"] = out.get(f"{m}.jobs", 0) + len(
            trace.descendants(op, "job"))
    out["artifact.build_s"] = sum(q["build_s"] for q in record["queries"])
    out["artifact.builds"] = sum(q["builds"] for q in record["queries"])
    wall = sum(dur(op) for op in ops) / 1000.0
    out["spark.tasks"] = sum(stage_sum(trace, op, "tasks") for op in ops)
    out["spark.task_cpu_s"] = sum(stage_sum(trace, op, "cpu_ms") for op in ops) / 1000
    out["spark.slot_busy_ratio"] = (sum(stage_sum(trace, op, "run_ms") for op in ops)
                                    / 1000 / (wall * SLOTS)) if wall else 0.0
    out["spark.shuffle_write_bytes"] = sum(
        stage_sum(trace, op, "shuffle_write_bytes") for op in ops)
    out["spark.spill_bytes"] = sum(stage_sum(trace, op, "spill_bytes") for op in ops)
    out["spark.peak_task_mem_mb"] = stage_max(trace, ops, "peak_task_mem_bytes") / 2**20
    out["spark.max_task_rows"] = stage_max(trace, ops, "max_task_rows")
    return out


def steady_ops(trace, record):
    """Operations the end-to-end metrics cover: steady micro-batches, or
    every registry query."""
    if "batches" in record:
        rows = {str(b["batch"]): b["rows"] for b in record["batches"]}
        ops = sorted(trace.spans_of_kind("batch"), key=lambda s: s["start_ms"])
        ops = ops[record["warm_batches"]:]
        for op in ops:
            op["attrs"]["rows"] = rows.get(op["trace"], 0)
        return ops
    return sorted(trace.spans_of_kind("query"), key=lambda s: s["start_ms"])


def split(record):
    """(generic per-layer metrics, named per-layer metrics) of a traced
    run record."""
    trace = Trace(record["spans"])
    ops = steady_ops(trace, record)
    named = (pipe_layers if "batches" in record else registry_layers)(
        trace, ops, record)
    return generic(trace, ops), named


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    record = json.load(open(argv[1]))
    gen, named = split(record)
    wl = record["workload"]
    print(f"workload {wl}, seed {record['seed']}")
    print("per operation (generic layers):")
    for k, v in sorted(gen.items()):
        print(f"  {k:28s} {v:14.3f}")
    print("self time per operation, by span (kind, name):")
    trace = Trace(record["spans"])
    ops = steady_ops(trace, record)
    self_t = {}
    for op in ops:
        todo = [op]
        while todo:
            s = todo.pop()
            key = (s["kind"], trace.label(s))
            self_t[key] = self_t.get(key, 0.0) + trace.self_ms(s)
            todo.extend(trace.children.get(s["id"], []))
    for (kind, name), v in sorted(self_t.items(), key=lambda kv: -kv[1])[:25]:
        print(f"  {kind:6s} {name[:60]:60s} {v / len(ops):10.1f} ms")
    print("named layers:")
    for k, v in sorted(named.items()):
        print(f"  {k:34s} {v:14.3f}")
    if "batches" in record:
        print(f"median per-batch share of the batch explained by the trigger "
              f"phases (source, plan, commit) and the named sink and "
              f"dead-letter actions: {named['batch.named_share']:.1%}; "
              f"left as foreachBatch driver residual: "
              f"{named['batch.residual_share']:.1%}")
    else:
        mods = sum(v for k, v in named.items() if k.endswith(".s"))
        print(f"sum of <module>.s: {mods:.3f} s; wall_s "
              f"{sum(q['seconds'] for q in record['queries']):.3f} s")
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "baseline.json")
    e2e = record.get("end_to_end", {})
    if os.path.exists(base) and e2e:
        ref = json.load(open(base)).get("workloads", {}).get(wl, {})
        print("tracing overhead (traced run minus untraced median):")
        for k, v in sorted(e2e.items()):
            m = ref.get(k, {}).get("median")
            if m:
                print(f"  {k:16s} {v - m:+12.4f} ({(v - m) / m:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
