"""End-to-end and per-layer metrics from what the JVM recorded.

Every workload reports every metric (the benchmark's output contract).
A per-layer metric of a layer that does no work on a workload reads 0:
that is the "flat on" half of the layer map in ``LAYERS.json``.
"""
import json

from . import stats

EXEC_KEYS = ["jobs", "stages", "tasks", "one_task_stages", "driver_gap_ms", "task_run_ms",
             "task_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "core_idle_share"]
STREAM_KEYS = ["batches", "rows_per_batch_p50", "trigger_ms_p50", "trigger_ms_tail",
               "add_batch_ms", "query_planning_ms", "wal_commit_ms", "latest_offset_ms",
               "get_batch_ms", "state_rows_total", "state_memory_bytes", "state_commit_ms",
               "dup_rows_dropped", "lag_files_max"]
SELF_LAYERS = ["config", "runtime", "sources", "streaming", "operators"]


def per_layer_names(queries):
    names = ["config.compile_ms", "runtime.run_ms", "exec.plan_ms",
             "transforms.ms", "sources.scan_ms", "sources.write_ms", "sources.output_bytes"]
    names += [f"streaming.{k}" for k in STREAM_KEYS]
    names += [f"operators.{q}.wall_ms" for q in queries]
    names += [f"exec.{k}" for k in EXEC_KEYS]
    names += [f"exec.{q}.{k}" for q in queries for k in EXEC_KEYS]
    names += [f"{layer}.self_ms" for layer in SELF_LAYERS]
    names += ["exec.job_self_ms", "exec.local1_rows_per_s", "exec.parallel_speedup",
              "bench.generator_late_ms_max", "bench.tracing_overhead_pct"]
    return names


def unit_of(name):
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("share", "speedup")):
        return "1"
    if "_ms" in name or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("rows_per_s"):
        return "rows/s"
    return "count"


# ---------------------------------------------------------------- stream

def stream_view(raw_phase):
    """Everything the stream metrics need from one measured stream phase."""
    log = stats.read_source_log(raw_phase["checkpoint"])
    events = [json.loads(p["json"]) for p in raw_phase["progress"]]
    batches = stats.micro_batches(events, log)
    commits = stats.file_commits(batches)
    landings = raw_phase["landings"]
    steady = [ld for ld in landings if ld["phase"] == "steady"]
    backlog = {ld["file"] for ld in landings if ld["phase"] == "backlog"}
    lat, missing = stats.latencies(steady, commits)
    catchup = [b for b in batches if b["files"] and set(b["files"]) <= backlog]
    # drain rate without the first batch, which also pays query start-up:
    # the median over the batches of rows per second of trigger time
    drain = catchup[1:] or catchup
    rates = [b["rows"] / b["event"]["durationMs"]["triggerExecution"] * 1000.0
             for b in drain if b["event"]["durationMs"]["triggerExecution"] > 0]
    steady_batches = [b for b in batches if b["start_ms"] >= raw_phase["steady_start_ms"]]
    t_to = max((ld["due_ms"] for ld in steady), default=raw_phase["steady_start_ms"])
    return {
        "batches": batches, "steady_batches": steady_batches, "latencies": lat,
        "missing": missing + [ld["file"] for ld in landings
                              if ld["phase"] == "backlog" and ld["file"] not in commits],
        "catchup": catchup,
        "drain_rows_per_s": stats.median(rates),
        "late_ms": max((ld["landed_ms"] - ld["due_ms"] for ld in steady), default=0.0),
        "lag_max": stats.max_lag(landings, commits, raw_phase["steady_start_ms"], t_to),
        "landed": len(landings),
    }


def stream_layers(view):
    bs = view["steady_batches"] or view["batches"]
    ev = [b["event"] for b in bs]
    trig = [e["durationMs"]["triggerExecution"] for e in ev]
    # the highest percentile with ten batches beyond it, else the median
    tail_pct = stats.highest_percentile(len(trig)) or 50
    ops = [e["stateOperators"][0] for e in ev if e.get("stateOperators")]
    all_ops = [b["event"]["stateOperators"][0] for b in view["batches"]
               if b["event"].get("stateOperators")]

    def dur(key):
        return stats.median([e["durationMs"].get(key, 0) for e in ev])

    return {
        "batches": len(view["batches"]),
        "rows_per_batch_p50": stats.median([e["numInputRows"] for e in ev]),
        "trigger_ms_p50": stats.median(trig),
        "trigger_ms_tail": stats.percentile(trig, tail_pct) if trig else 0.0,
        "add_batch_ms": dur("addBatch"),
        "query_planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit"),
        "latest_offset_ms": dur("latestOffset"),
        "get_batch_ms": dur("getBatch"),
        "state_rows_total": all_ops[-1]["numRowsTotal"] if all_ops else 0,
        "state_memory_bytes": max((o["memoryUsedBytes"] for o in all_ops), default=0),
        "state_commit_ms": stats.median([o["commitTimeMs"] for o in ops]),
        "dup_rows_dropped": sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                                for o in all_ops),
        "lag_files_max": view["lag_max"],
    }


# ---------------------------------------------------------------- spans

class Spans:
    """Index over the span file: spans, jobs, stages and planning phases."""

    def __init__(self, dump):
        self.spans = dump["spans"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_by_group = {}
        self.jobs_by_batch = {}
        for j in dump["jobs"]:
            if j.get("group"):
                self.jobs_by_group.setdefault(j["group"], []).append(j)
            if j.get("batch") is not None:
                self.jobs_by_batch.setdefault(int(j["batch"]), []).append(j)
        self.stages_by_job = {}
        for st in dump["stages"]:
            self.stages_by_job.setdefault(st["job"], []).append(st)
        self.plans = dump["plans"]

    def jobs_of(self, span):
        """Jobs started under ``span`` or any span below it."""
        out = list(self.jobs_by_group.get(f"span-{span['id']}", []))
        for c in self.children.get(span["id"], []):
            out += self.jobs_of(c)
        return out

    def units(self, prefix):
        return [s for s in self.spans if s["kind"] == "unit" and s["name"].startswith(prefix)]

    def calls(self, unit, prefix=""):
        return [c for c in self.children.get(unit["id"], [])
                if c["kind"] == "call" and c["name"].startswith(prefix)]

    def plan_ms(self, start, end):
        return sum(p["plan_ms"] for p in self.plans if start <= p["start"] <= end)

    def self_ms(self, span):
        own = stats.clip([(j["start"], j["end"]) for j in self.jobs_of(span)],
                         span["start"], span["end"])
        return span["end"] - span["start"] - stats.union_ms(own)


def exec_counts(jobs, stages_by_job, start, end, cores):
    """Scheduler-level counts of one unit: its jobs, their stages, tasks."""
    stages = [st for j in jobs for st in stages_by_job.get(j["job"], [])]
    wall = max(end - start, 1e-9)
    busy = stats.union_ms(stats.clip([(j["start"], j["end"]) for j in jobs], start, end))
    run_ms = sum(st["task_run_ms"] for st in stages)
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": sum(st["tasks"] for st in stages),
        "one_task_stages": sum(1 for st in stages if st["tasks"] == 1),
        "driver_gap_ms": wall - busy, "task_run_ms": run_ms,
        "task_cpu_ms": sum(st["task_cpu_ms"] for st in stages),
        "gc_ms": sum(st["gc_ms"] for st in stages),
        "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
        "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "spill_bytes": sum(st["spill_bytes"] for st in stages),
        "core_idle_share": max(0.0, 1.0 - run_ms / (cores * wall)),
        "output_bytes": sum(st["output_bytes"] for st in stages),
    }


def median_dict(dicts, keys):
    return {k: stats.median([d[k] for d in dicts]) for k in keys}


def job_self_ms(sp, jobs):
    return sum(j["end"] - j["start"] - stats.union_ms(stats.clip(
        [(st["start"], st["end"]) for st in sp.stages_by_job.get(j["job"], [])],
        j["start"], j["end"])) for j in jobs)
