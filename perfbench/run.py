#!/usr/bin/env python3
"""graft's benchmark: run one workload and print one JSON line.

    python3 perfbench/run.py --workload connect_batch --seed 1 --seconds 10 --trace 0

Workloads: connect_batch, connect_stream, curation_tail (see README.md).
The first run builds graft and the benchmark's JVM program with sbt into
``perfbench/target``; later runs start the JVM directly. Inputs are made
from ``--seed``, every output is checked in DuckDB after the timed region,
and the last line of standard output is the result. ``--trace 1`` prints
the per-layer metrics instead and leaves the spans in
``.bench_work/<workload>/spans.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("connect_batch", "connect_stream", "curation_tail")
SETUP_ROUNDS = 3
# warm-up runs read only the first input files: they compile the same code
# paths as a full run without making set-up time bound by throughput
BATCH = {"rows": 200_000, "files": 8, "warmup_reps": 4, "warmup_files": 2, "split_rounds": 3}
STREAM = {"rows_per_file": 200, "backlog_files": 280, "warmup_files": 40,
          "interval_ms": 70, "steady_offset_ms": 13500, "min_latency_samples": 130,
          "max_files_per_trigger": 40, "trigger_ms": 1000, "watermark": "30 seconds",
          "dup_share": 0.05, "dup_reach": 3,
          # a run whose generator lands a file later than this share of the
          # landing interval is invalid: its latencies are not open-loop
          "max_late_share": 0.5}
CURATION = {"docs": 1000, "warmup_passes": 5, "min_passes": 4, "queries": ["q_pagerank"]}
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def build_inputs():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile graft and the benchmark once per source state; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src'}")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    cp_file = HERE / "target" / "classpath.txt"
    stamp_file = HERE / "target" / "source.sha256"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = HERE / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                "writeClasspath"], cwd=HERE, env=env, stdout=out,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=850)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed to run: {e}")
    if r.returncode != 0 or not cp_file.exists():
        fail(f"build failed (exit {r.returncode}); see {log}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


# ---------------------------------------------------------------- inputs

def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def generate(workload, seed, seconds, work):
    """Write the workload's inputs under ``work/gen``; return its plan section,
    the generation time (median of ``SETUP_ROUNDS`` identical generations)
    and what the generator returned."""
    from bench import gen, oracle
    gen_dir = work / "gen"
    times = []
    for _ in range(SETUP_ROUNDS):
        shutil.rmtree(gen_dir, ignore_errors=True)
        if workload == "connect_batch":
            res, s = timed(gen.write_batch_input, str(gen_dir), seed, BATCH["rows"],
                           BATCH["files"])
        elif workload == "connect_stream":
            n_steady = max(STREAM["min_latency_samples"],
                           int((seconds * 1000 - STREAM["steady_offset_ms"])
                               // STREAM["interval_ms"]))
            res, s = timed(gen.write_stream_input, str(gen_dir), seed,
                           STREAM["backlog_files"] + n_steady, STREAM["rows_per_file"],
                           STREAM["dup_share"], STREAM["dup_reach"])
        else:
            res, s = timed(gen.write_corpus, str(gen_dir), CURATION["docs"])
        times.append(s)
    gen_s = sorted(times)[len(times) // 2]
    if workload == "connect_batch":
        # the warm-up input is a glob over the first input files
        first = ",".join(os.path.basename(f) for f in res[:BATCH["warmup_files"]])
        section = {"batch": dict(BATCH, input_dir=str(gen_dir), out_dir=str(work / "out"),
                                 warmup_input=f"{gen_dir}/{{{first}}}", props=oracle.CHAIN)}
    elif workload == "connect_stream":
        names = [os.path.basename(p) for p in res[0]]
        b = STREAM["backlog_files"]
        section = {"stream": dict(STREAM, gen_dir=str(gen_dir), work_dir=str(work),
                                  props=oracle.CHAIN, backlog_files=names[:b],
                                  steady_files=names[b:],
                                  warmup_files=names[:STREAM["warmup_files"]])}
    else:
        section = {"curation": dict(CURATION, corpus_dir=str(gen_dir),
                                    out_dir=str(work / "out"))}
    return section, gen_s, res


# ---------------------------------------------------------------- JVM

def run_jvm(classpath, plan, work, deadline):
    plan_path = work / "plan.json"
    plan["spawn_ms"] = time.time() * 1000.0
    plan_path.write_text(json.dumps(plan))
    (work / "tmp").mkdir(exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap, touched in full at start: neither the timings nor the
    # resident memory then depend on how far the heap happened to grow
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + str(work / "tmp"), "-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "graftbench.Main", str(plan_path)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work, env=env)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded the run time limit; see {work / 'jvm.log'}")
    raw_path = work / "raw.json"
    if not raw_path.exists():
        fail(f"JVM exited {proc.returncode} without results; see {work / 'jvm.log'}")
    raw = json.loads(raw_path.read_text())
    if raw.get("error") or proc.returncode != 0:
        fail(f"JVM failed: {raw.get('error')}; see {work / 'jvm.log'}")
    return raw


# ---------------------------------------------------------------- checks

def check_batch(raw_phase, inputs):
    from bench import oracle
    con = oracle.connect()
    want = oracle.expected_digest(con, inputs)
    reps = raw_phase["reps"]
    bad = sum(1 for r in reps if oracle.output_digest(con, r["out"]) != want)
    return len(reps), bad


def check_stream(raw_phase, view, gen_dir):
    from bench import oracle
    con = oracle.connect()
    landed = [str(gen_dir / ld["file"]) for ld in raw_phase["landings"]]
    ok = oracle.output_digest(con, raw_phase["out"]) == \
        oracle.expected_digest(con, landed, dedup=True)
    attempted = view["landed"]
    return attempted, attempted if not ok else len(view["missing"])


def check_curation(raw_phase, corpus_dir):
    from bench import oracle
    orc = oracle.CurationOracle(str(ROOT / "tools" / "oracle_check.py"), corpus_dir,
                                raw_phase["oracle_sql"])
    attempted = failed = 0
    wrong = []
    for p in raw_phase["passes"]:
        for q in CURATION["queries"]:
            attempted += 1
            if not orc.check(q, f"{p['out']}/{q}"):
                failed += 1
                wrong.append(q)
    return attempted, failed, wrong


# ---------------------------------------------------------------- metrics

def unit_times(workload, raw_phase, traced=False):
    """Wall times (ms) of a closed loop's units, traced or untraced ones."""
    units = raw_phase["reps" if workload == "connect_batch" else "passes"]
    return [u["wall_ms"] for u in units if u["traced"] == traced]


def measured_phase(raw):
    """The phase whose untraced units give the end-to-end figures."""
    return raw["plain"] if "plain" in raw else raw["traced"]


def end_to_end(workload, raw, gen_s, view):
    from bench import stats
    setup_s = (raw["jvm_start_ms"] + stats.median(raw["session_ms"]) + raw["warmup_ms"]) \
        / 1000.0 + gen_s
    ph = measured_phase(raw)
    note = {}
    if workload == "connect_stream":
        lat = view["latencies"]
        rows_per_s = view["drain_rows_per_s"]
        p50, p90 = stats.median(lat), stats.tail(lat, 90)
        note = {"latency_samples": len(lat), "lag_files_max": view["lag_max"],
                "generator_late_ms_max": round(view["late_ms"], 3),
                "catchup_batches": len(view["catchup"])}
    else:
        times = unit_times(workload, ph)
        p50 = stats.median(times)
        # a closed loop has a handful of units per run: too few for a tail
        # with ten samples beyond it, so p90 repeats the median there
        p90 = p50
        if workload == "connect_batch":
            rows_per_s = ph["rows"] / (p50 / 1000.0)
        else:
            rows_per_s = CURATION["docs"] * len(CURATION["queries"]) / (p50 / 1000.0)
            note = {"pass_s": round(p50 / 1000.0, 4),
                    "query_ms_p50": {q: round(stats.median([p["query_ms"][q] for p in
                                                            ph["passes"]]), 1)
                                     for q in CURATION["queries"]}}
        note["units"] = len(times)
    m = {"setup_s": (setup_s, "s"), "rows_per_s": (rows_per_s, "rows/s"),
         "latency_ms_p50": (p50, "ms"), "latency_ms_p90": (p90, "ms"),
         "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB")}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, note


def per_layer(workload, raw, work, cores, plain_view, traced_view):
    from bench import metrics, stats
    sp = metrics.Spans(json.loads((work / "spans.json").read_text()))
    ph = raw["traced"]
    names = metrics.per_layer_names(CURATION["queries"])
    out = {n: 0.0 for n in names}

    def call_ms(prefix):
        return stats.median([c["end"] - c["start"] for u in sp.units("rep:chain_parquet")
                             for c in sp.calls(u, prefix)])

    def layer_self(units):
        for layer in metrics.SELF_LAYERS:
            out[f"{layer}.self_ms"] = stats.median(
                [sum(sp.self_ms(c) for c in sp.calls(u, layer + ".")) for u in units])

    if workload == "connect_batch":
        units = sp.units("rep:chain_parquet")
        out["config.compile_ms"] = call_ms("config.")
        out["runtime.run_ms"] = call_ms("runtime.")
        ex = raw["extra"]
        scan = stats.median(ex["scan"])
        noop = stats.median(ex["chain_noop"])
        out["sources.scan_ms"] = scan
        out["transforms.ms"] = noop - scan
        out["sources.write_ms"] = stats.median(ex["chain_parquet"]) - noop
        local1 = raw["local1"]["wall_ms"]
        out["exec.local1_rows_per_s"] = ph["rows"] / (local1 / 1000.0)
        out["exec.parallel_speedup"] = local1 / stats.median(unit_times(workload, ph))
    elif workload == "curation_tail":
        units = sp.units("pass:traced")
        for q in CURATION["queries"]:
            out[f"operators.{q}.wall_ms"] = stats.median([p["query_ms"][q] for p in ph["passes"]])
            per = [metrics.exec_counts(sp.jobs_of(c), sp.stages_by_job, c["start"], c["end"],
                                       cores)
                   for u in units for c in sp.calls(u) if c["name"].endswith("." + q)]
            for k, v in metrics.median_dict(per, metrics.EXEC_KEYS).items():
                out[f"exec.{q}.{k}"] = v
    else:
        units = []
        for b in traced_view["steady_batches"]:
            jobs = sp.jobs_by_batch.get(b["batch"], [])
            units.append({"start": b["start_ms"], "end": b["commit_ms"], "jobs": jobs})
        for k, v in metrics.stream_layers(traced_view).items():
            out[f"streaming.{k}"] = v
        out["streaming.self_ms"] = stats.median(
            [u["end"] - u["start"] - stats.union_ms(stats.clip(
                [(j["start"], j["end"]) for j in u["jobs"]], u["start"], u["end"]))
             for u in units])
        out["exec.plan_ms"] = out["streaming.query_planning_ms"]
        out["config.compile_ms"] = stats.median(
            [c["end"] - c["start"] for c in sp.spans if c["name"].endswith("applyChain")])
        out["bench.generator_late_ms_max"] = max(plain_view["late_ms"], traced_view["late_ms"])
        overhead = stats.median(traced_view["latencies"]) / \
            stats.median(plain_view["latencies"]) - 1

    per_unit = []
    for u in units:
        jobs = u["jobs"] if "jobs" in u else sp.jobs_of(u)
        per_unit.append(metrics.exec_counts(jobs, sp.stages_by_job, u["start"], u["end"], cores))
        if workload != "connect_stream":
            per_unit[-1]["plan_ms"] = sp.plan_ms(u["start"], u["end"])
            per_unit[-1]["job_self_ms"] = metrics.job_self_ms(sp, jobs)
    if per_unit:
        for k, v in metrics.median_dict(per_unit, metrics.EXEC_KEYS).items():
            out[f"exec.{k}"] = v
        out["sources.output_bytes"] = stats.median([d["output_bytes"] for d in per_unit])
    if workload != "connect_stream":
        overhead = stats.median(unit_times(workload, ph, traced=True)) / \
            stats.median(unit_times(workload, ph)) - 1
        out["exec.plan_ms"] = stats.median([d["plan_ms"] for d in per_unit])
        out["exec.job_self_ms"] = stats.median([d["job_self_ms"] for d in per_unit])
        layer_self(units)
    out["bench.tracing_overhead_pct"] = overhead * 100.0
    return {n: {"value": float(out[n]), "unit": metrics.unit_of(n)} for n in names}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    sys.path.insert(0, str(HERE))
    try:
        import duckdb  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        fail(f"missing Python module: {e.name}")
    from bench import landing, metrics

    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    section, gen_s, gen_res = generate(args.workload, args.seed, args.seconds, work)
    cores = os.cpu_count() or 1
    plan = dict(section, workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), cores=cores, master=f"local[{cores}]",
                work=str(work), setup_rounds=SETUP_ROUNDS)
    t_gen = time.monotonic()
    if args.workload == "connect_stream":
        phases = ["plain", "traced"] if args.trace else ["plain"]
        steady = section["stream"]["steady_files"]
        for ph in phases:
            landing.stage(str(work / "gen"), steady, str(work / ph / "steady"))
        with landing.Generator(str(work), phases, steady, STREAM["interval_ms"]) as g:
            raw = run_jvm(classpath, plan, work, deadline)
        for ph in phases:
            raw[ph]["landings"] += g.landings.get(ph, [])
    else:
        raw = run_jvm(classpath, plan, work, deadline)
    t_jvm = time.monotonic()

    plain_view = traced_view = None
    invalid = None
    if args.workload == "connect_batch":
        attempted, failed = check_batch(measured_phase(raw), gen_res)
    elif args.workload == "connect_stream":
        plain_view = metrics.stream_view(raw["plain"])
        attempted, failed = check_stream(raw["plain"], plain_view, work / "gen")
        late_limit = STREAM["max_late_share"] * STREAM["interval_ms"]
        if plain_view["late_ms"] > late_limit:
            invalid = (f"generator landed a file {plain_view['late_ms']:.1f} ms late "
                       f"(limit {late_limit:.0f} ms)")
        if args.trace:
            traced_view = metrics.stream_view(raw["traced"])
    else:
        attempted, failed, wrong = check_curation(measured_phase(raw), str(work / "gen"))
        if wrong:
            print(f"perfbench: wrong outputs: {sorted(set(wrong))}", file=sys.stderr)
    if invalid:
        fail(f"run invalid, not reported: {invalid}", code=3)
    t_check = time.monotonic()

    e2e, note = end_to_end(args.workload, raw, gen_s, plain_view)
    if args.trace:
        result = per_layer(args.workload, raw, work, cores, plain_view, traced_view)
    else:
        result = e2e
    summary = dict(workload=args.workload, seed=args.seed, failed_ratio=failed / attempted,
                   wall_s=round(time.monotonic() - started, 1),
                   phases_s=[round(t_gen - started, 1), round(t_jvm - t_gen, 1),
                             round(t_check - t_jvm, 1)], **note,
                   **{k: round(v["value"], 4) for k, v in e2e.items()})
    print("perfbench summary: " + json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
