#!/usr/bin/env python3
"""Repository benchmark: two seeded workloads run against the engine from
outside, one JVM per run.

    python3 perfbench/run.py --workload etl_fanin --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt into .bench_build/; later runs reuse the build
until a source file changes. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones (spans around the harness's calls into each layer, with the Spark
counters attributed to them).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("view_serve", "etl_fanin")
CORES = 4
JVM_TIMEOUT_S = 175
# a run whose JIT code cache is this full may have run interpreted
CODE_HEAP_FULL = 0.9

# ------------------------------------------------------------------ metrics

# Timings other than set-up are CPU seconds of the JVM's Java threads
# (tasks, driver, Spark's own threads; not JIT compiler or GC threads): on
# a shared machine the hypervisor's steal time moves wall time by a third
# between runs of one code, and background JIT compilation moves process
# CPU time by as much. Wall and process CPU times are per-layer metrics.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("heap_live_peak_mb", "MB"),
]

SPAN_COUNTERS = [
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("task_s", "s"),
    ("catalyst.plan_s", "s"), ("codegen.compile_s", "s"), ("codegen.classes", "count"),
]
OPERATOR_SPANS = [
    "operators.dedup_index", "operators.dedup_cc", "operators.logit", "operators.kmeans",
]
LAYER_SPANS = [
    "sources.retrieve", "pipeline.transform", "storage.write", "warehouse.build",
    "warehouse.query.key_string", "warehouse.query.key_int",
] + OPERATOR_SPANS + ["streaming.batch"]
QUERY_SPANS = ["warehouse.query.key_string", "warehouse.query.key_int"]


def metric_name(span, counter):
    """pipeline.transform's only Spark actions are validation's, so its
    job-derived counters are reported under validate.*"""
    if span == "pipeline.transform" and counter not in ("wall_s", "driver_s"):
        return "validate." + counter
    return span + "." + counter


def per_layer_metrics():
    """(name, unit, better) of every per-layer metric, in print order.
    Spans a workload does not run report 0."""
    out = [("setup.session.wall_s", "s", "lower"), ("setup.inputs.wall_s", "s", "lower"),
           ("setup.inputs.jobs", "count", "lower"), ("setup.inputs.task_s", "s", "lower"),
           ("setup.inputs.codegen.compile_s", "s", "lower"),
           ("setup.generate.wall_s", "s", "lower"),
           ("pass.wall_s", "s", "lower"), ("pass.self_s", "s", "lower"),
           ("pass.cpu_s", "s", "lower"), ("pass.process_cpu_s", "s", "lower"),
           ("pass.op_ms_p50", "ms", "lower")]
    for span in LAYER_SPANS:
        for counter, unit in SPAN_COUNTERS:
            out.append((metric_name(span, counter), unit, "lower"))
        if span == "storage.write":
            out.append(("storage.write.written_mb", "MB", "lower"))
        if span in QUERY_SPANS:
            out.append((span + ".codegen.hit_frac", "frac", "higher"))
            out.append((span + ".ms_p50", "ms", "lower"))
        if span in OPERATOR_SPANS:
            out.append((span + ".shuffle_mb", "MB", "lower"))
            out.append((span + ".spill_mb", "MB", "lower"))
        if span == "operators.dedup_cc":
            out.append(("operators.dedup_cc.rounds", "count", "lower"))
        if span == "streaming.batch":
            out += [("streaming.batches", "count", "lower"),
                    ("streaming.jobs_per_batch", "count", "lower"),
                    ("streaming.triggerExecution_ms_p50", "ms", "lower"),
                    ("streaming.addBatch_ms_p50", "ms", "lower"),
                    ("streaming.queryPlanning_ms_p50", "ms", "lower")]
    out += [("session.gc_s", "s", "lower"), ("session.tasks.util", "frac", "higher"),
            ("session.code_heap_mb", "MB", "lower"), ("session.code_heap_frac", "frac", "lower"),
            ("session.rss_peak_mb", "MB", "lower"),
            ("opcache.live_max", "count", "lower"), ("opcache.live_end", "count", "lower"),
            ("opcache.cached_mb_max", "MB", "lower"),
            ("storage.bytes_per_row", "B/row", "lower")]
    return out


# ------------------------------------------------------------------ helpers

def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover
    (same units as the span bounds)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def innermost(spans, t):
    """Id of the innermost span containing time t (latest-starting wins), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


def health_failures(raw):
    """Reasons a run's timings cannot be trusted: the JIT code cache
    filled (the session may have run interpreted) or cached frames
    outlived OpCache.releaseAll."""
    out = []
    frac = raw["code_heap_mb"] / raw["code_heap_max_mb"]
    if frac > CODE_HEAP_FULL:
        out.append(f"JIT code cache {frac:.0%} full ({raw['code_heap_mb']:.0f} MB)")
    if raw["opcache_live_end"] > 0:
        out.append(f"{raw['opcache_live_end']} OpCache frames live after releaseAll")
    return out


def layer_metrics(raw, rss_mb):
    """Per-layer metrics of one traced run, per traced pass."""
    tr = raw["trace"]
    spans, jobs = tr["spans"], tr["jobs"]
    traced_passes = max(1, len(raw["passes"]))
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] >= j["start"] > 0]
    plan_by_span = {}
    for ph in tr["phases"]:
        sid = innermost(spans, ph["start"])
        if sid is not None:
            plan_by_span[sid] = plan_by_span.get(sid, 0.0) + ph["dur_s"]
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)

    by_id = {s["id"]: s for s in spans}

    def in_pass(s):
        while True:
            if s["name"] == "pass":
                return True
            if s["parent"] < 0:
                return False
            s = by_id[s["parent"]]

    def agg(name, setup=False):
        """Sums over the span's instances: those inside a pass per traced
        pass, the others (set-up, input generation) once."""
        ss = by_name.get(name, [])

        def total(f):
            inner = sum(f(s) for s in ss if in_pass(s))
            outer = sum(f(s) for s in ss if not in_pass(s))
            return (inner + outer) if setup else inner / traced_passes + outer

        def jobs_of(s):
            return jobs_by_span.get(s["id"], [])
        return {
            "wall_s": total(lambda s: s["end"] - s["start"]) / 1e3,
            "self_s": total(lambda s: selfs[s["id"]]) / 1e3,
            "driver_s": total(lambda s: (s["end"] - s["start"])
                              - union_length(job_iv, s["start"], s["end"])) / 1e3,
            "jobs": total(lambda s: len(jobs_of(s))),
            "task_s": total(lambda s: sum(j["task_s"] for j in jobs_of(s))),
            "catalyst.plan_s": total(lambda s: plan_by_span.get(s["id"], 0.0)),
            "codegen.compile_s": total(lambda s: s["compile_s"]),
            "codegen.classes": total(lambda s: s["classes"]),
            "shuffle_mb": total(lambda s: sum(j["shuffle_mb"] for j in jobs_of(s))),
            "spill_mb": total(lambda s: sum(j["spill_mb"] for j in jobs_of(s))),
            "count": len(ss),
            "spans": ss,
            "job_list": [j for s in ss for j in jobs_of(s)],
        }

    m = {}
    sess = by_name.get("setup.session", [])
    m["setup.session.wall_s"] = sum(s["end"] - s["start"] for s in sess) / 1e3
    a = agg("setup.inputs", setup=True)
    n_setups = max(1, a["count"])
    m["setup.inputs.wall_s"] = a["wall_s"] / n_setups
    m["setup.inputs.jobs"] = a["jobs"] / n_setups
    m["setup.inputs.task_s"] = a["task_s"] / n_setups
    m["setup.inputs.codegen.compile_s"] = a["codegen.compile_s"] / n_setups
    m["setup.generate.wall_s"] = agg("setup.generate", setup=True)["wall_s"]
    a = agg("pass")
    m["pass.wall_s"], m["pass.self_s"] = a["wall_s"], a["self_s"]
    m["pass.cpu_s"] = median([p["pass_cpu_s"] for p in raw["passes"]])
    m["pass.process_cpu_s"] = median([p["pass_process_cpu_s"] for p in raw["passes"]])
    m["pass.op_ms_p50"] = median([x for p in raw["passes"] for x in p["op_ms"]])
    for span in LAYER_SPANS:
        a = agg(span)
        for counter, _ in SPAN_COUNTERS:
            m[metric_name(span, counter)] = a[counter]
        if span == "storage.write":
            m["storage.write.written_mb"] = raw.get("stored_bytes", 0) / 1048576.0
        if span in QUERY_SPANS:
            ss = a["spans"]
            m[span + ".codegen.hit_frac"] = (
                sum(1 for s in ss if s["classes"] == 0) / len(ss) if ss else 0.0)
            m[span + ".ms_p50"] = median([s["end"] - s["start"] for s in ss]) if ss else 0.0
        if span in OPERATOR_SPANS:
            m[span + ".shuffle_mb"] = a["shuffle_mb"]
            m[span + ".spill_mb"] = a["spill_mb"]
        if span == "operators.dedup_cc":
            rounds = {j["desc"] for j in a["job_list"] if j["desc"].startswith("cc: round")}
            m["operators.dedup_cc.rounds"] = len(rounds)
        if span == "streaming.batch":
            prog = raw.get("stream_progress", [])
            n = len(prog)
            per_pass = n / len(raw["passes"])
            m["streaming.batches"] = per_pass
            m["streaming.jobs_per_batch"] = a["jobs"] / per_pass if n else 0.0
            for k in ("triggerExecution", "addBatch", "queryPlanning"):
                vals = [p[k] for p in prog if k in p]
                m[f"streaming.{k}_ms_p50"] = median(vals) if vals else 0.0
    passes = by_name.get("pass", [])
    busy = sum(s["end"] - s["start"] for s in passes) / 1e3
    pass_jobs = [j for j in jobs if any(p["start"] <= j["start"] <= p["end"] for p in passes)]
    m["session.gc_s"] = raw["gc_s"]
    m["session.tasks.util"] = (sum(j["task_s"] for j in pass_jobs) / (busy * CORES)) if busy else 0.0
    m["session.code_heap_mb"] = raw["code_heap_mb"]
    m["session.code_heap_frac"] = raw["code_heap_mb"] / raw["code_heap_max_mb"]
    m["session.rss_peak_mb"] = rss_mb
    m["opcache.live_max"] = max([s["opcache_live"] for s in spans if "opcache_live" in s] or [0])
    m["opcache.live_end"] = raw["opcache_live_end"]
    m["opcache.cached_mb_max"] = max([s["cached_mb"] for s in spans if "cached_mb" in s] or [0])
    rows = raw.get("rows_per_pass", 0)
    m["storage.bytes_per_row"] = raw.get("stored_bytes", 0) / rows if rows else 0.0
    return m


def end_to_end_metrics(raw, launch_s):
    passes = raw["passes"]
    session_s = raw["session_ready_ms"] / 1e3 - launch_s
    return {
        "setup_s": session_s + (median(raw["setup_s"]) if raw["setup_s"] else 0.0),
        "pass_cpu_s": median([p["pass_cpu_s"] for p in passes]),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }


# ------------------------------------------------------------- view check

def check_serve(raw):
    """Each served query's rows against the same SQL in DuckDB over the
    warehouse tables as written. Returns the list of mismatch messages."""
    import duckdb
    wh = raw["warehouse_dir"]
    con = duckdb.connect()
    for t in ("country", "indicator", "dimension", "series"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wh}/{t}.parquet/*.parquet')")
    con.execute("""
        CREATE VIEW observation AS
        SELECT s.country_id, s.indicator_id, s.dimension_id, s.year, s.value,
               c.iso3 AS country_code, c.name AS country_name, c.region, c.subregion,
               c.ldc, c.lldc, c.sids, i.name AS indicator_name,
               i.provider AS indicator_provider, d.name AS dimension_name
        FROM series s
        LEFT JOIN country c ON s.country_id = c.id
        LEFT JOIN indicator i ON s.indicator_id = i.id
        LEFT JOIN dimension d ON s.dimension_id = d.id""")
    bad = []
    with open(raw["serve_results"]) as f:
        for line in f:
            q = json.loads(line)
            want = con.execute(q["sql"]).fetchall()
            if not rows_match(q["rows"], want, ordered="ORDER BY" in q["sql"]):
                bad.append(f"{q['template']}: {q['sql']}")
    return bad


def _norm(v):
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, (int, float)):
        return (1, float(v), "")
    return (2, 0.0, str(v))


def rows_match(got, want, ordered=False, rel=1e-9):
    if len(got) != len(want):
        return False
    if not ordered:
        got = sorted(got, key=lambda r: [_norm(v) for v in r])
        want = sorted(want, key=lambda r: [_norm(v) for v in r])
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if a is None or b is None:
                if a is not b:
                    return False
            elif isinstance(a, (int, float)) and isinstance(b, (int, float)):
                if abs(float(a) - float(b)) > rel * max(1.0, abs(float(a)), abs(float(b))):
                    return False
            elif str(a) != str(b):
                return False
    return True


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when any source changed; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if "sbt-target" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        raise SystemExit(f"perfbench: build failed (log in {log})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work):
    """Run the harness JVM; returns (raw measurements, launch time, peak RSS MB)."""
    out_file = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out_file])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launch = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        deadline = launch + JVM_TIMEOUT_S
        status, usage = None, None
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                status, usage = st, ru
            elif time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                _, status, usage = os.wait4(proc.pid, 0)
                status = -1
            else:
                time.sleep(0.05)
        proc.returncode = 0 if status == 0 else 1
    code = os.waitstatus_to_exitcode(status) if status != -1 else "timeout"
    if code != 0 or not os.path.exists(out_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"perfbench: harness JVM failed ({code})")
    with open(out_file) as f:
        raw = json.load(f)
    sys.stderr.write(f"perfbench: jvm cpu {usage.ru_utime + usage.ru_stime:.1f} s\n")
    return raw, launch, usage.ru_maxrss / 1024.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write(f"perfbench: engine sources not found under {ROOT}/src; "
                         "run from a checkout of the repository\n")
        return 2
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw, launch, rss = run_jvm(cp, args, work)
        failed = raw["failed"]
        attempted = raw["attempted"]
        messages = list(raw["messages"])
        unhealthy = health_failures(raw)
        failed += len(unhealthy)
        messages += unhealthy
        if args.workload == "view_serve":
            bad = check_serve(raw)
            failed += len(bad)
            messages += bad[:10]
        if args.trace:
            layer = layer_metrics(raw, rss)
            names = per_layer_metrics()
            metrics = {n: {"value": float(layer[n]), "unit": u} for n, u, _ in names}
        else:
            e2e = end_to_end_metrics(raw, launch)
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    for m in messages:
        sys.stderr.write(f"perfbench: CHECK FAILED: {m}\n")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
