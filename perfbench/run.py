#!/usr/bin/env python3
"""graft's benchmark: run one named workload in a fresh process, check its
outputs, and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload publish|dedup --seed N --seconds S --trace 0|1

Steps:
  1. Build graft and the harness from source with sbt (skipped when a
     digest of every source file matches the last build in this checkout).
  2. Set-up: start a JVM with a GraftSession at local[nproc] and a fixed
     heap, SETUP_PROBES times on its own and once for the run itself;
     setup_s is the median time from process start to session ready.
  3. The harness (PerfBench.scala) runs a cold pass, then steady passes
     until S seconds of steady time have passed (at least two). The seed permutes the query order of every pass; the inputs are
     always the fixed tables under perfbench/data.
  4. Output check, untimed (check_outputs): oracle queries against the
     DuckDB oracle's digest, rows-only queries against pinned fingerprints,
     both in expected.json. A mismatch is a wrong output and fails the
     execution that wrote it.
  5. Print the provenance, the per-layer table (traced runs), and as the
     last line one JSON object {"correct", "attempted", "failed",
     "metrics"}: the end-to-end metrics with --trace 0, the per-layer
     metrics with --trace 1.

Run artifacts (result.json, trace.json, logs) stay in .bench_build/perfbench.
"""
import argparse
import ast
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
SETUP_PROBES = 2          # set-up-only JVMs; the run's own JVM is a third sample
RUN_DEADLINE_S = 170      # everything after the build
BUILD_DEADLINE_S = 700
PER_LAYER_UNITS = {
    "GraftSession.start_ms": "ms",
    "queries.build_ms": "ms", "queries.build_self_ms": "ms", "queries.build_jobs": "count",
    "queries.build_task_ms": "ms", "queries.build_slot_busy_frac": "ratio",
    "plans.plan_ms": "ms",
    "exec.ms": "ms", "exec.self_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.sched_delay_ms": "ms", "exec.slot_busy_frac": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.output_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.stage_retries": "count",
    "CheckpointRegistry.release_ms": "ms", "CheckpointRegistry.released": "count",
    "CheckpointRegistry.storage_bytes": "bytes",
    "jvm.gc_ms": "ms", "harness.self_ms": "ms", "trace.pass_ms": "ms",
}
PHASES = ("build", "plan", "exec", "release")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def file_digest(paths, suffixes):
    """sha256 over (relative path, content) of the matching files under paths."""
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = [x for x in dirs if x != "target"]
            files.extend(os.path.join(d, n) for n in names)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if f.endswith(suffixes):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return (classpath, JVM options, build stamp)."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source missing: {need} (run from the root of a graft checkout)")
    os.makedirs(WORK, exist_ok=True)
    stamp = file_digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                         os.path.join(ROOT, "src", "main"), BENCH],
                        (".scala", ".java", ".sbt", ".properties"))
    stamp_file = os.path.join(WORK, "build.stamp")
    launch = os.path.join(BENCH, "target", "launch.txt")
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log("building graft and the harness with sbt")
        t0 = time.time()
        build_log = os.path.join(WORK, "build.log")
        with open(build_log, "w") as out:
            # own process group: the sbt launcher script forks the JVM
            proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                    cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=BUILD_DEADLINE_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(launch):
            with open(build_log) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            fail(f"build failed ({rc})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    lines = open(launch).read().splitlines()
    # the heap is the benchmark's, not the build's SPARK_DRIVER_MEM default
    opts = [o for o in lines[1:] if o and not o.startswith(("-Xmx", "-Xms"))]
    return lines[0], opts, stamp


def java(cp, opts, args, out_dir, deadline):
    """Run the harness JVM to completion; it writes its results under out_dir."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files, Spark's block manager and the JVM's own files stay in out_dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
           + opts + ["-cp", cp, "graft.perfbench.PerfBench"] + args + ["--out", out_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))
    jvm_log = os.path.join(out_dir, "jvm.log")
    with open(jvm_log, "a") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness JVM ran past the run deadline and was killed")
    if rc != 0:
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM exited with {rc}")


def load_comparator():
    """The comparison semantics of tools/verify_local.py: its imports,
    TABLES, norm, canon and driver_smoke, taken from that file (not copied),
    so outputs are judged exactly as the correctness gate judges them."""
    path = os.path.join(ROOT, "tools", "verify_local.py")
    tree = ast.parse(open(path).read(), path)
    keep = [n for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom, ast.FunctionDef))
            or (isinstance(n, ast.Assign) and [getattr(t, "id", "") for t in n.targets] == ["TABLES"])]
    ns = {"__name__": "verify_local"}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns


def digest(cols, rows):
    """Row count and sha256 of a canonical (name-sorted, row-sorted) result."""
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode() + b"\n")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def check_outputs(check_dir, data_dir, names, inputs_sha, pin):
    """Compare each query's output (as the cold pass wrote it, or the last
    pass with a parquet sink) with its expected digest and return the set
    of queries whose output is wrong.

    Oracle queries: the DuckDB oracle's result over the same inputs. Its
    digest is cached in expected.json keyed by sha256(inputs, SQL), and
    recomputed (and cached under .bench_build) when the key changes.
    Rows-only queries: the fingerprint pinned in expected.json.
    With pin=True, rows-only fingerprints are taken from this run and
    oracle digests missing from expected.json are added to it."""
    vl = load_comparator()
    con = vl["duckdb"].connect()
    for t in vl["TABLES"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    expected_file = os.path.join(BENCH, "expected.json")
    expected = json.load(open(expected_file))
    cache_file = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}

    def fetch(sql):
        res = con.execute(sql)
        cols, rows = vl["canon"]([d[0] for d in res.description], res.fetchall())
        return digest(cols, rows)

    wrong = set()
    for n in names:
        out = os.path.join(check_dir, n)
        try:
            got = fetch(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        except Exception as e:  # missing or unreadable output
            log(f"wrong output: {n}: {e}")
            wrong.add(n)
            continue
        if n in oracle:
            key = hashlib.sha256((inputs_sha + oracle[n]).encode()).hexdigest()
            exp = next((e for e in (expected.get(n), cache.get(n))
                        if e and e.get("key") == key), None)
            if exp is None:
                log(f"running the DuckDB oracle for {n}")
                exp = dict(fetch(oracle[n]), key=key, source="oracle")
                (expected if pin else cache)[n] = exp
            smoke = vl["driver_smoke"](out, n)
        else:
            if pin:
                expected[n] = dict(got, source="pinned rows-only output")
            exp = expected.get(n, {})
            smoke = [] if got["rows"] else ["no rows"]
        bad = [k for k in ("columns", "rows", "sha256") if exp.get(k) != got[k]] + smoke
        if bad:
            log(f"wrong output: {n}: {', '.join(map(str, bad))} (expected {exp.get('rows')} rows, "
                f"got {got['rows']})")
            wrong.add(n)
    with open(expected_file if pin else cache_file, "w") as fh:
        json.dump(expected if pin else cache, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return wrong


def median(xs):
    return statistics.median(xs) if xs else None


def interval_union_ms(spans, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(res, trace, cores):
    """Per-layer metrics of each traced steady pass, then their medians."""
    jobs_by_phase = {}
    for s in trace:
        if s["kind"] == "job":
            jobs_by_phase.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    phase_spans = {(s["parent"], s["name"]): s for s in trace if s["kind"] == "phase"}

    per_pass = []
    for p in res["passes"]:
        if p["kind"] != "steady" or p["failed"]:
            continue
        m = {}
        tot = {ph: {} for ph in PHASES}
        ms = {ph: 0.0 for ph in PHASES}
        self_ms = {ph: 0.0 for ph in PHASES}
        for q in p["queries"]:
            for ph, rec in q["phases"].items():
                ms[ph] += rec["ms"] or 0.0
                for k, v in (rec["counters"] or {}).items():
                    tot[ph][k] = max(tot[ph].get(k, 0), v) if k == "peak_exec_mem_bytes" \
                        else tot[ph].get(k, 0) + v
                span = phase_spans.get((f"{p['index']}|{q['name']}", ph))
                if span:
                    key = f"{p['index']}|{q['name']}|{ph}"
                    covered = interval_union_ms(jobs_by_phase.get(key, []),
                                                span["start_ms"], span["end_ms"])
                    self_ms[ph] += max(0.0, (rec["ms"] or 0.0) - covered)
        b, e = tot["build"], tot["exec"]
        m["queries.build_ms"] = ms["build"]
        m["queries.build_self_ms"] = self_ms["build"]
        m["queries.build_jobs"] = b.get("jobs", 0)
        m["queries.build_task_ms"] = b.get("task_ms", 0)
        m["queries.build_slot_busy_frac"] = b.get("task_ms", 0) / (ms["build"] * cores) if ms["build"] else 0.0
        m["plans.plan_ms"] = ms["plan"]
        m["exec.ms"] = ms["exec"]
        m["exec.self_ms"] = self_ms["exec"]
        for k in ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "sched_delay_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
                  "input_bytes", "output_bytes", "failed_tasks", "stage_retries"):
            m[f"exec.{k}"] = e.get(k, 0)
        m["exec.slot_busy_frac"] = e.get("task_ms", 0) / (ms["exec"] * cores) if ms["exec"] else 0.0
        m["CheckpointRegistry.release_ms"] = ms["release"]
        m["CheckpointRegistry.released"] = sum(q["released"] for q in p["queries"])
        m["CheckpointRegistry.storage_bytes"] = sum(q["storage_bytes"] for q in p["queries"])
        m["jvm.gc_ms"] = p["jvm_gc_ms"]
        m["harness.self_ms"] = p["wall_ms"] - sum(ms.values())
        m["trace.pass_ms"] = p["wall_ms"]
        per_pass.append(m)
    if not per_pass:
        return None
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["GraftSession.start_ms"] = res["session_start_ms"]
    return out


def print_layer_table(workload, lm, untraced_ms):
    pass_ms = lm["trace.pass_ms"]
    rows = [("GraftSession", lm["GraftSession.start_ms"], None, "session start, before the passes"),
            ("queries", lm["queries.build_ms"], lm["queries.build_self_ms"], "QueryDef.build, with eager jobs"),
            ("plans", lm["plans.plan_ms"], lm["plans.plan_ms"], "executedPlan"),
            ("exec", lm["exec.ms"], lm["exec.self_ms"], "final action"),
            ("CheckpointRegistry", lm["CheckpointRegistry.release_ms"],
             lm["CheckpointRegistry.release_ms"], "releaseAll"),
            ("harness", lm["harness.self_ms"], lm["harness.self_ms"], "between the phases"),
            ("jvm", lm["jvm.gc_ms"], None, "GC pauses, overlapping the layers")]
    print(f"layer time, {workload}, median of the traced steady passes ({pass_ms:.0f} ms a pass; "
          f"spans: pass > query > phase > job > stage):")
    print(f"  {'layer':<20} {'span ms':>9} {'share':>6} {'outside jobs ms':>16}  what")
    for name, span, own, what in rows:
        share = "" if name == "GraftSession" else f"{span / pass_ms:6.1%}"
        own_s = "" if own is None else f"{own:16.0f}"
        print(f"  {name:<20} {span:9.0f} {share:>6} {own_s:>16}  {what}")
    dom = max(("queries", "plans", "exec", "CheckpointRegistry"),
              key=lambda l: {"queries": lm["queries.build_ms"], "plans": lm["plans.plan_ms"],
                             "exec": lm["exec.ms"],
                             "CheckpointRegistry": lm["CheckpointRegistry.release_ms"]}[l])
    print(f"  dominant layer: {dom}; exec cpu {lm['exec.cpu_ms']:.0f} ms, gc {lm['exec.gc_ms']:.0f} ms, "
          f"shuffle write {lm['exec.shuffle_write_bytes'] / 1e6:.1f} MB")
    if untraced_ms:
        print(f"  tracing overhead: {pass_ms - median(untraced_ms):+.0f} ms per pass (traced pass "
              f"minus the median of {len(untraced_ms)} untraced steady passes of this build)")
    else:
        print("  tracing overhead: no untraced run of this workload and build yet")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="rewrite perfbench/expected.json from this run's outputs")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(BENCH, "workloads.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    cp, opts, stamp = build()

    deadline = time.time() + RUN_DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    data_dir = os.path.join(BENCH, spec["data"])
    inputs_sha = file_digest([data_dir], (".parquet",))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    setups = []
    for i in range(SETUP_PROBES):
        probe = os.path.join(run_dir, f"setup{i}")
        t0 = time.time()
        java(cp, opts, ["--setup-only", "--cores", str(cores)], probe, deadline)
        setups.append(json.load(open(os.path.join(probe, "setup.json")))["ready_epoch_ms"] / 1e3 - t0)
        shutil.rmtree(probe, ignore_errors=True)

    t0 = time.time()
    java(cp, opts, ["--data", data_dir, "--queries", ",".join(wl["queries"]),
                    "--sink", wl["sink"], "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores)], run_dir, deadline)
    res = json.load(open(os.path.join(run_dir, "result.json")))
    setups.append(res["ready_epoch_ms"] / 1e3 - t0)

    check_dir = os.path.join(run_dir, "check")
    wrong = check_outputs(check_dir, data_dir, wl["queries"], inputs_sha, a.pin)
    shutil.rmtree(check_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)

    passes = res["passes"]
    failed_execs = {(p["index"], q["name"]) for p in passes for q in p["queries"] if q["error"]}
    for p in passes:
        for q in p["queries"]:
            if q["error"]:
                log(f"pass {p['index']} {q['name']} failed: {q['error']}")
    # a wrong output fails the execution that wrote the checked files: the
    # cold pass's, or with a parquet sink the last pass's
    writer = len(passes) - 1 if wl["sink"] == "parquet" else 0
    failed_execs |= {(writer, n) for n in wrong}
    attempted = sum(len(p["queries"]) for p in passes)
    steady = [p for p in passes if p["kind"] == "steady" and not p["failed"]]
    inputs_match = inputs_sha == spec["data_sha256"]
    if not inputs_match:
        log(f"inputs under {spec['data']} differ from the pinned fingerprint")

    print(json.dumps({"provenance": {
        "workload": a.workload, "seed": a.seed, "cores": cores, "heap": HEAP,
        "heap_max_bytes": res["heap_max_bytes"], "spark": res["spark_version"],
        "java": res["java_version"], "inputs": spec["data"], "inputs_sha256": inputs_sha,
        "inputs_match_pinned": inputs_match, "first_pass_order": res["order"],
        "passes": len(passes), "steady_samples": len(steady),
        "pass_s_max": max(p["wall_ms"] for p in steady) / 1e3 if steady else None,
        # one sample per process, too noisy here to carry a bound (README)
        "cold_pass_s": None if passes[0]["failed"] else passes[0]["wall_ms"] / 1e3,
        "attempted": attempted, "failed_frac": len(failed_execs) / attempted,
        "wrong_outputs": len(wrong), "setup_samples_s": setups,
        "unattributed_jobs": res["unattributed_jobs"] if a.trace else None}}))

    history_file = os.path.join(WORK, "untraced_pass_ms.json")
    history = json.load(open(history_file)) if os.path.exists(history_file) else {}
    # overhead is only measured against untraced runs of the same build
    history_key = f"{a.workload}:{','.join(wl['queries'])}:{stamp}"
    if a.trace:
        with open(os.path.join(run_dir, "trace.json")) as fh:
            trace = json.load(fh)
        lm = layer_metrics(res, trace, cores)
        if lm is None:
            fail("no traced steady pass completed")
        print_layer_table(a.workload, lm, history.get(history_key, []))
        metrics = {k: {"value": lm[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        def secs(xs):
            return median(xs) / 1e3 if xs else None
        metrics = {
            "setup_s": {"value": median(setups), "unit": "s"},
            "pass_s": {"value": secs([p["wall_ms"] for p in steady]), "unit": "s"},
            "cpu_s": {"value": secs([p["cpu_ms"] for p in steady]), "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_kb"] / 1024, "unit": "MB"},
            "shuffle_mb": {"value": median([p["shuffle_write_bytes"] for p in steady]) / 1e6
                           if steady else None, "unit": "MB"},
        }
        if steady and not a.pin:
            history.setdefault(history_key, []).extend(p["wall_ms"] for p in steady)
            with open(history_file, "w") as fh:
                json.dump(history, fh)
    print(json.dumps({"correct": not wrong and inputs_match, "attempted": attempted,
                      "failed": len(failed_execs), "metrics": metrics}))


if __name__ == "__main__":
    main()
