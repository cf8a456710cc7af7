#!/usr/bin/env python3
"""graft layered workload benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds T --trace 0|1

Runs from the checkout root. It builds graft's main sources plus the
harness in `perfbench/src` (see build.py), then runs one workload of
registry queries (`SparkEntry.queries`) on the sf0.1 tables vendored in
`perfbench/data`, in one JVM with `local[<cores>]` and the session config
of `graft.Bench`. It is a closed loop with one client: one query at a
time, each built by its registry function and run through the noop sink.

Each run:
  * set-up: setup_s is the time from the run's JVM start to its Spark
    session with GraftExtensions ready (one sample per run: a second JVM
    would cost as much again on every run);
  * cold pass: the first pass in the fresh session (codegen, JIT, lazy
    state);
  * output check: one untimed execution per query whose result digest
    (row count + order-independent hash sums) is compared with the
    digest stored in `perfbench/expected/`, recorded after the DuckDB
    oracle check (`scripts/check.py`) passed for that row at the same
    scale. A mismatch or an exception fails every execution of that
    query and names it;
  * two untimed warm-up passes; heap_live_mb is the heap in use after a
    full GC at this point, a fixed amount of work into the run;
  * steady passes for T seconds (at least three); the seed sets the
    query order of every pass;
  * with --trace 1, one more pass with a counters-only SparkListener and
    spans query -> build / plan / execute -> Spark job, then direct timed
    calls into `Tables.*`, the `expr/` kernels and the `sources/`
    readers and writers. Tracing overhead = traced pass - mean of the
    untraced passes just before and after it. End-to-end metrics come
    only from untraced passes.

Output: one `<workload>.<metric> <value> <unit>` line per metric, the
record file name, then one compact JSON line
{"correct", "attempted", "failed", "metrics"} (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The full record goes to
.bench_build/results/, the trace spans (--trace 1) beside it.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 170  # every run ends within 180 s

# Why each workload exists and which layer it stresses; the per-layer
# metric that should move on it is in the docstring of layer_metrics.
WORKLOADS = {
    "relational": {
        "why": "TPC-H Q6/Q3/Q12 and grouping sets: scan/join/aggregate, no pins, no custom "
               "kernels; control for pin and kernel work",
        "queries": ["q122_tpch_q6", "q73_tpch_q3", "q134_tpch_q12", "q147_grouping_sets"]},
    "corpus": {
        "why": "MMR re-rank: an iterative operator whose build phase (pins, driver loop) is "
               "most of the wall",
        "queries": ["q177_mmr_rerank"]},
}
# Test-only workload for the smoke test: one passing row, one row that
# always throws, and one row (an alias of q04_derive) whose stored sf0.001
# digest is deliberately wrong.
TEST_WORKLOADS = {
    "smoke_fail": {"why": "smoke test of failure counting",
                   "queries": ["q01_groupby_agg", "perfbench_fail", "perfbench_wrong_digest"]},
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
    ("query_p90_s", "s"), ("ok_frac", "ratio"), ("heap_live_mb", "MB")]


class BenchError(Exception):
    pass


def quantile(xs, q):
    """Linear-interpolation quantile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap():
    """Same sizing as the repository's test environment: half of RAM,
    clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{max(2, min(8, g))}g"


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm(cp, tmp, args, timeout):
    """Run perfbench.Main in its own JVM with the JVM options of build.sbt's
    forked runs. The heap is fixed (-Xms = -Xmx) so that G1 does not resize
    it differently from run to run. Scratch files stay under `tmp`."""
    heap = driver_heap()
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}/derby",
            f"-Dderby.stream.error.file={tmp}/derby.log",
            "-cp", cp, "perfbench.Main", "--cpus", str(cores()), "--tmp", tmp]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("benchmark JVM did not finish in time")
    if proc.returncode != 0:
        raise BenchError(f"benchmark JVM exited {proc.returncode}")


def expected_path(sf):
    return os.path.join(HERE, "expected", f"sf{sf}.json")


def check_outputs(rec, expected):
    """Names of queries whose digest is missing, wrong, or whose run threw."""
    bad = {}
    for q, d in rec["digests"].items():
        exp = expected.get(q)
        if "error" in d:
            bad[q] = d["error"]
        elif exp is None:
            bad[q] = "no expected digest stored"
        elif (d["rows"], d["digest"]) != (exp["rows"], exp["digest"]):
            bad[q] = f"digest {d['rows']}:{d['digest']} != expected {exp['rows']}:{exp['digest']}"
    return bad


def executions(rec):
    """All query executions of the run: (query, error-or-None)."""
    out = [(q["q"], q["error"]) for q in rec["cold"]["queries"]]
    out += [(q, d.get("error")) for q, d in rec["digests"].items()]
    for p in rec["passes"]:
        out += [(q["q"], q["error"]) for q in p["queries"]]
    for p in rec.get("warmup", []) + [rec[k] for k in ("traced", "after_traced") if k in rec]:
        out += [(q["q"], q["error"]) for q in p["queries"]]
    return out


def end_to_end(rec, failed, attempted):
    """The seven end-to-end metrics, from untraced passes only."""
    passes = [p["pass_s"] for p in rec["passes"]]
    samples = [q["wall_s"] for p in rec["passes"] for q in p["queries"]]
    return {
        "setup_s": rec["setup_s"],
        "cold_pass_s": rec["cold"]["pass_s"],
        "pass_s": statistics.median(passes),
        "query_p50_s": quantile(samples, 0.5),
        "query_p90_s": quantile(samples, 0.9),
        "ok_frac": 1.0 - failed / attempted,
        "heap_live_mb": rec["heap_live_mb"],
    }


def layer_metrics(rec):
    """Per-layer metrics from the traced pass and the direct probes,
    summed over the workload's queries. Expected movers (control in
    brackets): queries.*, ops.* and driver.* on corpus (relational);
    plan.* on corpus cold and relational; exec.* on relational (corpus,
    whose execute phase is small); tables.* on relational (corpus). The
    expr.* and sources.* probes call the kernels, readers and writers
    directly, on every workload."""
    tr = rec["traced"]
    qs = tr["queries"]
    tot = lambda k: sum(q[k] for q in qs)
    untraced = statistics.median(p["pass_s"] for p in rec["passes"])
    wall = tot("wall_s")
    m = {
        "queries.build_s": (tot("build_s"), "s"),
        "queries.build_jobs": (tot("build_jobs"), "count"),
        "queries.build_share": (tot("build_s") / untraced, "ratio"),
        "ops.pins": (tot("pins"), "count"),
        "ops.pin_jobs": (tot("pin_jobs"), "count"),
        "ops.pin_s": (tot("pin_s"), "s"),
        "plan.plan_s": (tot("plan_s"), "s"),
        "plan.codegen_compile_s": (tot("codegen_compile_s"), "s"),
        "plan.cold_codegen_compile_s": (rec["cold"]["codegen_compile_s"], "s"),
        "exec.exec_s": (tot("exec_s"), "s"),
        "exec.jobs": (tot("exec_jobs"), "count"),
        "exec.task_s": (tot("task_s"), "s"),
        "exec.core_util": (tot("task_s") / (wall * tr["cores"]) if wall else 0.0, "ratio"),
        "exec.shuffle_mb": (tot("shuffle_mb"), "MB"),
        "exec.spill_mb": (tot("spill_mb"), "MB"),
        "exec.input_rows": (tot("input_rows"), "count"),
        "driver.gap_s": (tot("gap_s"), "s"),
        "driver.gc_s": (tr["gc_s"], "s"),
        "trace.overhead_s": (tr["pass_s"] - (rec["passes"][-1]["pass_s"] +
                                             rec["after_traced"]["pass_s"]) / 2, "s"),
    }
    probes = {g: v["results"] for g, v in rec["probes"].items()}
    m["tables.load_s"] = (sum(t["load_s"] for t in probes["tables"]), "s")
    m["tables.scan_rows_per_s"] = (sum(t["rows"] for t in probes["tables"]) /
                                   sum(t["scan_s"] for t in probes["tables"]), "rows/s")
    for k in probes["expr"]:
        m[f"expr.{k['kernel']}.rows_per_s"] = (k["rows_per_s"], "rows/s")
    for s in probes["sources"]:
        m[f"sources.{s['format']}.write_s"] = (s["write_s"], "s")
        m[f"sources.{s['format']}.read_s"] = (s["read_s"], "s")
    return m


def run_workload(name, wl, cp, seed, seconds, trace, sf, t_start, expected):
    data = os.path.join(HERE, "data", f"sf{sf}")
    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tmp = os.path.join(build.BUILD, "tmp", f"{os.getpid()}-{name}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    stem = os.path.join(results, f"{name}-seed{seed}-trace{trace}")
    try:
        args = {"data": data, "queries": ",".join(wl["queries"]), "seed": seed,
                "seconds": seconds, "trace": trace, "record": stem + ".raw.json"}
        if trace:
            args["trace-file"] = stem + ".trace.jsonl"
        jvm(cp, tmp, args, DEADLINE_S - (time.time() - t_start))
        with open(stem + ".raw.json") as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bad = check_outputs(rec, expected)
    execs = executions(rec)
    attempted = len(execs)
    failed_q = {q: e for q, e in execs if e} | bad
    failed = sum(1 for q, e in execs if e or q in bad)
    if trace:
        metrics = layer_metrics(rec)
    else:
        e2e = end_to_end(rec, failed, attempted)
        metrics = {k: (e2e[k], u) for k, u in END_TO_END}
        metrics["failed_frac"] = (failed / attempted, "ratio")
    samples = [q["wall_s"] for p in rec["passes"] for q in p["queries"]]
    passes = [p["pass_s"] for p in rec["passes"]]
    summary = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace, "sf": sf,
        "queries": wl["queries"], "why": wl["why"],
        "session": rec["session"] | {"nproc": cores(), "driver_heap": driver_heap(),
                                     "commit": commit()},
        "host": rec["host"],
        "pass_s": {"median": statistics.median(passes), "q1": quantile(passes, 0.25),
                   "q3": quantile(passes, 0.75), "n": len(passes)},
        "query_samples": {"n": len(samples), "beyond_p90": sum(s > quantile(samples, 0.9) for s in samples)},
        "per_query_median_s": {q: statistics.median(
            x["wall_s"] for p in rec["passes"] for x in p["queries"] if x["q"] == q)
            for q in wl["queries"]},
        "attempted": attempted, "failed": failed, "failed_queries": failed_q,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "raw": rec,
    }
    with open(stem + ".json", "w") as f:
        json.dump(summary, f, indent=1)
    os.remove(stem + ".raw.json")
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "failed_q": failed_q, "record": stem + ".json"}


def commit():
    """The checked-out commit when the checkout is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.1", choices=["0.1", "0.001"],
                    help="input scale; 0.001 is for the smoke test")
    a = ap.parse_args(argv)
    known = WORKLOADS | TEST_WORKLOADS
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    try:
        if any(n not in known for n in names):
            raise BenchError(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
        if not os.path.isdir(os.path.join(HERE, "data", f"sf{a.sf}")):
            raise BenchError("input tables missing under perfbench/data")
        cp = build.build()
        t_start = time.time()  # a first run's compile is not part of the run's deadline
        with open(expected_path(a.sf)) as f:
            expected = json.load(f)
        total = {"attempted": 0, "failed": 0, "metrics": {}}
        for n in names:
            r = run_workload(n, known[n], cp, a.seed, a.seconds, a.trace, a.sf,
                             t_start if len(names) == 1 else time.time(), expected)
            metrics = r["metrics"]
            for k, (v, u) in metrics.items():
                print(f"{n}.{k} {v:.6g} {u}")
            for q, e in sorted(r["failed_q"].items()):
                print(f"{n}.failed_query {q} {e}")
            print(f"{n}.record {os.path.relpath(r['record'], ROOT)}")
            total["attempted"] += r["attempted"]
            total["failed"] += r["failed"]
            gated = [k for k, _ in END_TO_END] if not a.trace else list(metrics)
            for k in gated:
                key = k if len(names) == 1 else f"{n}.{k}"
                total["metrics"][key] = {"value": metrics[k][0], "unit": metrics[k][1]}
    except (BenchError, build.CompileError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"correct": total["failed"] == 0, "attempted": total["attempted"],
                      "failed": total["failed"], "metrics": total["metrics"]},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
