#!/usr/bin/env python3
"""Lakehouse benchmark: one run of one workload, from the repo root.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lakebench/run.py --workload <name> --steadiness <N> [--seed <first>] [--seconds <s>]
    python3 lakebench/run.py --self-test

A run builds the engine and the harness from source (build.py, once per
source state, into .bench_build/), generates its inputs from the seed into an
empty work dir of its own under .bench_work/, runs the workload in one
JVM, checks every op's output, deletes the work dir and prints one JSON
object as the last line of stdout. See lakebench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from build import BuildError, build  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 165  # per run, after the build
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        raise BenchError("BENCHMARK.json not found at the repo root")
    with open(path) as f:
        return json.load(f)


def java_cmd(build_dir, jars, work, main, args):
    heap = "2g"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed heap and capped JIT/GC threads, so runs do not differ in
    # heap sizing and leave a core for the JVM's own threads
    return (["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
             "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
             "-XX:CICompilerCount=2",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([os.path.join(build_dir, "classes"),
                                     os.path.join(jars, "*")]),
             main] + args)


def _stop(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def run_jvm(cmd, work, deadline):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["HOME"] = work  # keeps ivy/derby/etc. state inside the work dir
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        # a terminated benchmark takes its JVM with it
        old = {sig: signal.signal(sig, lambda n, f: (_stop(p), sys.exit(128 + n)))
               for sig in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            _stop(p)
            raise BenchError("the run did not finish in time")
        finally:
            for sig, h in old.items():
                signal.signal(sig, h)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")


def canon(v):
    """Value canonicalisation of the repo's tools/check.py."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def oracle_check(data_dir, results_dir, oracles):
    """Compares each kept query result with its DuckDB oracle, as the
    repo's tools/check.py does. Returns {query: failure or None}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isfile(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure fails the query
            verdict[name] = f"unreadable: {e}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            verdict[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            verdict[name] = f"rows {len(got)} vs {len(exp)}"
        else:
            bad = next(((i, c) for i in range(len(got)) for c in got.columns
                        if canon(got[c].iloc[i]) != canon(exp[c].iloc[i])), None)
            verdict[name] = None if bad is None else f"row {bad[0]} col {bad[1]}"
    con.close()
    return verdict


def cpus():
    return max(1, min(2, os.cpu_count() or 1))


def run_once(workload, seed, seconds, trace):
    """One run; returns (result dict from the JVM, oracle verdicts)."""
    sp = spec()
    if workload not in [w["name"] for w in sp["workloads"]]:
        raise BenchError(f"unknown workload {workload}")
    build_dir, jars = build()
    t_start = time.time()  # set-up is timed from here: inputs, JVM, warm-up
    deadline = t_start + DEADLINE_S
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, d))
    try:
        if workload == "query_suite":
            gen.generate(os.path.join(work, "data"), seed)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", work, "--data", os.path.join(work, "data"),
                "--t0", str(int(t_start * 1000)), "--cpus", str(cpus())]
        run_jvm(java_cmd(build_dir, jars, work, "lakebench.Main", args), work, deadline)
        with open(os.path.join(work, "jvm.log")) as f:
            for line in f:  # the JVM's progress marks
                if line.startswith("[lakebench]"):
                    log(line.rstrip())
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        verdict = {}
        if res.get("oracles"):
            verdict = oracle_check(os.path.join(work, "data"),
                                   os.path.join(work, "results"), res["oracles"])
        return res, verdict
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def outcome(res, verdict):
    """(correct, attempted, failed, failure messages)."""
    failed = res["failed"]
    msgs = list(res.get("failures", []))
    for q, why in verdict.items():
        if why is not None:
            # every timed run of the query reproduced the warm-up result
            # (or already failed), so all of them carry its verdict
            failed += res["query_ops"].get(q, 0)
            msgs.append(f"{q}: oracle mismatch: {why}")
    return failed == 0, res["attempted"], failed, msgs


def flat_metrics(res):
    """Every number a run reports, by metric name."""
    m = {k: v for k, v in res["e2e"].items() if isinstance(v, (int, float))}
    m.update({k: v for k, v in res.get("ingest", {}).items() if isinstance(v, (int, float))})
    return m


def per_layer(res, names):
    layers = dict(res.get("layers", {}))
    for q, v in res["e2e"].get("op_p50_s", {}).items():
        layers[f"op.{q}.p50_s"] = v
    ends = res.get("cycle_ends") or []
    for k in ("files_live", "delete_files_live", "snapshots_live"):
        if ends:
            layers[f"catalog.{k}"] = statistics.median(e[k] for e in ends)
    for k in ("append_p50_s", "rowlevel_p50_s", "maint_p50_s", "space_amp", "write_amp"):
        if k in res.get("ingest", {}):
            layers[f"ingest.{k}"] = res["ingest"][k]
    layers["jvm.heap_live_peak_mb"] = res["e2e"]["heap_live_peak_mb"]
    layers["host.load1"] = res["host"]["load1"]
    layers["host.steal_pct"] = res["host"]["steal_pct"]
    # a metric the workload has no op for (catalog calls in the query
    # workloads, another workload's queries) reads 0
    return {n: float(layers.get(n, 0.0)) for n in names}


def summary_lines(res):
    lines = [f"[lakebench] {res['workload']} seed {res['seed']}: "
             f"{res['attempted']} attempted, {res['failed']} failed, "
             f"timed phase {res['phase_s']:.2f} s"]
    for k, v in flat_metrics(res).items():
        lines.append(f"  {k:<20} {v:.6g}")
    for i, e in enumerate(res.get("cycle_ends") or []):
        lines.append("  cycle end %d: " % (i + 1) +
                     ", ".join(f"{k}={v:.4g}" for k, v in e.items()))
    return lines


def main_run(a):
    sp = spec()
    res, verdict = run_once(a.workload, a.seed, a.seconds, a.trace)
    correct, attempted, failed, msgs = outcome(res, verdict)
    for line in summary_lines(res):
        log(line)
    for msg in msgs[:10]:
        log(f"[lakebench] FAILED {msg}")
    if a.trace:
        vals = per_layer(res, [m["name"] for m in sp["per_layer"]])
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in sp["per_layer"]}
    else:
        vals = flat_metrics(res)
        missing = [m["name"] for m in sp["end_to_end"] if m["name"] not in vals]
        if missing:
            raise BenchError(f"run produced no {missing}")
        metrics = {m["name"]: {"value": float(vals[m["name"]]), "unit": m["unit"]}
                   for m in sp["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def boundary(res):
    """For a query workload: the two queries whose medians straddle the
    read p50, and their relative gap (a large gap means the p50 sits
    between two latency clusters and can jump from one to the other)."""
    per = sorted(res["e2e"].get("op_p50_s", {}).items(), key=lambda kv: kv[1])
    p50 = res["e2e"]["read_p50_s"]
    below = [kv for kv in per if kv[1] <= p50]
    above = [kv for kv in per if kv[1] > p50]
    if not below or not above:
        return "-"
    lo, hi = below[-1], above[0]
    return f"{lo[0]} {lo[1]:.3f}s | {hi[0]} {hi[1]:.3f}s (gap {hi[1] / lo[1] - 1:.0%})"


def main_steadiness(a):
    """N runs with seeds seed..seed+N-1; per metric: median, quartiles and
    the quartile spread relative to the median."""
    sp = spec()
    bounds = {m["name"]: m.get("bound") for m in sp["end_to_end"]}
    rows = []
    for i in range(a.steadiness):
        seed = a.seed + i
        res, verdict = run_once(a.workload, seed, a.seconds, 0)
        correct, attempted, failed, _ = outcome(res, verdict)
        rows.append(res)
        ends = res.get("cycle_ends") or []
        steady = ""
        if len(ends) >= 2:
            steady = " steady " + ", ".join(
                f"{k} {ends[0][k]:.3g}->{ends[-1][k]:.3g}"
                for k in ("files_live", "snapshots_live", "space_amp"))
        extra = boundary(res) if a.workload == "query_suite" else ""
        figures = " ".join(f"{m['name']}={flat_metrics(res)[m['name']]:.4g}" for m in sp["end_to_end"])
        tj = res.get("timed_jvm", {})
        figures += (f"\n    timed phase: gc {tj.get('gc_ms')} ms, jit {tj.get('jit_ms')} ms, rounds "
                    + " ".join(f"{x:.2f}" for x in tj.get("round_s", [])))
        figures += "\n    " + " ".join(f"{k.split('_')[0]}={v:.3f}" for k, v in
                                     sorted(res["e2e"].get("op_p50_s", {}).items()))
        log(f"run {i + 1}/{a.steadiness} seed {seed}: correct={correct} "
            f"attempted={attempted} failed={failed} load1={res['host']['load1']:.2f} "
            f"steal={res['host']['steal_pct']:.2f}%{steady} {extra}\n    {figures}")
    names = list(dict.fromkeys(k for r in rows for k in flat_metrics(r)))
    print(f"{'metric':<20} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for n in names:
        xs = [flat_metrics(r)[n] for r in rows if n in flat_metrics(r)]
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        print(f"{n:<20} {q1:>10.4g} {med:>10.4g} {q3:>10.4g} {spread:>8.1%} "
              f"{'' if b is None else f'{b:.2f}':>6}")


def main_self_test(a):
    import selftest
    build_dir, jars = build()
    work = os.path.join(WORK, f"self-test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    try:
        selftest.run_python_tests()
        run_jvm(java_cmd(build_dir, jars, work, "lakebench.SelfTest", ["--work", work]),
                work, time.time() + 600)
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read().strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    print("self-test passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        if a.self_test:
            return main_self_test(a)
        if not a.workload:
            ap.error("--workload is required")
        if a.seconds is None:
            a.seconds = spec()["run_seconds"]
        if a.steadiness:
            return main_steadiness(a)
        return main_run(a)
    except (BenchError, BuildError) as e:
        log(f"[lakebench] error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
