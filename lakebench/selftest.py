"""Python half of the benchmark's own tests (run by `run.py --self-test`):
input generation, the oracle canonicalisation, failure counting and the
per-layer metric assembly."""
import filecmp
import os
import tempfile

import gen
import run


def _check(name, cond):
    if not cond:
        raise AssertionError(f"self-test failed: {name}")


def test_generation():
    with tempfile.TemporaryDirectory(dir=run.WORK) as d:
        a, b, c = (os.path.join(d, x) for x in "abc")
        gen.generate(a, 5)
        gen.generate(b, 5)
        gen.generate(c, 6)
        for t in run.TABLES:
            _check(f"same seed gives the same {t}",
                   filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False))
        _check("another seed gives other lineitem rows",
               not filecmp.cmp(f"{a}/lineitem.parquet", f"{c}/lineitem.parquet", shallow=False))
        _check("another seed gives other documents",
               not filecmp.cmp(f"{a}/documents.parquet", f"{c}/documents.parquet", shallow=False))


def test_canon():
    _check("floats by repr", run.canon(0.1) == "0.1")
    _check("nan", run.canon(float("nan")) == "nan")
    _check("ints by str", run.canon(3) == "3")


def test_outcome():
    res = {"failed": 1, "attempted": 30, "failures": ["x"],
           "query_ops": {"q1": 4, "q2": 4}}
    correct, attempted, failed, msgs = run.outcome(res, {"q1": None, "q2": "rows 1 vs 2"})
    _check("an oracle mismatch fails every run of the query", failed == 5)
    _check("a failure makes the run incorrect", not correct and attempted == 30)
    _check("clean run", run.outcome({"failed": 0, "attempted": 3, "query_ops": {}},
                                    {"q1": None})[0])


def test_per_layer():
    res = {"layers": {"exec.run_ms": 5.0}, "e2e": {"op_p50_s": {"q1": 0.5}, "heap_live_peak_mb": 90.0},
           "cycle_ends": [{"files_live": 4, "delete_files_live": 0, "snapshots_live": 1},
                          {"files_live": 6, "delete_files_live": 0, "snapshots_live": 1}],
           "ingest": {"space_amp": 2.0}, "host": {"load1": 0.5, "steal_pct": 0.0}}
    got = run.per_layer(res, ["exec.run_ms", "op.q1.p50_s", "op.q2.p50_s",
                              "catalog.files_live", "ingest.space_amp", "host.load1",
                              "jvm.heap_live_peak_mb"])
    _check("per-layer values pass through", got["exec.run_ms"] == 5.0)
    _check("per-query medians", got["op.q1.p50_s"] == 0.5)
    _check("a query the workload does not run reads 0", got["op.q2.p50_s"] == 0.0)
    _check("live-file gauge is the median over cycle ends", got["catalog.files_live"] == 5.0)
    _check("ingest figures", got["ingest.space_amp"] == 2.0)
    _check("the post-GC heap peak", got["jvm.heap_live_peak_mb"] == 90.0)


def test_spec():
    sp = run.spec()
    names = [m["name"] for m in sp["end_to_end"] + sp["per_layer"]]
    _check("metric names are unique", len(names) == len(set(names)))
    _check("setup_s is an end-to-end metric",
           any(m["name"] == "setup_s" and m["unit"] == "s" for m in sp["end_to_end"]))


def run_python_tests():
    os.makedirs(run.WORK, exist_ok=True)
    for t in (test_generation, test_canon, test_outcome, test_per_layer, test_spec):
        t()
