"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_digest(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic(tmp_path, name):
    cls = workloads.WORKLOADS[name]
    small = dataclasses.replace(cls.spec, n_docs=300, n_vectors=min(cls.spec.n_vectors, 200))
    digests = []
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        w = cls()
        w.spec = small
        w.generate(seed, str(tmp_path / sub))
        digests.append(_tree_digest(str(tmp_path / sub)))
    assert digests[0] and digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_near_duplicates_are_injected():
    import numpy as np

    spec = dataclasses.replace(workloads.CliScan.spec, n_docs=2000)
    texts = gen.make_documents(spec, np.random.default_rng(3))["text"]
    first = [t.split() for t in texts[:1000]]
    by_head = {tuple(t[:5]): t for t in first}
    by_tail = {tuple(t[-5:]): t for t in first}
    exact = near = 0
    for t in (x.split() for x in texts[1000:]):
        for cand in (by_head.get(tuple(t[:5])), by_tail.get(tuple(t[-5:]))):
            if cand is not None and len(cand) == len(t):
                diff = sum(a != b for a, b in zip(cand, t))
                exact += diff == 0
                near += diff == 1
                break
    # seeded rates over the second half: 4% exact copies, 2% one-token
    # edits (an edit may re-draw the same token and read as a copy)
    assert 20 <= exact <= 65
    assert 8 <= near <= 35


def test_seeds_change_content_not_amounts():
    import numpy as np

    spec = dataclasses.replace(workloads.IndexServe.spec, n_docs=500)
    shares = set()
    for seed in (1, 2):
        cols = gen.make_documents(spec, np.random.default_rng(seed))
        shares.add((tuple(np.unique(cols["source"], return_counts=True)[1]),
                    tuple(np.unique(cols["lang"], return_counts=True)[1])))
    assert len(shares) == 1


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for table, key in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert declared == table
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_parse_metric():
    assert tracing.parse_metric("1,000") == 1000
    assert tracing.parse_metric("0.0 B") == 0
    assert tracing.parse_metric("23.5 KiB") == 23.5 * 1024
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (366 ms, 368 ms, 368 ms (stage 0.0: task 2))"
    ) == 1.5
    assert tracing.parse_metric("total (min, med, max)\n20 ms (5 ms, 5 ms, 5 ms)") == pytest.approx(0.02)


def test_same_rows():
    assert run.same_rows([(1, 0.5), (2, None)], [(2, None), (1, 0.5000000001)])
    assert not run.same_rows([(1, 0.5)], [(1, 0.51)])
    assert not run.same_rows([(1,)], [(1,), (1,)])


@pytest.fixture(scope="module")
def spark():
    import tempfile

    work = tempfile.mkdtemp(prefix="perfbench-test-")
    s = run.start_session(work, 2)
    yield s
    run.stop_jvm()
    shutil.rmtree(work, ignore_errors=True)


def test_trace_of_group_by_has_one_exchange(spark):
    from pyspark.sql import functions as F

    counters = tracing.SparkCounters(spark)
    counters.new_executions()
    counters.set_group("q:exec")
    spark.range(0, 50_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    counters.clear_group()
    jobs = counters.job_ids("q:exec")
    assert jobs
    nodes = counters.operator_metrics(counters.new_executions(), set(jobs))
    exchanges = [n for n in nodes if n["node"] == "Exchange"]
    assert len(exchanges) == 1
    assert exchanges[0]["shuffle bytes written"] > 0
    assert tracing.summarize_operators(nodes)["agg_peak_mem_bytes"] > 0
    assert counters.stage_counts(jobs)["shuffle_write_bytes"] > 0


def test_one_command_output_parses():
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "index_serve", "--seed", "11",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.END_TO_END[name] and m["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cli_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
