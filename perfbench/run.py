"""Corpus-analytics benchmark for wimbd_spark.

Run from the repository root:

    python3 perfbench/run.py --workload cli_scan --seed 1 --seconds 10 --trace 0

Workloads: ``cli_scan`` and ``index_serve`` (see workloads.py). One
client thread drives one ``local[nproc/2]`` session in a closed loop:
each query call starts after the previous one returns. Spark gets half
the cores because the JVM's JIT compiler threads and the Python driver
need the rest; with a task thread on every core they all queue for the
CPU. A run generates its inputs from the seed, computes the expected
answers with DuckDB, sets up several times (session start, input load,
index builds), warms up with WARM_ROUNDS rounds of one call per query
(several at a time, on the workload's warm-up input), then runs full
passes of the workload until ``--seconds`` have elapsed and at least
MIN_PASSES have run. ``run_s`` is the median pass. Every answer is checked
against DuckDB after the pass that produced it; the result's
``failed / attempted`` is the failed fraction.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (spans
around the benchmark's calls into each module, plus Spark's job and
SQL status stores); spans go to ``.bench_work/trace-<workload>-s<seed>.json``.
A run deletes its other work files when it ends.
Tests: ``python -m pytest perfbench -q``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_SETUPS, MAX_SETUPS, SETUP_BUDGET_S = 3, 15, 1.0
MIN_PASSES = 3  # run_s is their median; traced runs make 4, two of each kind
WARM_ROUNDS = 2  # each calls every query once
INDEX_NAMES = ("phrase", "doclens", "contam")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.plan_s": "s",
    "corpus.load_s": "s",
    "corpus.rows_read": "count",
    "corpus.write_s": "s",
    "corpus.bytes_written": "B",
    "driver.construct_s": "s",
    "driver.exec_s": "s",
    "spark.eager_jobs": "count",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.task_busy_frac": "1",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.agg_peak_mem_bytes": "B",
    "spark.python_eval_s": "s",
    "text.grams_out": "count",
    "neardup.candidate_pairs": "count",
    "neardup.pair_yield": "1",
    "index.build_s": "s",
    **{f"index.{n}.build_s": "s" for n in INDEX_NAMES},
    "index.bytes_written": "B",
    "index.rows_scanned_per_result": "1",
    "query.samples": "count",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


class Ctx:
    """What a workload's setup and query calls share within one session."""

    def __init__(self, spark, data_dir, work_dir, spans):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.spans = spans
        self.bytes_written = 0
        self.index_bytes = 0


class RssSampler(threading.Thread):
    """Peak resident set of the driver JVM and its Python workers."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        from tracing import rss_bytes

        while not self._done.is_set():
            self.peak = max(self.peak, rss_bytes(self.pid))
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self.join(timeout=10)
        return self.peak


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores(nproc: int) -> int:
    return max(1, nproc // 2)


def source_id() -> str:
    """git SHA when the tree is a git checkout, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "wimbd_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def prepare_env(work_dir: str) -> None:
    """Keep every file the run writes inside ``work_dir`` and let the
    Python workers import the library."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work_dir: str, n: int):
    from wimbd_spark import get_spark

    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- correctness


def _norm(v):
    return float(v) if isinstance(v, Decimal) else v


def _key(row):
    return tuple(
        (0, round(v, 4)) if isinstance(v, float) else (1, "" if v is None else str(v))
        for v in row
    )


def same_rows(got, want) -> bool:
    """Order-insensitive row comparison; floats to 1e-6 relative."""
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def expected_answers(workload, queries, data_dir: str, work_dir: str, n: int) -> dict:
    import duckdb

    con = duckdb.connect(config={
        "threads": n, "memory_limit": "2GB",
        "temp_directory": os.path.join(work_dir, "tmp", "duckdb"),
    })
    try:
        for name, select in workload.views(data_dir).items():
            con.sql(f"CREATE VIEW {name} AS {select}")
        return {q.name: con.sql(q.oracle).fetchall() for q in queries}
    finally:
        con.close()


# ------------------------------------------------------------------ passes


def run_pass(ctx, queries, counters=None, tag="", readback=True) -> dict:
    """One full pass, closed loop. Returns wall time, per-query latency,
    rows and, when traced, Spark counters per query."""
    from wimbd_spark.session import release_scoped_persists

    from tracing import summarize_operators

    records = []
    t_pass = time.perf_counter()
    for q in queries:
        release_scoped_persists()
        group = f"{tag}{q.name}"
        rec = {"query": q.name, "module": q.module, "rows": None, "error": None}
        if counters:
            counters.set_group(group + ":construct")
        t0 = time.perf_counter()
        try:
            with ctx.spans.span("driver.construct", q.name, group + ":construct"):
                df = q.build(ctx)
            if counters:
                counters.set_group(group + ":exec")
            with ctx.spans.span("driver.exec", q.name, group + ":exec"):
                if q.sink is None:
                    rec["rows"] = df.collect()
                else:
                    q.sink(ctx, df)
        except Exception as exc:  # a failed call is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["latency_s"] = time.perf_counter() - t0
        if counters:
            counters.clear_group()
            eager = counters.job_ids(group + ":construct")
            jobs = eager + counters.job_ids(group + ":exec")
            rec["eager_jobs"] = len(eager)
            rec.update(counters.stage_counts(jobs))
            ops = counters.operator_metrics(counters.new_executions(), set(jobs))
            rec.update(summarize_operators(ops))
        records.append(rec)
    wall = time.perf_counter() - t_pass
    for q, rec in zip(queries, records):
        if readback and rec["error"] is None and q.readback is not None:
            try:
                rec["rows"] = q.readback(ctx)
            except Exception as exc:  # unreadable output is a failed call
                rec["error"] = f"readback {type(exc).__name__}: {exc}"
    return {"wall_s": wall, "records": records}


def warm_up(ctx, queries, n: int) -> None:
    """Run each query once, up to ``n`` at a time, and drop what they
    cached. This pays the first-call costs (class loading, code
    generation, Python worker start) before timing; the timed passes
    call one query at a time."""
    from wimbd_spark.session import release_scoped_persists

    with ThreadPoolExecutor(min(n, len(queries))) as pool:
        list(pool.map(lambda q: run_pass(ctx, [q], readback=False), queries))
    release_scoped_persists()


def check_pass(p: dict, expected: dict) -> int:
    failed = 0
    for rec in p["records"]:
        ok = rec["error"] is None and same_rows(rec["rows"], expected[rec["query"]])
        rec["ok"] = ok
        if not ok:
            failed += 1
            why = rec["error"] or f"{len(rec['rows'])} rows differ from DuckDB"
            print(f"FAILED {rec['query']}: {why}", file=sys.stderr)
    return failed


# ----------------------------------------------------------------- metrics


def quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(setups, passes) -> dict:
    lat = [r["latency_s"] for p in passes for r in p["records"]]
    return {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "run_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
    }


def per_layer(setups, untraced, traced, spans, ctx, n, peak_rss) -> dict:
    from workloads import PAIR_QUERIES

    def med(f):
        return statistics.median(f(p) for p in traced)

    def tot(p, key):
        return sum(r.get(key, 0) for r in p["records"])

    def span_total(p, name):
        return sum(s["end"] - s["start"] for s in spans.spans
                   if s["name"] == name and p["t0"] <= s["start"] <= p["t1"])

    def pairs(p, key):
        return sum(r.get(key, 0) for r in p["records"] if r["query"] in PAIR_QUERIES)

    def pair_rows(p):
        return sum(len(r["rows"] or []) for r in p["records"] if r["query"] in PAIR_QUERIES)

    def result_rows(p):
        return sum(len(r["rows"] or []) for r in p["records"])

    nq = len(traced[0]["records"])
    out = {
        "session.start_s": statistics.median(s["session_s"] for s in setups),
        "session.plan_s": med(lambda p: span_total(p, "session.plan")),
        "corpus.load_s": med(lambda p: span_total(p, "corpus.load")),
        "corpus.rows_read": med(lambda p: tot(p, "scan_rows")),
        "corpus.write_s": med(lambda p: span_total(p, "corpus.write")),
        "corpus.bytes_written": med(lambda p: p["bytes_written"]),
        "driver.construct_s": med(lambda p: span_total(p, "driver.construct")),
        "driver.exec_s": med(lambda p: span_total(p, "driver.exec")),
        "spark.eager_jobs": med(lambda p: tot(p, "eager_jobs")),
        "spark.jobs_per_query": med(lambda p: tot(p, "jobs") / nq),
        "spark.stages_per_query": med(lambda p: tot(p, "stages") / nq),
        "spark.tasks_per_query": med(lambda p: tot(p, "tasks") / nq),
        "spark.task_busy_frac": med(lambda p: tot(p, "task_run_s") / (p["wall_s"] * n)),
        "spark.shuffle_write_bytes": med(lambda p: tot(p, "shuffle_write_bytes")),
        "spark.spill_bytes": med(lambda p: tot(p, "stage_spill_bytes")),
        "spark.agg_peak_mem_bytes": med(
            lambda p: max(r.get("agg_peak_mem_bytes", 0) for r in p["records"])),
        "spark.python_eval_s": med(lambda p: tot(p, "python_eval_s")),
        "text.grams_out": med(lambda p: tot(p, "grams_out")),
        "neardup.candidate_pairs": med(lambda p: pairs(p, "largest_join_rows")),
        "neardup.pair_yield": med(
            lambda p: pair_rows(p) / pairs(p, "largest_join_rows")
            if pairs(p, "largest_join_rows") else 0.0),
        "index.build_s": statistics.median(sum(s["builds"].values()) for s in setups),
        **{f"index.{k}.build_s": statistics.median(s["builds"].get(k, 0.0) for s in setups)
           for k in INDEX_NAMES},
        "index.bytes_written": ctx.index_bytes,
        "index.rows_scanned_per_result": med(
            lambda p: tot(p, "scan_rows") / max(1, result_rows(p))),
        "query.samples": sum(len(p["records"]) for p in traced),
        "proc.peak_rss_mb": peak_rss / 1e6,
        "trace.overhead_s": med(lambda p: p["wall_s"])
        - statistics.median(p["wall_s"] for p in untraced),
    }
    return out


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wimbd_spark")):
        print(f"wimbd_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work_dir, ignore_errors=True)
    prepare_env(work_dir)

    import gen
    from tracing import SparkCounters, Spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    n = spark_cores(cores())
    steal0 = steal_s()
    prov = {"source": source_id(), "nproc": cores(), "spark_cores": n,
            "loadavg_start": os.getloadavg(), "seed": args.seed, "workload": args.workload,
            "python": platform.python_version()}

    data_dir = os.path.join(work_dir, "data")
    facts = gen.corpus_facts(wl.generate(args.seed, data_dir))
    spans = Spans()
    ctx = Ctx(None, data_dir, work_dir, spans)
    queries = wl.queries(ctx)
    # DuckDB answers while the JVM starts; the first (cold) setup is the
    # slowest of them all and never the median, so the overlap moves no
    # reported figure
    expected = {}
    oracle = threading.Thread(
        target=lambda: expected.update(expected_answers(wl, queries, data_dir, work_dir, n)))
    oracle.start()

    setups = []
    try:
        # at least MIN_SETUPS; cheap set-ups repeat until the warm ones
        # add up to SETUP_BUDGET_S, so their median is not one GC pause
        i = 0
        while i < MIN_SETUPS or (
            sum(s["total_s"] for s in setups[1:]) < SETUP_BUDGET_S and i < MAX_SETUPS
        ):
            if i == 1:
                oracle.join()
                if len(expected) != len(queries):
                    raise RuntimeError("DuckDB oracle failed")
            if ctx.spark is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            with spans.span("session.start"):
                ctx.spark = start_session(work_dir, n)
            t1 = time.perf_counter()
            mark = len(spans.spans)
            wl.setup(ctx)
            t2 = time.perf_counter()
            builds = {
                s["name"].rsplit(".", 1)[1]: s["end"] - s["start"]
                for s in spans.spans[mark:] if s["name"].startswith("index.build.")
            }
            setups.append({"session_s": t1 - t0, "total_s": t2 - t0, "builds": builds})
            i += 1
        spark = ctx.spark
        prov["spark"] = spark.version
        prov["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

        t0 = time.perf_counter()
        # traced runs then make one sequential pass, so their untraced
        # passes are as warm as their traced ones and the overhead figure
        # means something
        for _ in range(WARM_ROUNDS):
            warm_up(wl.warm_ctx(ctx), queries, n)
        if args.trace:
            run_pass(ctx, queries, tag="warm:", readback=False)
        print(f"setups {[(round(s['session_s'], 2), round(s['total_s'], 2)) for s in setups]} "
              f"warm-up {time.perf_counter() - t0:.1f}s", file=sys.stderr)

        counters = SparkCounters(spark) if args.trace else None
        if counters:
            counters.new_executions()  # skip what setup and warm-up ran
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        # traced runs alternate untraced and traced passes, two of each
        # at least, so the tracing overhead is not confused with warm-up
        passes = []
        t_start = time.perf_counter()
        min_passes = 4 if counters else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            traced = bool(counters) and len(passes) % 2 == 1
            ctx.bytes_written = 0
            p0 = time.perf_counter()
            p = run_pass(ctx, queries, counters if traced else None, tag=f"p{len(passes)}:")
            p.update(t0=p0, t1=time.perf_counter(), bytes_written=ctx.bytes_written,
                     traced=traced)
            passes.append(p)
        peak_rss = sampler.stop()
        print(f"passes {[round(p['wall_s'], 2) for p in passes]}", file=sys.stderr)
        failed = sum(check_pass(p, expected) for p in passes)
        attempted = sum(len(p["records"]) for p in passes)
    finally:
        stop_jvm()
        oracle.join()
        shutil.rmtree(work_dir, ignore_errors=True)
    prov["loadavg_end"] = os.getloadavg()
    prov["steal_s"] = round(steal_s() - steal0, 2)

    if args.trace:
        metrics = per_layer(setups, [p for p in passes if not p["traced"]],
                            [p for p in passes if p["traced"]], spans, ctx, n, peak_rss)
        units = PER_LAYER
        trace_file = os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"provenance": prov, "spans": spans.spans,
                       "queries": [[{k: v for k, v in r.items() if k != "rows"}
                                    for r in p["records"]] for p in passes]}, f)
    else:
        metrics = end_to_end(setups, passes)
        units = END_TO_END

    print(f"provenance {json.dumps(prov)}")
    print(f"facts {json.dumps(facts)}")
    lat = sorted(r["latency_s"] for p in passes for r in p["records"])
    print(f"passes {len(passes)} query_samples {len(lat)} failed_frac {failed / attempted:.4f}")
    for rec in passes[-1]["records"]:
        print(f"  {rec['query']:<32} {rec['latency_s']:8.3f} s  ok={rec.get('ok')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
