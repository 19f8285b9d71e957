"""Benchmark: the repository's three uses, end to end and layer by layer.

    python3 perfbench/run.py --workload operator_programs --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client in one process drives
``local[k]`` (k = min(4, cores)). Inputs are generated from ``--seed``
under a temporary directory inside the checkout, which is removed at exit.

Workloads (why each was chosen, and why ``reporting`` is not in
BENCHMARK.json, is in README.md):

- ``reporting``: the registered q01-q17 reporting queries, each pass in a
  seed-shuffled order.
- ``operator_programs``: eager-barrier and similarity programs in a fixed
  order; every pass starts with the cross-query memos empty.
- ``etl_upsert``: ``run_pipeline`` from reference-shaped CSVs into an empty
  target, then a delta batch merged with ``existing=``.

Set-up ends with one warm-up pass. Each pass reads its inputs through a
fresh path alias, so no cache keyed on a path or a plan can serve one pass
from another; each operation must fire at least 80 % of its warm-up
job count, and every result is compared with an answer computed
without Spark. A wrong or failing operation is counted
in ``failed``; it is never dropped.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics and the tracing
overhead, and writes one JSONL record per operation plus the spans to
``.perfbench_out/``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)

for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

REPORTING = [
    "q01_table_counts",
    "q02_orders_sample_topk",
    "q03_sales_by_day",
    "q04_sales_by_month",
    "q05_top_products",
    "q06_top_customers",
    "q07_status_histogram",
    "q08_avg_order_value",
    "q09_parts_no_sales",
    "q10_customers_no_orders",
    "q11_last_order_details",
    "q12_order_totals",
    "q13_order_reconciliation",
    "q14_sales_daterange",
    "q15_dedupe_keep_last",
    "q16_fk_violations",
    "q17_view_sales_by_day_sql",
]
# Construction-dominated programs: eager barriers (winnow near-dups,
# Theil-Sen over the rank machinery) and the memo-backed IVF family, where
# q113 legitimately reuses q112's cell assignment within a pass. They run in
# this order in every pass: the program that warms the JIT first moves the
# whole run (a seed-chosen order gave wall_s 9.1 s with q202 first and
# 11-12 s with q156 first), so a seed-dependent order makes seeds disagree.
OPERATOR_PROGRAMS = [
    "q202_winnow_neardup",
    "q156_theil_sen_trend",
    "q112_ivf_replay",
    "q113_cell_stats_replay",
]


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# Process environment and session
# ---------------------------------------------------------------------------


def _confine(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp


def _session(work: str):
    from salesanalytics_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # status-store retention only: every job of a run stays
            # readable for the trace's stage metrics
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python driver, in MB."""
    jvm_kb = 0
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


class Runner:
    """Executes operations, timing them and checking their results."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[dict] = []
        self.first_jobs: dict[str, int] = {}
        self._ids = itertools.count()

    def _start(self, name: str, kind: str, pass_no: int, traced: bool) -> dict:
        from salesanalytics_etl_spark import telemetry

        op_id = next(self._ids)
        rec = {
            "op": op_id,
            "name": name,
            "kind": kind,
            "pass": pass_no,
            "traced": traced,
            "group": f"pbop-{op_id}",
            "error": None,
            "telemetry0": dict(telemetry.counters),
        }
        self.ops.append(rec)
        self.tracer.op = rec["op"]
        self.tracer.active = traced
        self.tracer.base_group = rec["group"]
        self.tracer.set_group(rec["group"])
        return rec

    def _finish(self, rec: dict) -> None:
        from salesanalytics_etl_spark import telemetry

        self.tracer.active = False
        self.tracer.base_group = None
        self.tracer.set_group(None)
        t0 = rec.pop("telemetry0")
        rec["telemetry"] = {
            k: v - t0.get(k, 0) for k, v in telemetry.counters.items()
        }
        if not rec["traced"]:
            drain_listeners(self.sc)
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self.check_jobs(rec)
        print(f"pass {rec['pass']} {rec['kind']} {rec['name']}: "
              f"{rec['latency_s']:.3f} s, jobs={rec.get('jobs', '-')}", file=sys.stderr)

    def check_jobs(self, rec: dict) -> None:
        """An operation must fire at least 80 % of the jobs it fired in the
        warm-up pass: far fewer means a cache filled by an earlier pass
        served it. Served from its memo, q112 fires 8 of its 11 jobs, and a
        second load of the same path 6 of 9; adaptive execution alone
        varies with timing (q202: 22 and 24 jobs on the same files)."""
        key = f"{rec['kind']}:{rec['name']}"
        first = self.first_jobs.setdefault(key, rec["jobs"])
        if rec["jobs"] < 0.8 * first and rec["error"] is None:
            rec["error"] = f"fired {rec['jobs']} jobs, {first} in the warm-up pass"

    def query(self, name: str, fn, sf_dir: str, want, pass_no: int, traced: bool) -> dict:
        from oracle import canon, diff, rows_from_pandas

        rec = self._start(name, "query", pass_no, traced)
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("plans.construct", query=name):
                df = fn(self.spark, sf_dir)
            with tr.span("arrow.result", query=name) as attrs:
                pdf = df.toPandas()
            rec["latency_s"] = time.perf_counter() - t0
            if traced:
                attrs["rows"] = len(pdf)
                attrs["phases_ms"] = tr.quiet(_phases_ms, df)
            cols, rows = rows_from_pandas(pdf, df.schema)
            rec["rows"] = len(rows)
            bad = diff(canon(cols, rows), want)
            if bad:
                rec["error"] = f"wrong result: {bad}"[:300]
        except Exception as e:  # a failing query is counted, not fatal
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        self._finish(rec)
        return rec

    def etl(self, kind: str, name: str, batch: dict, target: str, rejects: str,
            existing, want: dict, pass_no: int, traced: bool):
        from pyspark.sql import functions as F

        from salesanalytics_etl_spark.etl.pipeline import run_pipeline

        rec = self._start(name, kind, pass_no, traced)
        rec["csv_rows_in"] = batch["csv_rows"]
        rec["csv_bytes"] = batch["csv_bytes"]
        res = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("etl.run_pipeline"):
                res = run_pipeline(
                    self.spark, batch["dir"], target_dir=target,
                    rejects_dir=rejects, existing=existing,
                )
            rec["latency_s"] = time.perf_counter() - t0
            total = res.tables["order_details"].agg(F.sum("TotalPrice")).first()[0]
            got = {
                "counts": res.counts,
                "rejects": res.reject_counts,
                "sum_total": total,
            }
            if got != want:
                rec["error"] = f"wrong result: {got} != {want}"[:300]
        except Exception as e:
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        # every batch rewrites all four tables, plus its own rejects
        rec["bytes_written"] = _dir_bytes(target) + _dir_bytes(rejects)
        self._finish(rec)
        return res


def drain_listeners(sc) -> None:
    """Wait until the listener bus has delivered every queued event.

    The status store is filled asynchronously: when an action returns, the
    start events of its last jobs can still be queued (on a loaded host,
    more than one), and a job count read then comes out short."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _phases_ms(df) -> dict[str, int]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Registered queries over generated parquet tables."""

    loads = 2

    def __init__(self, names, tables, scale, n_docs, reshuffle, min_passes):
        self.names = names
        self.tables = tables
        self.scale = scale
        self.n_docs = n_docs
        self.reshuffle = reshuffle
        self.min_passes = min_passes

    def make_inputs(self, work: str, seed: int) -> None:
        from datagen import write_driver_tables

        self.work = work
        self.seed = seed
        self.data = os.path.join(work, "data")
        rows = write_driver_tables(self.data, seed, self.scale, self.n_docs)
        self.rows = {t: rows[t] for t in self.tables}

    def make_answers(self) -> None:
        from oracle import query_answer

        from salesanalytics_etl_spark.plans import all_oracles, all_queries

        self.fns = all_queries()
        oracles = all_oracles()
        self.want = {n: query_answer(oracles[n], self.data) for n in self.names}

    def run_pass(self, runner: Runner, p: int, traced: bool) -> None:
        """One pass through a fresh alias of the data directory (pass -1 is
        the warm-up). Memos are emptied first, and the new path gives every
        path- or plan-keyed cache new keys."""
        from salesanalytics_etl_spark.operators.memo import clear_materialize_memos
        from salesanalytics_etl_spark.sources.readers import load_driver_tables

        alias = os.path.join(self.work, "warm" if p < 0 else f"pass_{p:03d}")
        clear_materialize_memos()
        # A load is short (~0.5 s): several per pass steady its median.
        # Each opens its own alias, as the table handles are cached by
        # path; the queries then read through the last one.
        for i in reversed(range(self.loads)):
            path = f"{alias}_{i}" if i else alias
            os.symlink(self.data, path)
            rec = runner._start("tables", "load", p, traced)
            t0 = time.perf_counter()
            with runner.tracer.span("sources.load_driver_tables"):
                tables = load_driver_tables(runner.spark, path, self.tables)
                counts = {n: df.count() for n, df in tables.items()}
            rec["latency_s"] = time.perf_counter() - t0
            if counts != self.rows:
                rec["error"] = f"wrong table counts: {counts} != {self.rows}"
            runner._finish(rec)
        order = list(self.names)
        if self.reshuffle:
            random.Random(self.seed * 1000 + p).shuffle(order)
        for n in order:
            runner.query(n, self.fns[n], alias, self.want[n], p, traced)


class EtlWorkload:
    """``run_pipeline``: a full load, then a delta batch with ``existing=``.

    Two identical passes rather than one longer series: the host's speed
    drifts within a run, and two samples of each operation, one per half of
    the run, make the per-run medians steadier than one sample of each."""

    min_passes = 2
    sizes = (5000, 2000, 20000, 60000)
    n_deltas = 1
    delta_frac = 0.015

    def make_inputs(self, work: str, seed: int) -> None:
        from datagen import EtlSizes, write_etl_batches

        self.work = work
        self.batches = write_etl_batches(
            os.path.join(work, "etl"), seed, EtlSizes(*self.sizes),
            self.n_deltas, self.delta_frac,
        )

    def make_answers(self) -> None:
        from oracle import EtlReplay

        replay = EtlReplay()
        self.want = [replay.apply(b["dir"]) for b in self.batches]

    def run_pass(self, runner: Runner, p: int, traced: bool) -> None:
        """Full load into an empty target, then the delta (pass -1 is the
        warm-up)."""
        tag = "warm" if p < 0 else f"{p:03d}"
        target = os.path.join(self.work, f"target_{tag}")
        os.makedirs(target)
        res = None
        for i, b in enumerate(self.batches):
            res = runner.etl(
                "full_load" if i == 0 else "delta", f"batch_{i:03d}", b, target,
                os.path.join(self.work, f"rejects_{tag}_{i:03d}"),
                res.tables if res else None, self.want[i], p, traced,
            )
            if res is None:  # a failed batch leaves no state to merge into
                break


WORKLOADS = {
    "reporting": lambda: QueryWorkload(
        REPORTING, ["customer", "part", "orders", "lineitem"],
        scale=1.0, n_docs=100, reshuffle=True, min_passes=1,
    ),
    # three passes at least: the first measured pass is still ~8 % slower
    # (JIT), and the median of three drops it; every pass after the first
    # proves that no memo outlived its pass
    "operator_programs": lambda: QueryWorkload(
        OPERATOR_PROGRAMS, ["orders", "documents", "embeddings"],
        scale=0.1, n_docs=200, reshuffle=False, min_passes=3,
    ),
    "etl_upsert": EtlWorkload,
}
OP_KINDS = {"query", "delta"}


# ---------------------------------------------------------------------------
# Report
# ---------------------------------------------------------------------------


def end_to_end(ops, passes, setup_s, rss_mb) -> tuple[dict, list[str]]:
    """The gated metrics, and notes for what is printed but not gated."""
    from stats import median, tail

    lat = [o["latency_s"] for o in ops if o["kind"] in OP_KINDS]
    loads = [o["latency_s"] for o in ops if o["kind"] in ("load", "full_load")]
    values = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([w for w, _ in passes]), "s"),
        "op_p50_s": (median(lat), "s"),
        "full_load_s": (median(loads), "s"),
    }
    tail_v, tail_pct, n = tail(lat)
    notes = [
        f"op_tail_s = {tail_v:.6g} s (p{tail_pct:.1f} of n={n} operations)",
        f"peak_rss_mb = {rss_mb:.6g} MB (Spark JVM + Python driver)",
    ]
    return values, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "salesanalytics_etl_spark")):
        _die(f"no salesanalytics_etl_spark package under {ROOT}")
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    _confine(work)
    spark = None
    try:
        from spans import Tracer

        wl = WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.make_inputs(work, args.seed)
        wl.make_answers()
        excluded = time.perf_counter() - t

        spark = _session(work)
        spark.range(1).mapInPandas(lambda it: it, "id long").collect()
        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        runner = Runner(spark, tracer)
        t = time.perf_counter()
        wl.run_pass(runner, -1, False)
        warm_s = time.perf_counter() - t
        # warm-up results are checked (their job counts are the reference
        # for every later pass) but are not measured operations
        for o in runner.ops:
            if o["error"]:
                print(f"warm-up {o['name']}: {o['error']}", file=sys.stderr)
        runner.ops.clear()
        setup_s = time.perf_counter() - _T0 - excluded
        passes: list[tuple[float, bool]] = []
        t_start = time.perf_counter()
        while True:
            p = len(passes)
            # traced and untraced passes alternate; which goes first
            # depends on the seed, so warm-up drift does not bias the overhead
            traced = bool(args.trace) and (p + args.seed) % 2 == 1
            t = time.perf_counter()
            wl.run_pass(runner, p, traced)
            passes.append((time.perf_counter() - t, traced))
            done = time.perf_counter() - t_start >= args.seconds
            if args.trace:
                done = done and len(passes) >= 2
            if done and len(passes) >= wl.min_passes:
                break
        rss = _peak_rss_mb(spark)
        ops = runner.ops
        if args.trace:
            from layers import per_layer

            metrics, notes, records = per_layer(tracer, runner, passes, CPUS, ops)
            _write_trace(args, tracer, records)
        else:
            untraced = [(w, tr) for w, tr in passes if not tr]
            metrics, notes = end_to_end(ops, untraced, setup_s, rss)
        failed = [o for o in ops if o["error"]]
        for o in failed:
            print(f"FAILED {o['kind']} {o['name']} (pass {o['pass']}): {o['error']}")
        attempted = len(ops)
        print(f"workload={args.workload} seed={args.seed} local[{CPUS}] "
              f"passes={len(passes)} attempted={attempted} failed={len(failed)} "
              f"error_rate={len(failed) / attempted:.4f}")
        print(f"setup_s includes a {warm_s:.1f} s warm-up; input generation and "
              f"expected answers ({excluded:.1f} s) are excluded")
        for note in notes:
            print(note)
        for name, (v, unit) in metrics.items():
            print(f"{name} = {v:.6g} {unit}")
        result = {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {
                n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
            },
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _write_trace(args, tracer, records) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    with open(stem + "-ops.jsonl", "w") as f:
        for r in records:
            f.write(json.dumps(r, default=str) + "\n")
    with open(stem + "-spans.jsonl", "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s, default=str) + "\n")


if __name__ == "__main__":
    sys.exit(main())
