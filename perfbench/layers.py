"""Per-layer metrics of a traced run.

Each traced operation's spans are joined with the jobs and stages the
status store recorded (via the job group each span set). Per-workload
values are means per operation over the traced operations that define
``op_p50_s`` (queries, or delta batches), except ``spark.core_busy_frac``,
which is executor run time over (their wall time x k), and
``trace.overhead_frac``, which compares traced with untraced passes.
"""

from __future__ import annotations

from spans import interval_union
from stats import median

MB = 1024.0 * 1024.0

# name -> unit, in report order
PER_LAYER = {
    "py4j.calls": "count",
    "plans.construct_s": "s",
    "plans.py4j_calls": "count",
    "plans.catalyst_s": "s",
    "operators.barrier_jobs": "count",
    "operators.barrier_s": "s",
    "operators.barrier_stages": "count",
    "operators.barrier_one_task_stages": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.one_task_stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_frac": "ratio",
    "arrow.transfer_s": "s",
    "arrow.result_rows": "count",
    "etl.driver_jobs": "count",
    "etl.barrier_s": "s",
    "etl.table_write_s": "s",
    "sources.rejects_s": "s",
    "sources.rejects_rows": "count",
    "sources.csv_rows_in": "count",
    "sources.bytes_written_mb": "MB",
    "sources.write_amp": "ratio",
    "telemetry.range_exchange": "count",
    "trace.overhead_frac": "ratio",
}
_OP_KINDS = {"query", "delta"}


def _job_s(jobs: list[dict]) -> float:
    return interval_union(
        [(j["submissionTime"], j["completionTime"]) for j in jobs if j.get("completionTime")]
    ) / 1000.0


class _Engine:
    """Jobs by span group, and each completed stage owned by the first job
    that lists it (AQE lists a finished shuffle stage again, skipped, in
    the jobs that consume it)."""

    def __init__(self, jobs: list[dict], stages: dict[int, dict]):
        self.by_group: dict[str, list[dict]] = {}
        owned: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self.by_group.setdefault(j.get("jobGroup") or "", []).append(j)
            for sid in j["stageIds"]:
                if sid in stages and sid not in owned:
                    owned[sid] = j["jobId"]
        self.stages = stages
        self.owned = owned

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        return [
            self.stages[sid]
            for j in jobs
            for sid in j["stageIds"]
            if self.owned.get(sid) == j["jobId"]
        ]


def _op_split(op: dict, spans: list[dict], eng: _Engine) -> dict:
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def inclusive(s: dict) -> list[dict]:
        out = list(eng.by_group.get(s["group"], []))
        for c in children.get(s["id"], []):
            out += inclusive(c)
        return out

    tops = children.get(None, [])
    jobs = [j for s in tops for j in inclusive(s)]
    st = eng.stages_of(jobs)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["py4j.calls"] = sum(s["py4j"] for s in tops)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(st)
    m["spark.one_task_stages"] = sum(s["numTasks"] == 1 for s in st)
    m["spark.tasks"] = sum(s["numTasks"] for s in st)
    m["spark.executor_run_s"] = sum(s["executorRunTime"] for s in st) / 1000.0
    m["spark.executor_cpu_s"] = sum(s["executorCpuTime"] for s in st) / 1e9
    m["spark.gc_s"] = sum(s["jvmGcTime"] for s in st) / 1000.0
    m["spark.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in st) / MB
    m["spark.shuffle_read_mb"] = sum(s["shuffleReadBytes"] for s in st) / MB
    m["spark.spill_mb"] = sum(s["diskBytesSpilled"] for s in st) / MB
    for s in spans:
        dur = s["end"] - s["start"]
        if s["name"] == "plans.construct":
            barrier = inclusive(s)
            bst = eng.stages_of(barrier)
            m["plans.construct_s"] += dur
            m["plans.py4j_calls"] += s["py4j"]
            m["operators.barrier_jobs"] += len(barrier)
            m["operators.barrier_s"] += _job_s(barrier)
            m["operators.barrier_stages"] += len(bst)
            m["operators.barrier_one_task_stages"] += sum(x["numTasks"] == 1 for x in bst)
        elif s["name"] == "arrow.result":
            ph = s["attrs"].get("phases_ms", {})
            m["plans.catalyst_s"] += sum(ph.values()) / 1000.0
            planning = (ph.get("optimization", 0) + ph.get("planning", 0)) / 1000.0
            m["arrow.transfer_s"] += max(0.0, dur - _job_s(inclusive(s)) - planning)
            m["arrow.result_rows"] += s["attrs"].get("rows", 0)
        elif s["name"] == "etl.run_pipeline":
            own = eng.by_group.get(s["group"], [])
            m["etl.driver_jobs"] += len(own)
            m["etl.barrier_s"] += _job_s(own)
            writes = [c for c in spans if c["name"] == "etl.table_write"]
            if writes:
                m["etl.table_write_s"] += max(c["end"] for c in writes) - min(
                    c["start"] for c in writes
                )
        elif s["name"] == "sources.write_rejects":
            m["sources.rejects_s"] += dur
            m["sources.rejects_rows"] += s["attrs"].get("rows") or 0
    if "csv_rows_in" in op:
        m["sources.csv_rows_in"] = op["csv_rows_in"]
        m["sources.bytes_written_mb"] = op["bytes_written"] / MB
        m["sources.write_amp"] = op["bytes_written"] / op["csv_bytes"]
    m["telemetry.range_exchange"] = op["telemetry"].get("range_exchange", 0)
    return m


def per_layer(tracer, runner, passes, k: int, ops: list[dict]):
    """(metrics, notes, per-operation records) of the traced passes; also
    applies the warm-up job-count check to the traced operations."""
    jobs, stages = tracer.engine_records()
    eng = _Engine(jobs, stages)
    spans_by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s["op"], []).append(s)
    records = []
    for op in ops:
        if not op["traced"]:
            continue
        spans = spans_by_op.get(op["op"], [])
        groups = {op["group"]} | {s["group"] for s in spans}
        op["jobs"] = sum(len(eng.by_group.get(g, [])) for g in groups)
        runner.check_jobs(op)
        split = _op_split(op, spans, eng)
        records.append({**op, "layers": split})
    measured = [r for r in records if r["kind"] in _OP_KINDS]
    n = len(measured)
    metrics = {
        name: (sum(r["layers"][name] for r in measured) / n, unit)
        for name, unit in PER_LAYER.items()
    }
    busy = sum(r["layers"]["spark.executor_run_s"] for r in measured)
    wall = sum(r["latency_s"] for r in measured)
    metrics["spark.core_busy_frac"] = (busy / (wall * k), "ratio")
    traced = [w for w, t in passes if t]
    plain = [w for w, t in passes if not t]
    metrics["trace.overhead_frac"] = (median(traced) / median(plain) - 1.0, "ratio")
    notes = [
        f"per-layer values are means over n={n} traced operations; "
        f"trace overhead from {len(traced)} traced vs {len(plain)} untraced passes"
    ]
    return metrics, notes, records
