"""In-memory spans around the calls the benchmark makes into each layer.

Nothing here edits the program: the tracer wraps, from the outside,

- the calls the benchmark itself makes (registered query callables,
  ``toPandas``, ``run_pipeline``);
- the ``sources`` / ``operators`` names that ``etl.pipeline`` imported, by
  rebinding them in that module's namespace while tracing is active;
- ``DataFrameWriter.parquet`` (the pipeline's target-table writes);
- py4j's ``send_command``, which is counted, not timed.

Every span sets its own Spark job group, so each job the engine records is
attributed to the innermost span that fired it. Stage metrics are read once,
at the end, from the application status store (works with the UI disabled).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# Names imported by etl/pipeline.py, by layer.
PIPELINE_CALLS = {
    "sources": ["read_csv_exact", "write_rejects"],
    "operators": [
        "trim_strings",
        "drop_null_keys",
        "dedupe_keep_last",
        "fk_split",
        "fk_split_composite",
        "merge_upsert",
    ],
}


class Tracer:
    """Span recorder. ``active`` switches recording on for traced passes;
    while it is off every wrapper calls straight through."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.py4j_calls = 0
        self._counting = True
        self.op: int | None = None
        # job group of the current operation, restored when its spans end
        self.base_group: str | None = None

    # -- job groups -------------------------------------------------------
    def set_group(self, gid: str | None) -> None:
        """Set the job group without counting the call as program work."""
        if gid is None:
            self.quiet(self.sc.setLocalProperty, "spark.jobGroup.id", None)
        else:
            self.quiet(self.sc.setJobGroup, gid, gid)

    def quiet(self, fn, *args):
        """Run a measurement call (py4j) without counting it."""
        self._counting = False
        try:
            return fn(*args)
        finally:
            self._counting = True

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield attrs
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "group": f"pbspan-{self._next}",
            "py4j": 0,
            "attrs": attrs,
        }
        self._stack.append(rec)
        self.set_group(rec["group"])
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - calls0
            self._stack.pop()
            self.set_group(parent["group"] if parent else self.base_group)
            self.spans.append(rec)

    def wrap(self, name: str, fn, result_attr: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if result_attr:
                    attrs[result_attr] = out
                return out

        return traced

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        """Wrap the traced calls for the rest of the process."""
        from pyspark.sql import DataFrameWriter

        from salesanalytics_etl_spark.etl import pipeline

        client_cls = type(self.sc._gateway._gateway_client)
        send = client_cls.send_command
        tracer = self

        def counted(client, *args, **kwargs):
            if tracer.active and tracer._counting:
                tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        client_cls.send_command = counted
        for layer, names in PIPELINE_CALLS.items():
            for n in names:
                attr = "rows" if n == "write_rejects" else None
                setattr(pipeline, n, self.wrap(f"{layer}.{n}", getattr(pipeline, n), attr))
        DataFrameWriter.parquet = self.wrap("etl.table_write", DataFrameWriter.parquet)

    # -- engine side --------------------------------------------------------
    def engine_records(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) from the status store, as plain dicts."""
        jvm = self.sc._jvm
        # the store is filled asynchronously: wait for every queued event
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stage_list = store.stageList(None, False, False, no_quantiles, None)
        stages = {}
        for s in json.loads(mapper.writeValueAsString(stage_list)):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        return jobs, stages


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
