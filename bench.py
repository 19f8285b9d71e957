"""Benchmark harness — times the engine's headline queries.

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing is per-query wall clock around a full materialization via
Arrow (``toPandas``) — full result transfer to the client, minus the
Py4J row-deserialization artifact that plain ``collect()`` adds (which
would dominate the 100k+-row queries and measure the wrong thing).
JVM/session startup is excluded (fixed cost, not a query cost).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def format_bench_line(
    timings: dict[str, float],
    floor: dict[str, float],
    keep: list[str],
    sf: float | None,
    errors: dict[str, str] | None = None,
    budget: int = 1950,
) -> str:
    """Assemble the ONE JSON line under the driver's stdout-tail budget.

    Trim policy (r10 verdict item 8 — the budget squeeze must never
    silently evict the floors): (1) qmin extras beyond the top-5 floors
    drop first, from the tail; (2) then per-query sweep entries drop
    CHEAPEST-first (a "qdropped" count rides so truncation is visible,
    never silent); (3) the top-5 floors and the totals are never
    dropped. Raises if even the irreducible core exceeds the budget —
    a loud contract failure beats the driver recording ``parsed: null``.
    """
    short = {name.split("_", 1)[0]: round(t, 2) for name, t in timings.items()}
    if len(short) != len(timings):
        raise ValueError("duplicate qNN prefix in query names")
    out: dict = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "value_min": round(sum(floor.values()), 3),
        "queries": dict(short),
        "sf": sf,
    }
    if errors:
        out["errors"] = {
            name.split("_", 1)[0]: msg[:40]
            for name, msg in list(errors.items())[:5]
        }
    keep = list(keep)
    # cheapest sweep entries are the first to go if the budget bites
    by_cost = sorted(timings, key=timings.get)
    dropped = 0

    def render() -> str:
        if keep:
            out["qmin"] = {n.split("_", 1)[0]: round(floor[n], 2) for n in keep}
        else:
            out.pop("qmin", None)
        if dropped:
            out["qdropped"] = dropped
        return json.dumps(out, separators=(",", ":"))

    line = render()
    while len(line) > budget and len(keep) > 5:
        keep = keep[:-1]
        line = render()
    while len(line) > budget and dropped < len(by_cost):
        victim = by_cost[dropped].split("_", 1)[0]
        out["queries"].pop(victim, None)
        dropped += 1
        line = render()
    if len(line) > budget:
        raise ValueError(
            f"bench line irreducibly over budget: {len(line)} > {budget}"
        )
    return line


def current_round(repo: str | Path = _REPO) -> int:
    """The round IN PROGRESS: the driver stamps ``BENCH_r{N}.json`` AND
    ``CORRECTNESS_r{N}.json`` when a round closes, so current =
    max(recorded)+1. Both globs on purpose (r12 ADVICE): inferring from
    BENCH alone while the closer inferred from both meant a round that
    ever stamped CORRECTNESS without BENCH would make bench.py overwrite
    the prior round's BENCH_LOCAL slot and floor_diff compare mislabeled
    rounds — ONE helper, shared by bench.py and tools/close_round.py."""
    rounds = [0]
    for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json"):
        rounds.extend(
            int(m.group(1))
            for p in Path(repo).glob(pat)
            if (m := re.search(r"_r(\d+)\.json$", p.name))
        )
    return max(rounds) + 1


def local_bench_path(repo: str | Path = _REPO) -> Path:
    """``BENCH_LOCAL_r{N}.json`` for the round IN PROGRESS (see
    :func:`current_round`). Idempotent within a round (re-runs
    overwrite)."""
    return Path(repo) / f"BENCH_LOCAL_r{current_round(repo):02d}.json"


def write_local_bench(
    timings: dict[str, float],
    floor: dict[str, float],
    errors: dict[str, str],
    sf: float | None,
    path: Path | None = None,
) -> Path:
    """Persist the UNTRIMMED sweep: full per-query timings and two-pass
    floors for every query. The stdout line is budget-trimmed for the
    driver's tail (r11 dropped 16 sweep entries and cut qmin to 5), so
    this file is the only place round-over-round floor-vs-floor deltas
    stay possible for the whole surface (r11 verdict item 2)."""
    path = path or local_bench_path()
    payload = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "value_min": round(sum(floor.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": {n: round(t, 3) for n, t in sorted(timings.items())},
        "floors": {n: round(t, 3) for n, t in sorted(floor.items())},
        "errors": dict(errors),
    }
    path.write_text(json.dumps(payload, indent=1) + "\n")
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from salesanalytics_etl_spark.plans import all_queries
    from salesanalytics_etl_spark.session import get_spark

    # No console progress bar: the driver parses the JSON line from a
    # bounded stdout TAIL, and progress fragments printed after the line
    # was flushed would share (and could front-truncate) that window.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    queries = all_queries()
    # qNN prefixes must be unique (they become the compact JSON keys) —
    # fail BEFORE the multi-minute sweep, not after it
    prefixes = {n.split("_", 1)[0] for n in queries}
    if len(prefixes) != len(queries):  # not `assert` — must survive python -O
        raise ValueError("duplicate qNN prefix in query names")

    # Warm the JVM with the flagship once, then touch every table's
    # parquet footers + pages so first-scan penalties (footer parse, OS
    # page-cache misses) don't land on whichever query alphabetically
    # reads a table first — that cost is layout-fixed, not query work.
    queries["q03_sales_by_day"](spark, sf_dir).toPandas()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # Spawn all Python workers once (daemon + per-core workers + Arrow
    # init): ~5s that would otherwise land on whichever query first
    # crosses the Python boundary (measured on q101 — 7.3s cold vs 2.1s
    # warm at sf0.1). Worker spawn is deployment-fixed, not query work.
    spark.range(256).repartition(int(spark.sparkContext.defaultParallelism)) \
        .mapInPandas(lambda it: it, schema="id long").count()

    def time_one(name: str) -> float:
        # Collect garbage BETWEEN queries: single-JVM sweeps otherwise
        # attribute one query's accumulated heap to a random successor's
        # mid-run GC pause (the round-4 q08 "8x regression" was exactly
        # this — isolated runs showed 1x).
        jvm_gc()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).toPandas()
        return round(time.perf_counter() - t0, 3)

    jvm_gc = spark._jvm.System.gc  # noqa: SLF001

    # `bench.py --isolate <qNN-or-name> [n]`: time ONE query n (default 3)
    # times in a warm session and print each run + the min — the triage
    # tool for "is this sweep delta real or neighbor noise".
    if len(sys.argv) > 1 and sys.argv[1] == "--isolate":
        target = sys.argv[2]
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        matches = [q for q in queries if q == target or q.startswith(target)]
        if len(matches) != 1:
            raise SystemExit(f"--isolate {target!r}: matches {matches}")
        runs = [time_one(matches[0]) for _ in range(n)]
        print(json.dumps({"query": matches[0], "runs": runs, "min": min(runs),
                          "sf": sf}, separators=(",", ":")))
        return

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(queries):
        try:
            timings[name] = time_one(name)
        except Exception as ex:  # one broken query must not zero the round
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]

    # Second pass, REVERSED order, over every query the sweep charged
    # ≥0.5 s: a sweep attributes neighbor effects (JIT warmup order, heap
    # pressure, OS cache state) to whichever query happens to run there —
    # two passes in opposite orders mostly cancel that, and min(a, b) is
    # the noise-floor estimate. This is what proved the round-4 "q08 8×
    # regression" was sweep noise; now it's measured every round instead
    # of litigated after the fact.
    retime: dict[str, float] = {}
    for name in sorted(timings, reverse=True):
        if timings[name] >= 0.5:
            try:
                retime[name] = min(timings[name], time_one(name))
            except Exception:
                pass

    # Isolated-floor totals ride along without blowing the ~2000-char
    # stdout-tail budget: "value_min" (sweep total with each ≥0.5s query
    # replaced by its two-pass min) is one number, and "qmin" lists ONLY
    # the queries where the floor is materially below the sweep figure
    # (>0.15s and >20% faster) — i.e. exactly the entries a regression
    # triage would otherwise have to re-measure by hand.
    floor = dict(timings)
    floor.update(retime)
    # r9 (verdict item 5): the floors of the TOP-10 most expensive
    # queries ride EVERY round's record — the driver record now
    # separates load from regression for the whole expensive tail the
    # way q102's floor did, instead of only for queries whose delta
    # happened to cross the materiality cut that round.
    top10 = sorted(timings, key=timings.get, reverse=True)[:10]
    material = sorted(
        (
            name
            for name, t in timings.items()
            if name not in set(top10)
            and name in retime
            and t - retime[name] > max(0.15, 0.2 * t)
        ),
        key=lambda n: timings[n] - retime[n],
        reverse=True,
    )
    # top-10 floors ride first (the contract); material-delta extras fill
    # to 12 total. The query surface has outgrown a fixed cap (r10: 145
    # queries ≈ the whole 1900-char tail), so the qmin list is trimmed
    # DYNAMICALLY from the tail — extras drop before top-10 floors, and
    # the most expensive queries' floors are the last to go.
    keep = [*top10, *material][:12]

    try:
        write_local_bench(timings, floor, errors, sf)
    except OSError:
        pass  # read-only checkout must never cost the driver its line
    print(format_bench_line(timings, floor, keep, sf, errors))


if __name__ == "__main__":
    main()
