"""bench.py stdout-tail contract (r10 verdict item 8) — no Spark needed.

The driver parses the bench JSON from a ~2000-char stdout tail. At 155
queries the per-query map already filled most of it; these tests pin the
trim policy at 160+ queries: the line stays under budget, the top-5
floors are NEVER evicted, and per-query truncation is visible
("qdropped"), not silent.
"""

from __future__ import annotations

import json

from bench import format_bench_line


def _surface(n: int) -> tuple[dict, dict, list]:
    # qNN prefixes must be unique — mirror the real naming
    timings = {f"q{i:03d}_query_{i}": 0.5 + (i % 17) * 0.37 for i in range(n)}
    floor = {k: round(v * 0.8, 2) for k, v in timings.items()}
    top10 = sorted(timings, key=timings.get, reverse=True)[:10]
    return timings, floor, top10


def test_line_fits_at_160_queries_with_top5_floors():
    timings, floor, keep = _surface(160)
    line = format_bench_line(timings, floor, keep, 0.1)
    assert len(line) <= 1950
    out = json.loads(line)
    assert out["metric"] == "total_query_wall_seconds"
    # the top-5 floors survive whatever the budget squeezed out
    top5 = sorted(timings, key=timings.get, reverse=True)[:5]
    for name in top5:
        assert name.split("_", 1)[0] in out["qmin"], name
    # truncation of the per-query map is visible, never silent
    if len(out["queries"]) < 160:
        assert out["qdropped"] == 160 - len(out["queries"])
        # cheapest dropped first: every surviving entry costs >= every
        # dropped one
        dropped = [
            k.split("_", 1)[0]
            for k in sorted(timings, key=timings.get)[: out["qdropped"]]
        ]
        assert not set(dropped) & set(out["queries"])


def test_line_fits_at_200_queries():
    timings, floor, keep = _surface(200)
    line = format_bench_line(timings, floor, keep, 0.1)
    assert len(line) <= 1950
    out = json.loads(line)
    assert len(out["qmin"]) >= 5
    assert out["value"] == round(sum(timings.values()), 3)


def test_realistic_surface_truncates_visibly_not_silently():
    # the r10 driver line was 1947/1950 chars at 155 queries — the next
    # growth MUST truncate, and the contract is that it truncates the
    # cheapest sweep entries visibly (qdropped) while totals, the
    # expensive tail, and >=5 floors survive
    timings, floor, keep = _surface(170)
    out = json.loads(format_bench_line(timings, floor, keep, 0.1))
    assert out["value"] == round(sum(timings.values()), 3)
    assert out["value_min"] == round(sum(floor.values()), 3)
    assert len(out["qmin"]) >= 5
    if len(out["queries"]) < 170:
        assert out["qdropped"] == 170 - len(out["queries"])
        # the most expensive query's sweep figure always survives
        top1 = max(timings, key=timings.get).split("_", 1)[0]
        assert top1 in out["queries"]


def test_duplicate_prefix_raises():
    import pytest

    timings = {"q001_a": 1.0, "q001_b": 2.0}
    with pytest.raises(ValueError, match="duplicate"):
        format_bench_line(timings, dict(timings), [], 0.1)


def test_errors_ride_and_budget_holds():
    timings, floor, keep = _surface(160)
    errors = {f"q9{i:02d}_broken": "AnalysisException: boom" * 5 for i in range(8)}
    line = format_bench_line(timings, floor, keep, 0.1, errors=errors)
    assert len(line) <= 1950
    out = json.loads(line)
    assert len(out["errors"]) == 5  # capped


def test_write_local_bench_untrimmed(tmp_path):
    """The local bench artifact keeps EVERY query's sweep time and floor
    — the stdout line may trim, this file may not (r11 verdict item 2).
    Round inference: max existing BENCH_r*.json + 1, zero-padded."""
    from bench import local_bench_path, write_local_bench

    (tmp_path / "BENCH_r03.json").write_text("{}")
    (tmp_path / "BENCH_r11.json").write_text("{}")
    p = local_bench_path(tmp_path)
    assert p.name == "BENCH_LOCAL_r12.json"
    timings = {f"q{i:02d}_x": 0.1 * i for i in range(1, 200)}
    floor = {n: t * 0.9 for n, t in timings.items()}
    out = write_local_bench(timings, floor, {"q99_x": "boom"}, 0.1, path=p)
    import json as J

    d = J.loads(out.read_text())
    assert len(d["queries"]) == 199 and len(d["floors"]) == 199
    assert d["errors"] == {"q99_x": "boom"}
    assert d["sf"] == 0.1
    # no BENCH_r files at all -> round 1
    empty = tmp_path / "empty"
    empty.mkdir()
    assert local_bench_path(empty).name == "BENCH_LOCAL_r01.json"


def test_floor_diff_detects_regressions(tmp_path, monkeypatch, capsys):
    """floor_diff: floor-vs-floor comparison from the untrimmed local
    bench files — flags only deltas that trip BOTH the absolute and
    relative filters, reports new queries, and exits 1 on regression."""
    import json as J

    from tools import floor_diff as FD

    monkeypatch.setattr(FD, "_REPO", tmp_path)
    prev = {"floors": {"q01_a": 1.0, "q02_b": 0.1, "q03_c": 5.0}}
    cur = {"floors": {"q01_a": 1.5, "q02_b": 0.2, "q03_c": 5.2,
                      "q04_new": 2.0}}
    (tmp_path / "BENCH_LOCAL_r11.json").write_text(J.dumps(prev))
    (tmp_path / "BENCH_LOCAL_r12.json").write_text(J.dumps(cur))
    monkeypatch.setattr("sys.argv", ["floor_diff"])
    rc = FD.main()
    out = capsys.readouterr().out
    # q01: +0.5s and +50% -> flagged; q02: +100% but only +0.1s abs ->
    # not flagged; q03: +0.2s sub-absolute-floor -> not flagged
    assert rc == 1
    assert "REGRESSED q01_a" in out
    assert "q02_b" not in out.split("new queries")[0].replace(
        "3 shared", "")
    assert "q04=2.00s" in out
    # clean comparison exits 0
    (tmp_path / "BENCH_LOCAL_r12.json").write_text(J.dumps(
        {"floors": prev["floors"]}))
    assert FD.main() == 0


def test_recheck_floors_runs_flagged_queries(monkeypatch):
    """close_round's noise-vs-regression recheck: flagged names are
    re-timed through the real queries() registry in one session (fakes
    here), unknown names skipped, floors are min-of-runs."""
    import tools.close_round as cr

    calls = []

    class _FakeDF:
        def toPandas(self):
            calls.append(1)

    def fake_queries():
        return {"q01_real": lambda spark, sf: _FakeDF()}

    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "queries", fake_queries)
    import salesanalytics_etl_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda **kw: object())
    out = cr._recheck_floors(["q01_real", "q99_gone"], n_runs=2)
    assert set(out) == {"q01_real"}
    assert out["q01_real"] >= 0
    assert len(calls) == 3  # 1 warm + 2 timed
