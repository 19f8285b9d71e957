from __future__ import annotations

import os
from pathlib import Path

import pytest

from salesanalytics_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"

# The ~20 slowest e2e / restart-parity / heavy-property tests (~600 s of
# a ~2000 s suite, measured r17 with --durations). The driver's verify
# step runs ``pytest tests/`` inside a wall-clock window the full suite
# outgrew in r16 (truncated at 99% with zero failures shown -> the next
# REAL failure would be invisible). Default profile skips exactly this
# list; ``SPARK_GRAFT_SLOW_TESTS=1`` restores the full suite, and
# tools/close_round.py sets it, so every round close still runs ALL
# tests. The list is explicit nodeids (not a marker) so the skip set is
# reviewable in one place and additions are deliberate.
_SLOW_TESTS = {
    "tests/test_winnow_stream.py::test_replay_appends_nothing",
    "tests/test_ranking.py::test_ntile_multi_matches_single_passes",
    "tests/test_plan_lint.py::test_no_cartesian_or_rowwise_python"
    "[q105_cluster_representatives]",
    "tests/test_winnow_stream.py::test_restart_resumes_from_checkpoint",
    "tests/test_queries.py::test_query_matches_oracle[q191_cluster_safe_split]",
    "tests/test_sources.py::test_partitioned_write_prunes_partitions",
    "tests/test_winnow_stream.py::test_streamed_pairs_cover_batch",
    "tests/test_properties.py::test_scd2_invariants",
    "tests/test_dedup_similarity.py::test_winnow_recovery_restores_capped_recall",
    "tests/test_exact_jaccard.py::test_driver_corpus_matches_brute_force",
    "tests/test_sketch_stream.py::"
    "test_restarted_maintenance_resumes_from_checkpoint",
    "tests/test_agg_maintenance.py::"
    "test_maintained_rollup_matches_batch_and_survives_replay",
    "tests/test_winnow_stream.py::"
    "test_streamed_equals_batch_when_no_list_crosses_cap",
    "tests/test_editnoise.py::test_reorder_preserves_token_multiset",
    "tests/test_dedup_similarity.py::"
    "test_simhash_recovery_does_not_touch_small_buckets",
    "tests/test_dedup_similarity.py::test_simhash_budget_counts_recovery_pairs",
    "tests/test_sketch_stream.py::test_streamed_signatures_equal_batch",
    "tests/test_properties.py::test_merge_upsert_partitioned_matches_full_merge",
    "tests/test_sketch_stream.py::test_restart_with_no_new_files_falls_back_to_batch",
    "tests/test_operators.py::test_label_propagation_raises_on_nonconvergence",
}


def _stale_slow_tests(config, items) -> list[str]:
    """``_SLOW_TESTS`` nodeids that name no collected test although their
    file was collected whole (a file selected by ``file::test`` or not
    selected at all proves nothing) — a renamed or deleted test would
    otherwise leave a dead entry while the real slow test runs."""
    seen = {item.nodeid for item in items}
    whole = [Path(a).resolve() for a in config.args if "::" not in a]

    def file_collected_whole(nodeid: str) -> bool:
        f = (config.rootpath / nodeid.split("::", 1)[0]).resolve()
        return any(f == w or w in f.parents for w in whole)

    return sorted(
        n for n in _SLOW_TESTS if n not in seen and file_collected_whole(n)
    )


@pytest.hookimpl(tryfirst=True)  # before -k / --deselect shrink `items`
def pytest_collection_modifyitems(config, items):
    stale = _stale_slow_tests(config, items)
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py _SLOW_TESTS names tests that were not "
            f"collected: {stale}"
        )
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow e2e profile — set SPARK_GRAFT_SLOW_TESTS=1 "
        "(tools/close_round.py does) to run"
    )
    for item in items:
        if item.nodeid in _SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
