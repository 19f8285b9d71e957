"""The default profile's slow-test skip list (``conftest._SLOW_TESTS``)
must name collected tests: a stale nodeid fails collection loudly
instead of skipping nothing while the real slow test runs."""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

import conftest
import pytest

_ROOT = Path(__file__).resolve().parent.parent


def _items(nodeids):
    return [SimpleNamespace(nodeid=n) for n in nodeids]


def test_stale_slow_test_nodeid_fails_collection(monkeypatch):
    stale = "tests/test_slow_list.py::test_renamed_away"
    live = sorted(conftest._SLOW_TESTS)
    monkeypatch.setattr(conftest, "_SLOW_TESTS", {*live, stale})
    whole_suite = SimpleNamespace(args=[str(_ROOT / "tests")], rootpath=_ROOT)
    with pytest.raises(pytest.UsageError, match="test_renamed_away"):
        conftest.pytest_collection_modifyitems(whole_suite, _items(live))
    # a run that selects single tests never collected the file whole, so
    # an uncollected entry proves nothing there
    one_test = SimpleNamespace(
        args=[f"{_ROOT}/tests/test_slow_list.py::test_other"], rootpath=_ROOT
    )
    conftest.pytest_collection_modifyitems(one_test, _items([]))
