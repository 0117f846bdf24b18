"""The SLOW_TESTS stale check: scoped to the files a run collected, but
loud about entries whose file is gone."""

from __future__ import annotations

from tests.conftest import stale_slow_tests

SLOW = {"tests/test_a.py::test_slow", "tests/test_b.py::test_slow"}


def _root(tmp_path, *files):
    (tmp_path / "tests").mkdir()
    for f in files:
        (tmp_path / f).write_text("")
    return tmp_path


def test_ignored_file_entries_are_not_stale(tmp_path):
    # test_b.py exists but was not collected (--ignore, a collection
    # error, or a run scoped to test_a.py)
    root = _root(tmp_path, "tests/test_a.py", "tests/test_b.py")
    matched = {"tests/test_a.py::test_slow"}
    assert stale_slow_tests(SLOW, matched, {"tests/test_a.py"}, root) == []


def test_deleted_file_entries_are_stale(tmp_path):
    root = _root(tmp_path, "tests/test_a.py")
    matched = {"tests/test_a.py::test_slow"}
    assert stale_slow_tests(SLOW, matched, {"tests/test_a.py"}, root) == [
        "tests/test_b.py::test_slow"
    ]


def test_renamed_test_in_collected_file_is_stale(tmp_path):
    # test_a.py was collected, but its slow entry matched no item
    root = _root(tmp_path, "tests/test_a.py", "tests/test_b.py")
    matched = {"tests/test_b.py::test_slow"}
    collected = {"tests/test_a.py", "tests/test_b.py"}
    assert stale_slow_tests(SLOW, matched, collected, root) == [
        "tests/test_a.py::test_slow"
    ]
