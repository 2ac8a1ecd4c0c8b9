"""The full-suite shard runner's per-shard report (conftest.py)."""

from conftest import _shard_report

FAILED_SHARD = """\
....F..s. 2 passed in the warm-up
[ 50%]
=================================== FAILURES ===================================
_________________________________ test_walk ___________________________________
    def test_walk():
>       assert model == engine
E       AssertionError
Falsifying example: test_walk(steps=[...])
You can reproduce this example by temporarily adding @reproduce_failure('6.0', b'AXic')
============================== warnings summary ================================
tests/test_x.py::test_y
  DeprecationWarning: old API
=========================== short test summary info ============================
FAILED tests/test_walk.py::test_walk - AssertionError
1 failed, 193 passed, 1 skipped, 2 warnings in 812.31s (0:13:32)
"""


def test_report_keeps_failures_and_counts_from_final_line():
    report, counts = _shard_report(FAILED_SHARD)
    assert counts == {"failed": 1, "passed": 193, "skipped": 1, "warnings": 2}
    assert "@reproduce_failure('6.0', b'AXic')" in report
    assert "FAILED tests/test_walk.py::test_walk - AssertionError" in report
    assert "DeprecationWarning" not in report
    assert report.endswith("1 failed, 193 passed, 1 skipped, 2 warnings in 812.31s (0:13:32)")


def test_report_of_clean_and_of_crashed_shards():
    report, counts = _shard_report("....\n[100%]\n12 passed, 3 errors in 4.00s\n")
    assert counts == {"passed": 12, "errors": 3}
    assert report == "12 passed, 3 errors in 4.00s"
    crashed = "x" * 3000 + "\nFatal Python error: Segmentation fault"
    report, counts = _shard_report(crashed)
    assert counts == {} and report == crashed[-2000:]
