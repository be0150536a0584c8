"""The bench's sf10 sampling policy, and the loader the bench tests share.

A bench record is never judged against earlier records; comparing two
commits is ``tools/ab.py``'s job. What stays here is how many samples
each sf10 lane row takes, which decides what the record's min is."""

import importlib.util
import os
import sys


def _load_bench():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def test_sf10_retry_policy():
    """Watch rows always run min-of-3, the 60 s cutoff included (their
    45-52 s first samples sat near the line). Other rows at or above
    the cutoff stay min-of-1. Sub-cutoff rows run min-of-2 with a third
    sample when the two spread past 1.25x."""
    watch = {"w"}
    retry = bench.sf10_should_retry
    # over-cutoff: min-of-1, however slow the first sample
    assert retry("q", [68.7], watch) is False
    assert retry("q", [600.0], watch) is False
    # watch rows: always min-of-3, the cutoff does not strand them
    assert retry("w", [70.0], watch) is True
    assert retry("w", [70.0, 68.0], watch) is True
    assert retry("w", [70.0, 68.0, 69.0], watch) is False
    # sub-cutoff rows keep min-of-2 with a spread-triggered third
    assert retry("q", [10.0], watch) is True
    assert retry("q", [10.0, 10.5], watch) is False
    assert retry("q", [10.0, 14.0], watch) is True
    assert retry("q", [10.0, 14.0, 11.0], watch) is False
    # a second sample that crosses the cutoff ends the row
    assert retry("q", [50.0, 70.0], watch) is False
