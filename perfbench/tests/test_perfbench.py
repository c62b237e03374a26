"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kvload import (  # noqa: E402
    VALUE_BYTES,
    Sample,
    VersionChecker,
    Zipf,
    decode_value,
    encode_value,
    window_rate,
)
from spans import RequestLinker, Span, Tracer, self_times  # noqa: E402
from stats import geomean, percentile  # noqa: E402


# -- percentile rule ----------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(1, 100)], 90) is None  # 9 beyond
    value, beyond = percentile([float(i) for i in range(1, 101)], 90)
    assert (value, beyond) == (90.0, 10)


def test_percentile_reports_the_count_beyond_for_any_order():
    xs = [float(x) for x in range(200)]
    random.Random(0).shuffle(xs)
    value, beyond = percentile(xs, 90)
    assert value == 179.0 and beyond == 20
    assert sum(x > value for x in xs) == beyond


def test_percentile_of_nothing_is_none():
    assert percentile([], 50) is None


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)


# -- KV value codec and version checker ---------------------------------


def test_value_carries_key_and_version_and_is_full_size():
    v = encode_value("k000042", 7, random.Random(1))
    assert len(v) == VALUE_BYTES
    assert decode_value(v) == ("k000042", 7)
    assert decode_value(b"garbage") is None


def test_checker_accepts_current_and_newer_versions():
    c = VersionChecker()
    c.acked("k1", 1, t=10.0)
    assert c.check("k1", encode_value("k1", 1, random.Random(0)), t_send=11.0) is None
    assert c.check("k1", encode_value("k1", 2, random.Random(0)), t_send=11.0) is None


def test_checker_rejects_a_stale_value():
    c = VersionChecker()
    c.acked("k1", 1, t=10.0)
    c.acked("k1", 2, t=20.0)
    stale = encode_value("k1", 1, random.Random(0))
    assert "stale" in c.check("k1", stale, t_send=21.0)
    # a PUT acknowledged after the GET was sent does not bind it
    assert c.check("k1", stale, t_send=15.0) is None


def test_checker_rejects_preload_after_an_acked_put():
    c = VersionChecker()
    c.acked("k1", 1, t=10.0)
    assert "stale" in c.check("k1", encode_value("k1", 0, random.Random(0)), t_send=10.5)


def test_checker_rejects_another_keys_value():
    c = VersionChecker()
    err = c.check("k1", encode_value("k2", 0, random.Random(0)), t_send=1.0)
    assert err is not None and "k2" in err
    assert c.check("k1", b"not a value", t_send=1.0) == "unparseable value"


def test_checker_latest_is_newest_acked_version():
    c = VersionChecker()
    c.acked("k1", 1, t=1.0)
    c.acked("k1", 3, t=3.0)
    c.acked("k2", 1, t=2.0)
    assert c.latest() == {"k1": 3, "k2": 1}


def test_zipf_is_seeded_and_skewed():
    a = Zipf(1000, 0.99, random.Random(5))
    b = Zipf(1000, 0.99, random.Random(5))
    ra, rb = random.Random(9), random.Random(9)
    draws = [a.draw(ra) for _ in range(2000)]
    assert draws == [b.draw(rb) for _ in range(2000)]
    top = max(set(draws), key=draws.count)
    assert draws.count(top) > 2000 / 1000 * 20  # far above uniform


def test_window_rate_times_each_client_from_its_first_send():
    done = [
        # client 0 sent its first in-window request at 1.5 s, after the
        # one it had in flight when the window opened had returned
        Sample(0, "get", 1.5, 3.5, True),
        Sample(0, "get", 3.5, 5.5, True),
        Sample(1, "get", 1.0, 2.0, True),
        Sample(1, "put", 2.0, 3.0, False),  # failed: timed, not counted
    ]
    assert window_rate(done) == pytest.approx(2 / 4.0 + 1 / 2.0)


# -- spans and self time --------------------------------------------------


def _span(sid, parent, start, end):
    return Span("x", sid, parent, 1, start, end)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(1, None, 0, 100_000_000),
        _span(2, 1, 10_000_000, 50_000_000),
        _span(3, 1, 30_000_000, 70_000_000),  # overlaps span 2
        _span(4, 1, 80_000_000, 90_000_000),
    ]
    selfs = self_times(spans)
    # children cover [10, 70] and [80, 90] ms: 70 ms of 100
    assert selfs[1] == pytest.approx(30.0)
    assert selfs[2] == pytest.approx(40.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, None, 0, 10_000_000), _span(2, 1, 5_000_000, 20_000_000)]
    assert self_times(spans)[1] == pytest.approx(5.0)


def test_self_time_with_nested_children_and_contained_overlap():
    spans = [
        _span(1, None, 0, 100_000_000),
        _span(2, 1, 0, 60_000_000),
        _span(3, 1, 10_000_000, 20_000_000),  # inside span 2
        _span(4, 2, 0, 60_000_000),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(40.0)
    assert selfs[2] == pytest.approx(0.0)


def test_tracer_parents_and_trace_ids():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    with tr.span("remote", parent=outer) as remote:
        pass
    assert inner.parent == outer.span_id and inner.trace_id == outer.trace_id
    assert remote.parent == outer.span_id and remote.trace_id == outer.trace_id
    assert len(tr.spans) == 3 and all(s.end_ns >= s.start_ns for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_linker_claims_oldest_registration_per_op_and_arg():
    lk = RequestLinker()
    a, b = _span(1, None, 0, 1), _span(2, None, 0, 1)
    lk.register("get", "k1", a)
    lk.register("get", "k1", b)
    assert lk.claim("get", "k1") is a
    lk.release("get", "k1", b)
    assert lk.claim("get", "k1") is None
    assert lk.claim("put", "k1") is None


# -- per-layer names --------------------------------------------------------


class _NoSpark:
    actions: list = []

    def jobs_by_span(self):
        return {}

    def stages_by_span(self):
        return {}


def test_per_layer_names_and_units_match_benchmark_json():
    import json

    from layers import per_layer

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    out = per_layer([], _NoSpark(), 1.0, 1.0, {"session.boot_ms": (1.0, "ms", "")})
    assert {k: v[1] for k, v in out.items()} == listed
