"""Percentiles, the count of samples beyond one (the rule of at least ten
beyond the tail percentile) and span self times."""

import _paths  # noqa: F401
import harness as H
import pytest


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert H.percentile(xs, 0) == 1.0
    assert H.percentile(xs, 100) == 4.0
    assert H.percentile(xs, 50) == 2.5
    assert H.percentile(xs, 75) == pytest.approx(3.25)


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        H.percentile([], 50)


def test_ten_beyond_p75_takes_forty_samples():
    # the catalog's rule: five passes of eight queries put ten samples above p75
    xs = [float(i) for i in range(40)]
    assert H.beyond(xs, 75) == 10
    assert H.beyond(xs[:37], 75) == 9
    assert H.beyond(xs, 90) == 4


def test_ties_do_not_count_as_beyond():
    xs = [1.0] * 30 + [2.0] * 10
    assert H.beyond(xs, 75) == 10  # p75 interpolates to 1.25, below all the twos
    assert H.beyond(xs, 90) == 0  # p90 is 2.0: equal values are not beyond
    xs = [1.0] * 50
    assert H.beyond(xs, 50) == 0


def test_self_time_and_explained_share():
    spans = [
        {"id": 0, "name": "run", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"id": 1, "name": "setup", "start": 0.0, "end": 3.0, "parent": 0, "run": "r"},
        {"id": 2, "name": "measure", "start": 4.0, "end": 9.0, "parent": 0, "run": "r"},
        {"id": 3, "name": "plans.build", "start": 4.0, "end": 5.0, "parent": 2, "run": "r"},
        {"id": 4, "name": "exec.jvm", "start": 5.0, "end": 8.0, "parent": 2, "run": "r"},
    ]
    st = H.self_times(spans)
    assert st["run"] == pytest.approx(2.0)
    assert st["measure"] == pytest.approx(1.0)
    assert st["exec.jvm"] == pytest.approx(3.0)
    assert H.explained_share(spans, spans[0]) == pytest.approx(0.8)
    assert H.explained_share(spans, spans[2]) == pytest.approx(0.8)


def test_tracer_disabled_records_nothing():
    tr = H.Tracer("r", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("a"), tr.span("b"):
        pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
