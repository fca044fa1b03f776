"""Tick-due and lag accounting when the source coalesces ticks."""

import _paths  # noqa: F401
import pytest
from wl_collector import tick_accounting

HEALTHY = {"a", "b", "c"}


def batch(bid, start, end, commit):
    return {"batch_id": bid, "start_tick": start, "end_tick": end, "commit_s": commit}


def test_one_tick_per_batch_misses_nothing():
    batches = [batch(1, 100, 101, 101.4), batch(2, 101, 102, 102.3)]
    got = tick_accounting(batches, {1: HEALTHY, 2: HEALTHY}, HEALTHY, 1.0, since_s=100.4)
    assert got["due"] == 6
    assert got["delivered"] == 6
    assert got["missed_frac"] == 0.0
    assert got["lags_ms"] == pytest.approx([400.0, 300.0])  # one per batch
    assert got["envelopes_per_s"] == pytest.approx(6 / 1.9)


def test_coalesced_ticks_count_as_missed():
    # batch 1 covers ticks (100, 103]: one scrape per host delivers tick 103,
    # ticks 101 and 102 are coalesced away; batch 2 covers (103, 107].
    batches = [batch(1, 100, 103, 105.5), batch(2, 103, 107, 109.25)]
    got = tick_accounting(batches, {1: HEALTHY, 2: HEALTHY}, HEALTHY, 1.0, since_s=103.0)
    assert got["due"] == 7 * 3
    assert got["delivered"] == 2 * 3
    assert got["missed_frac"] == pytest.approx(1 - 6 / 21)
    # lag runs from the delivered tick's due time, not the first tick's
    assert got["lags_ms"] == pytest.approx([2500.0, 2250.0])


def test_hostile_and_broken_envelopes_are_not_delivered():
    batches = [batch(4, 10, 12, 12.5)]
    got = tick_accounting(batches, {4: {"a", "down-host"}}, HEALTHY, 0.5, since_s=11.0)
    assert got["due"] == 2 * 3
    assert got["delivered"] == 1
    assert got["lags_ms"] == pytest.approx([6500.0])  # 12.5 s - 12 * 0.5 s


def test_batch_without_healthy_hosts_has_no_lag():
    batches = [batch(1, 100, 101, 101.4), batch(2, 101, 102, 102.3)]
    got = tick_accounting(batches, {2: {"b"}}, HEALTHY, 1.0, since_s=100.4)
    assert got["delivered"] == 1
    assert got["lags_ms"] == pytest.approx([300.0])


def test_no_batches():
    got = tick_accounting([], {}, HEALTHY, 1.0, since_s=0.0)
    assert got["delivered"] == 0 and got["missed_frac"] == 1.0 and got["lags_ms"] == []
