"""Checks of the benchmark's own pieces; run with
``python3 -m pytest perfbench -q`` from the repo root."""

from __future__ import annotations

import json

import expect
import layers


def test_pins_equal_crawl_oracle():
    """Every pinned expectation is what the sequential oracle produces."""
    with open(expect.PINS) as f:
        assert json.load(f) == expect.build_pins()


def test_bulk_outputs_do_not_depend_on_seed():
    # bulk seeds every page, so the seed reaches only image bytes
    assert expect.derive("bulk", 3) == expect.expected("bulk", 11)


def test_trickle_seed_picks_seed_pages():
    assert expect.trickle_seeds(1) != expect.trickle_seeds(2)
    assert len(set(expect.trickle_seeds(5))) == expect.TRICKLE["n_hosts"]


def _span(name, t0, t1, children=(), stat_s=0.0, **stats):
    sp = layers.Span(name, name, t0, t1, stat_s=stat_s, stats=stats)
    sp.children = list(children)
    return sp


def test_op_metrics_gap_coverage_and_trace_time():
    probe = _span("seen.probe_dedup_update", 2.0, 4.0, stat_s=0.5,
                  candidates=100, maybe_seen=10, bloom_fp=4, new=94)
    epoch = _span(layers.EPOCH, 1.0, 6.0, [
        _span("robots.mark_blocked", 1.0, 1.5, rows=10, blocked=1), probe])
    op = _span("op", 0.0, 8.0, [
        _span(layers.CRAWL_SETUP, 0.0, 1.0), epoch,
        _span("store.commit", 6.0, 7.0, bytes=300),
        _span(layers.MATERIALIZE, 7.0, 7.6)])
    m = layers.op_layer_metrics(op)
    # counting for the trace is excluded from layer and epoch walls
    assert m["seen.probe_dedup_update.wall_s"] == 1.5
    assert m["scheduler.epoch.wall_s"] == 4.5
    assert m["scheduler.driver_gap_s"] == 4.5 - 0.5 - 1.5
    assert m["trace.coverage_share"] == 7.6 / 8.0
    assert m["seen.probe_dedup_update.bloom_fp_share"] == 4 / 94
    assert m["robots.mark_blocked.blocked_share"] == 0.1
    assert m["store.commit.bytes"] == 300
    assert set(m) <= set(layers.UNITS)
