"""The benchmark's inputs are a pure function of its seed, and its
last-writer-wins fold catches a lost change.

    python3 -m pytest perfbench/test_datagen.py -q
"""

from __future__ import annotations

import json

import datagen
import workloads


def _feed_bytes(seed: int) -> bytes:
    feed = datagen.ChangeFeed(seed, 2_000, 300)
    lines = feed.snapshot() + feed.next_batch() + feed.next_batch()
    return "\n".join(lines).encode()


def test_same_seed_same_envelopes_different_seed_differs():
    assert _feed_bytes(7) == _feed_bytes(7)
    assert _feed_bytes(7) != _feed_bytes(8)


def test_same_seed_same_query_order_different_seed_differs():
    names = workloads.CORPUS_DEDUP
    assert datagen.query_order(names, 7) == datagen.query_order(names, 7)
    assert datagen.query_order(names, 7) != datagen.query_order(names, 8)
    assert sorted(datagen.query_order(names, 7)) == sorted(names)


def test_change_mix_is_mostly_updates():
    feed = datagen.ChangeFeed(3, 10_000, 300)
    feed.snapshot()
    ops = [json.loads(line)["op"] for _ in range(20) for line in feed.next_batch()]
    share = {op: ops.count(op) / len(ops) for op in "ucd"}
    assert 0.80 < share["u"] < 0.90
    assert 0.07 < share["c"] < 0.13
    assert 0.03 < share["d"] < 0.07


def test_fold_equals_feed_image_and_catches_a_lost_change():
    feed = datagen.ChangeFeed(5, 1_000, 300)
    lines = feed.snapshot()
    for _ in range(5):
        lines += feed.next_batch()
    assert datagen.fold(lines) == feed.image
    # dropping the last change of a key leaves an older image behind
    assert datagen.fold(lines[:-1]) != feed.image
