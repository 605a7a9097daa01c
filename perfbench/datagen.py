"""Seeded inputs of the benchmark.

The seed sets the order of the queries within a pass and the
Debezium-style change envelopes the CDC workload lands; the query
workloads read the fixed fixture tables under ``fixtures/``.  The same
seed gives byte-identical envelopes and the same order; the engine
never sees the seed itself.
"""

from __future__ import annotations

import json
import random

# --- CDC change stream -----------------------------------------------------

STATUSES = ["active", "frozen", "closed"]


def _account(rng: random.Random, key: int) -> dict:
    return {
        "account_id": key,
        "customer_id": rng.randrange(1, 40_000),
        "balance": round(rng.uniform(-500.0, 50_000.0), 2),
        "status": rng.choices(STATUSES, weights=(90, 7, 3))[0],
    }


def envelope(op: str, ts_ms: int, before: dict | None, after: dict | None) -> str:
    return json.dumps({
        "op": op,
        "ts_ms": ts_ms,
        "before": json.dumps(before) if before is not None else None,
        "after": json.dumps(after) if after is not None else None,
    })


class ChangeFeed:
    """A seeded Debezium-style change feed over an accounts table.

    ``snapshot()`` gives the initial image as ``op='r'`` envelopes;
    each ``next_batch()`` gives a micro-batch of about 85% updates, 10%
    creates and 5% deletes whose keys follow a Zipf-like skew.  The feed
    keeps its own last-writer-wins image, which is the expected table
    after every change emitted so far."""

    def __init__(self, seed: int, n_keys: int, batch_changes: int):
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.batch_changes = batch_changes
        self.image: dict[int, dict] = {}
        self.next_key = n_keys
        self.ts_ms = 1_700_000_000_000
        self._hot = list(range(n_keys))
        self.rng.shuffle(self._hot)

    def snapshot(self) -> list[str]:
        lines = []
        for key in range(self.n_keys):
            row = _account(self.rng, key)
            self.image[key] = row
            lines.append(envelope("r", self.ts_ms, None, row))
        return lines

    def _skewed_key(self) -> int:
        # log-uniform rank: a few hot accounts take most of the churn
        rank = int(len(self._hot) ** self.rng.random()) - 1
        return self._hot[rank]

    def next_batch(self) -> list[str]:
        lines = []
        while len(lines) < self.batch_changes:
            self.ts_ms += self.rng.randrange(1, 5)
            r = self.rng.random()
            if r < 0.10:
                key = self.next_key
                self.next_key += 1
                op, old, new = "c", None, _account(self.rng, key)
            elif r < 0.15:
                key = self.rng.randrange(self.next_key)
                op, old, new = "d", self.image.get(key), None
                if old is None:
                    continue
            else:
                key = self._skewed_key()
                old = self.image.get(key)
                if old is None:
                    op, new = "c", _account(self.rng, key)
                else:
                    op = "u"
                    new = dict(old, balance=round(old["balance"] + self.rng.uniform(-900.0, 900.0), 2))
                    if self.rng.random() < 0.05:
                        new["status"] = self.rng.choice(STATUSES)
            if new is None:
                del self.image[key]
            else:
                self.image[key] = new
            lines.append(envelope(op, self.ts_ms, old, new))
        return lines


def envelope_key(line: str) -> int:
    env = json.loads(line)
    return json.loads(env["after"] or env["before"])["account_id"]


def fold(lines: list[str]) -> dict[int, dict]:
    """Pure-Python last-writer-wins fold of envelope lines (ts_ms order,
    ties broken by line order), the reference the CDC table image must
    equal."""
    image: dict[int, tuple[int, dict | None]] = {}
    for line in lines:
        env = json.loads(line)
        row = json.loads(env["after"] or env["before"])
        key = row["account_id"]
        prev = image.get(key)
        if prev is not None and prev[0] > env["ts_ms"]:
            continue
        image[key] = (env["ts_ms"], None if env["op"] == "d" else row)
    return {k: row for k, (_, row) in image.items() if row is not None}


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def query_order(names: list[str], seed: int) -> list[str]:
    """The seed's order of the queries within a pass."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
