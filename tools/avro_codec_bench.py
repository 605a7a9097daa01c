#!/usr/bin/env python
"""Throughput probe for the pure-Python Avro codec (sources/avro_py).

Encodes and decodes synthetic rows for the four catalog schemas that run
through the codec, plus the evolving decode+align path (writer
``_AVRO_DOC_V2`` resolved against ``_AVRO_DOC_READER``).  Pure Python: no
Spark session starts, so the numbers are the codec's own per-row cost.
Each figure is the best of ``--rounds`` timed passes over ``--rows`` rows,
in thousands of records per second.

Usage: python tools/avro_codec_bench.py [--rows N] [--rounds R] [--seed S]

Prints one line per case, then one JSON line
``{"rows": N, "rounds": R, "krec_s": {case: {"encode": x, "decode": y}}}``.
Run-to-run spread on a shared host is large; compare interleaved runs.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import json
import os
import random
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_UTC = dt.timezone.utc
_T0 = dt.datetime(2023, 1, 1, tzinfo=_UTC)


def _text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_letters + " ") for _ in range(n))


def _money(rng: random.Random) -> decimal.Decimal:
    return decimal.Decimal(rng.randint(-10**9, 10**9)).scaleb(-2)


def _emb_row(rng, i):
    return (
        i,
        None if i % 5 == 0 else rng.randint(0, 9),
        "%032x" % rng.getrandbits(128),
        [rng.uniform(-1, 1) for _ in range(64)],
    )


def _txn_row(rng, i):
    ts = _T0 + dt.timedelta(microseconds=rng.randint(0, 10**13))
    refund = rng.random() < 0.2
    return (
        i,
        rng.randint(1, 10**6),
        "Refund" if refund else "Purchase",
        _money(rng),
        _money(rng) if refund else None,
        ts,
        ts.replace(microsecond=0) if i % 3 else None,
        rng.randint(1, 10**6) if i % 4 == 0 else None,
        rng.choice(["completed", "pending", "failed"]),
        ts.date(),
    )


def _envelope_row(rng, i):
    img = {
        "transaction_id": i,
        "account_id": rng.randint(1, 10**6),
        "amount": _money(rng),
        "transaction_date": _T0 + dt.timedelta(microseconds=rng.randint(0, 10**13)),
        "status": rng.choice(["completed", None]),
    }
    ts = rng.randint(10**12, 2 * 10**12)
    deleted = i % 10 == 0
    return (
        img if deleted else None,
        None if deleted else img,
        {"connector": "postgresql", "ts_ms": ts},
        "d" if deleted else "c",
        ts,
    )


def _doc_row(rng, i):
    return (
        i,
        None if i % 7 == 0 else rng.choice(["web", "books", "news"]),
        i % 5 - 2,
        rng.randint(50, 4000) * 0.5,
        i % 2 == 0,
        _text(rng, rng.randint(40, 400)),
    )


def _doc_v2_row(rng, i):
    return (i, rng.choice(["web", "books"]), rng.randint(50, 4000), "live")


def _best_rate(fn, n_rows: int, rounds: int) -> float:
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return n_rows / best / 1000.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from ultimate_data_engineering_project_spark.plans import (
        extra_queries as xq,
        fakestream_queries as fq,
    )
    from ultimate_data_engineering_project_spark.sources import avro_py

    cases = [
        ("avro_emb", xq._AVRO_EMB_SCHEMA, _emb_row),
        ("debezium_txn", fq._DEBEZIUM_TXN_SCHEMA, _txn_row),
        ("debezium_envelope", fq._DEBEZIUM_ENVELOPE_SCHEMA, _envelope_row),
        ("avro_doc", xq._AVRO_DOC_SCHEMA, _doc_row),
    ]
    out: dict[str, dict[str, float]] = {}
    for name, schema, make in cases:
        rng = random.Random(args.seed)
        fields = avro_py.parse_flat_schema(schema)
        rows = [make(rng, i) for i in range(args.rows)]
        bodies = [avro_py.encode_record(r, fields) for r in rows]
        enc = _best_rate(
            lambda: [avro_py.encode_record(r, fields) for r in rows],
            args.rows, args.rounds,
        )
        dec = _best_rate(
            lambda: [avro_py.decode_record(b, fields) for b in bodies],
            args.rows, args.rounds,
        )
        out[name] = {"encode": round(enc, 2), "decode": round(dec, 2)}

    rng = random.Random(args.seed)
    _, writers = avro_py.build_writer_aligners(
        {7: xq._AVRO_DOC_V1, 8: xq._AVRO_DOC_V2}, xq._AVRO_DOC_READER
    )
    wfields, align = writers[8]
    bodies = [
        avro_py.encode_record(_doc_v2_row(rng, i), wfields)
        for i in range(args.rows)
    ]
    evo = _best_rate(
        lambda: [align(avro_py.decode_record(b, wfields)) for b in bodies],
        args.rows, args.rounds,
    )
    out["doc_v2_to_reader"] = {"decode": round(evo, 2)}

    for name, rates in out.items():
        print(f"{name:20s} " + "  ".join(f"{k} {v:8.2f} krec/s" for k, v in rates.items()))
    print(json.dumps({"rows": args.rows, "rounds": args.rounds, "krec_s": out}))


if __name__ == "__main__":
    main()
