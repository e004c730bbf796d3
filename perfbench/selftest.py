"""Self-tests of the benchmark itself, run from the repository root:

    python3 perfbench/selftest.py

1. The same seed gives byte-identical chain encodings, ticket streams,
   live drops and events table; another seed gives different ones.
2. The expected-result model agrees with the server's planner
   (``plan_request``) on a small chain, including the filter quirks.
3. A deliberately wrong expectation is caught: it raises the error rate.
4. ``BENCHMARK.json`` names exactly the metrics ``run.py`` reports.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from analytics import write_events  # noqa: E402
from chain import (  # noqa: E402
    SIGNATURES,
    Chain,
    ChainSpec,
    backfill_tickets,
    drop_table,
    live_drops,
)
from run import END_TO_END, PER_LAYER, Tally, check_chain_result  # noqa: E402


def fingerprint(seed: int) -> list:
    chain = Chain(seed)
    tickets = [
        json.dumps(t, sort_keys=True)
        for c in range(4) for t in itertools.islice(backfill_tickets(chain, seed, c), 40)
    ]
    sink = pa.BufferOutputStream()
    drops = live_drops(chain, seed, [3, 4], [1])
    tables = [drop_table(chain, *next(drops)) for _ in range(10)]
    with pa.ipc.new_stream(sink, tables[0].schema) as w:
        for t in tables:
            w.write_table(t)
    return [
        b"".join(x for block in chain.encode_logs() for x in block),
        b"".join(chain.encode_block(b) for b in range(chain.spec.n_blocks)),
        "\n".join(tickets).encode(),
        sink.getvalue().to_pybytes(),
    ]


def test_determinism() -> None:
    a, b, c = fingerprint(5), fingerprint(5), fingerprint(6)
    assert a == b, "same seed, different inputs"
    assert all(x != y for x, y in zip(a, c)), "different seeds, same inputs"
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        for sub in ("a", "b"):
            write_events(f"{d}/{sub}", 5, rows=2_000)
        with open(f"{d}/a/events.parquet", "rb") as a, open(f"{d}/b/events.parquet", "rb") as b:
            assert a.read() == b.read(), "same seed, different events table"
    print("ok: same seed -> identical chain, tickets, drops and events table")


SMALL = ChainSpec(n_blocks=300, n_addresses=40, dense_blocks=60,
                  empty_topics_frac=0.15)


def small_tickets(chain: Chain) -> list[dict]:
    rng = np.random.default_rng(7)
    a = chain.addresses
    out = [
        # the quirks: empty lists are not wildcards; empty topics pass
        {"dataset": "logs", "startBlock": chain.first, "endBlock": chain.last, "topics": []},
        {"dataset": "logs", "startBlock": chain.first, "endBlock": chain.last,
         "contractAddresses": []},
        {"dataset": "logs", "startBlock": chain.first, "endBlock": chain.last,
         "contractAddresses": [a[0].upper().replace("0X", "0x"), a[1]]},
        {"dataset": "blocks", "startBlock": chain.last - 10, "endBlock": chain.last + 10},
    ]
    for _ in range(16):
        lo = chain.first + int(rng.integers(0, 250))
        t = {"dataset": "logs", "startBlock": lo, "endBlock": lo + int(rng.integers(0, 60))}
        if rng.random() < 0.6:
            t["contractAddresses"] = [a[k] for k in rng.choice(len(a), 3, replace=False)]
        if rng.random() < 0.6:
            t["topics"] = [SIGNATURES[k] for k in rng.choice(len(SIGNATURES), 2, replace=False)]
        out.append(t)
    return out


def test_model_vs_planner() -> None:
    sys.path.insert(0, os.getcwd())
    from web3_flight_rpc_server_spark.plans.requests import ClientRequest, plan_request
    from web3_flight_rpc_server_spark.session import get_spark

    chain = Chain(9, SMALL)
    spark = get_spark(app_name="perfbench-selftest", cpus=2)
    try:
        logs = spark.createDataFrame(chain.logs_table())
        blocks = spark.createDataFrame(pa.table({
            "number": np.arange(chain.first, chain.last + 1, dtype=np.int64),
            "gasUsed": chain.gas_used.astype(np.int64),
        }))
        served = []
        for t in small_tickets(chain):
            table = plan_request(ClientRequest.from_json(json.dumps(t)),
                                 logs=logs, blocks=blocks).toArrow()
            assert check_chain_result(chain, t, table), f"model != planner for {t}"
            served.append((t, table))
        print(f"ok: model agrees with plan_request on {len(served)} tickets")

        class NoEmptyTopicsQuirk(Chain):
            """A wrong model: drops the empty-topics-pass quirk."""

            def expect_logs(self, start, end, addresses, topics):
                saved = self.topic0_id
                self.topic0_id = np.where(saved < 0, len(SIGNATURES), saved)
                try:
                    return super().expect_logs(start, end, addresses, topics)
                finally:
                    self.topic0_id = saved

        wrong = NoEmptyTopicsQuirk(9, SMALL)
        tally = Tally()
        for t, table in served:
            tally.record(check_chain_result(wrong, t, table), str(t))
        assert tally.error_rate > 0, "a wrong expectation went unnoticed"
        print(f"ok: a wrong expectation raises error_rate to {tally.error_rate:.2f}")
    finally:
        spark.stop()


def test_benchmark_json() -> None:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END, f"end_to_end differs: {set(e2e) ^ set(END_TO_END)}"
    assert layers == PER_LAYER, f"per_layer differs: {set(layers) ^ set(PER_LAYER)}"
    print("ok: BENCHMARK.json names the metrics run.py reports")


if __name__ == "__main__":
    test_determinism()
    test_benchmark_json()
    test_model_vs_planner()
