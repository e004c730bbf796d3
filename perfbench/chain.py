"""Seeded chain, ticket streams and the expected-result model.

Everything here is a pure function of the seed: the same seed gives
byte-identical pre-encoded node responses, ticket streams and live
drops (``selftest.py`` checks it). The model reproduces the server's
request semantics independently of Spark:

- addresses match case-insensitively;
- the topics filter tests only topics[0], and logs with an empty
  topics array pass it;
- a block range is inclusive on both ends; blocks are never filtered
  beyond the range.

A result is summarised as (rows, checksum): the checksum is an
order-insensitive 64-bit sum over a per-row key hash, so the server's
answer and the model's agree exactly when both hold the same rows.
"""

from __future__ import annotations

import itertools
import json
from dataclasses import dataclass

import numpy as np

BASE_BLOCK = 18_000_000
NODE_RESULT_LIMIT = 10_000
NODE_LIMIT_ERROR = "query returned more than 10000 results"

# topic0 of common ERC-20/721/DEX events, most frequent first
SIGNATURES = [
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef",  # Transfer
    "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925",  # Approval
    "0xd78ad95fa46c994b6551d0da85fc275fe613ce37657fb8d5e3d130840159d822",  # Swap (v2)
    "0x1c411e9a96e071241c2f21f7726b17ae89e3cab4c78be50e062b03a9fffbbad1",  # Sync
    "0xc42079f94a6350d7e6235f29174924f928cc2ac818eb64fed8004e115fbcca67",  # Swap (v3)
    "0xe1fffcc4923d04b559f4d29a8bfc6cda04eb5b0d3c460751c2402c5c5cc9109c",  # Deposit
    "0x7fcf532c15f0a6db0bd6d0e038bea71d30d808c7d98cb3bf7268a95bf5081b65",  # Withdrawal
    "0x17307eab39ab6107e8899845ad3d59bd9653f200f220920489ca2b5937696c31",  # ApprovalForAll
    "0x4c209b5fc8ad50758f13e2e1088ba56a560dff690a1c6fef26394f4c03821c4f",  # Mint
    "0xdccd412f0b1252819cb1fd330b93224ca42612892bb3f4f789976e6d81936496",  # Burn
]
SIGNATURE_WEIGHTS = np.array([40, 18, 10, 8, 6, 5, 5, 3, 3, 2], dtype=float)

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _hash64(key: np.ndarray) -> np.ndarray:
    """Vectorised 64-bit mixer (wrapping arithmetic)."""
    h = key.astype(np.uint64) * _MIX
    h ^= h >> np.uint64(29)
    return h * np.uint64(0xBF58476D1CE4E5B9)


def logs_checksum(block: np.ndarray, log_index: np.ndarray) -> int:
    """Order-insensitive checksum over (blockNumber, logIndex)."""
    if len(block) == 0:
        return 0
    key = block.astype(np.uint64) * np.uint64(1 << 20) + log_index.astype(np.uint64)
    with np.errstate(over="ignore"):
        return int(_hash64(key).sum(dtype=np.uint64))


def blocks_checksum(number: np.ndarray, gas_used: np.ndarray) -> int:
    """Order-insensitive checksum over (number, gasUsed)."""
    if len(number) == 0:
        return 0
    key = number.astype(np.uint64) ^ (gas_used.astype(np.uint64) << np.uint64(24))
    with np.errstate(over="ignore"):
        return int(_hash64(key).sum(dtype=np.uint64))


@dataclass
class ChainSpec:
    n_blocks: int = 1_500
    n_addresses: int = 2_000
    logs_per_block: float = 16.0
    dense_blocks: int = 1_000
    dense_logs_per_block: float = 26.0
    empty_topics_frac: float = 0.03
    zipf_s: float = 1.1


class Chain:
    """A seeded chain: per-log columns in block order, plus the
    per-block header fields the node serves."""

    def __init__(self, seed: int, spec: ChainSpec | None = None,
                 first_block: int = BASE_BLOCK):
        self.spec = spec = spec or ChainSpec()
        rng = np.random.default_rng([seed, 0xC4A1])
        self.first = first_block
        self.last = first_block + spec.n_blocks - 1
        self.addresses = [
            "0x" + rng.bytes(20).hex() for _ in range(spec.n_addresses)
        ]
        counts = rng.poisson(spec.logs_per_block, spec.n_blocks)
        # one dense stretch at the head (a popular mint, an airdrop):
        # 500-block pages over it exceed the node's 10,000-result limit
        lo = spec.n_blocks - spec.dense_blocks
        counts[lo:] = rng.poisson(
            spec.dense_logs_per_block, spec.dense_blocks
        )
        self.dense_range = (first_block + lo,
                            first_block + lo + spec.dense_blocks - 1)
        n = int(counts.sum())
        self.block = np.repeat(
            np.arange(first_block, first_block + spec.n_blocks, dtype=np.int64),
            counts,
        )
        starts = np.repeat(np.cumsum(counts) - counts, counts)
        self.log_index = (np.arange(n) - starts).astype(np.int64)
        ranks = np.arange(1, spec.n_addresses + 1, dtype=float)
        p = ranks ** -spec.zipf_s
        self.address_p = p / p.sum()   # Zipf: address k has rank k + 1
        self.addr_id = rng.choice(spec.n_addresses, n, p=self.address_p).astype(np.int32)
        sw = SIGNATURE_WEIGHTS / SIGNATURE_WEIGHTS.sum()
        self.topic0_id = rng.choice(len(SIGNATURES), n, p=sw).astype(np.int32)
        self.topic0_id[rng.random(n) < spec.empty_topics_frac] = -1
        self.n_topics = rng.integers(1, 4, n)
        # ~3 logs per transaction
        self.tx_index = (self.log_index // 3).astype(np.int64)
        self.data_len = rng.integers(0, 4, n) * 32
        self.gas_used = rng.integers(1_000_000, 30_000_000, spec.n_blocks)
        self.timestamp = 1_700_000_000 + 12 * np.arange(spec.n_blocks, dtype=np.int64)
        self.counts = counts
        self.offsets = np.concatenate([[0], np.cumsum(counts)])

    @property
    def n_logs(self) -> int:
        return len(self.block)

    # -- node encodings -------------------------------------------------
    def encode_logs(self) -> list[list[bytes]]:
        """Per block, the JSON of each log as eth_getLogs returns it."""
        out = []
        addrs = self.addresses
        for b in range(self.spec.n_blocks):
            number = self.first + b
            bh = f"0x{number:064x}"
            items = []
            for i in range(self.offsets[b], self.offsets[b + 1]):
                li = int(self.log_index[i])
                t0 = int(self.topic0_id[i])
                if t0 < 0:
                    topics = "[]"
                else:
                    extra = "".join(
                        f',"0x{(number * 4096 + li * 8 + k):064x}"'
                        for k in range(1, int(self.n_topics[i]))
                    )
                    topics = f'["{SIGNATURES[t0]}"{extra}]'
                data = "0x" + f"{number ^ (li << 40):064x}" * (int(self.data_len[i]) // 32)
                txi = int(self.tx_index[i])
                items.append(
                    (
                        f'{{"address":"{addrs[self.addr_id[i]]}","topics":{topics},'
                        f'"data":"{data}","blockNumber":"{hex(number)}",'
                        f'"transactionHash":"0x{number:032x}{txi:032x}",'
                        f'"transactionIndex":"{hex(txi)}","blockHash":"{bh}",'
                        f'"logIndex":"{hex(li)}","removed":false}}'
                    ).encode()
                )
            out.append(items)
        return out

    def encode_block(self, b: int) -> bytes:
        number = self.first + b
        n_tx = int(self.tx_index[self.offsets[b + 1] - 1]) + 1 if self.counts[b] else 0
        txs = ",".join(f'"0x{number:032x}{t:032x}"' for t in range(n_tx))
        return json.dumps(
            {
                "number": hex(number),
                "hash": f"0x{number:064x}",
                "parentHash": f"0x{number - 1:064x}",
                "nonce": f"0x{(number * 2654435761) % (1 << 64):016x}",
                "miner": self.addresses[number % 7],
                "difficulty": "0x0",
                "totalDifficulty": "0xc70d815d562d3cfa955",
                "extraData": "0x",
                "size": hex(1000 + int(self.counts[b]) * 180),
                "gasLimit": hex(30_000_000),
                "gasUsed": hex(int(self.gas_used[b])),
                "timestamp": hex(int(self.timestamp[b])),
                "transactions": "__TXS__",
                "uncles": [],
            },
            separators=(",", ":"),
        ).replace('"__TXS__"', f"[{txs}]").encode()

    # -- expected-result model ------------------------------------------
    def expect_logs(self, start: int, end: int, addresses: list[str] | None,
                    topics: list[str] | None) -> tuple[int, int]:
        lo = int(np.searchsorted(self.block, start, "left"))
        hi = int(np.searchsorted(self.block, end, "right"))
        mask = np.ones(hi - lo, dtype=bool)
        if addresses is not None:
            wanted = {a.lower() for a in addresses}
            ids = [i for i, a in enumerate(self.addresses) if a in wanted]
            mask &= np.isin(self.addr_id[lo:hi], ids)
        if topics is not None:
            ids = [i for i, t in enumerate(SIGNATURES) if t in set(topics)]
            t0 = self.topic0_id[lo:hi]
            mask &= (t0 < 0) | np.isin(t0, ids)
        return int(mask.sum()), logs_checksum(
            self.block[lo:hi][mask], self.log_index[lo:hi][mask]
        )

    def expect_blocks(self, start: int, end: int) -> tuple[int, int]:
        lo = max(start, self.first) - self.first
        hi = min(end, self.last) - self.first + 1
        if hi <= lo:
            return 0, 0
        number = np.arange(self.first + lo, self.first + hi, dtype=np.int64)
        return hi - lo, blocks_checksum(number, self.gas_used[lo:hi])

    def expect(self, ticket: dict) -> tuple[int, int]:
        if ticket["dataset"] == "blocks":
            return self.expect_blocks(ticket["startBlock"], ticket["endBlock"])
        return self.expect_logs(
            ticket["startBlock"], ticket["endBlock"],
            ticket.get("contractAddresses"), ticket.get("topics"),
        )

    # -- parquet store (the subscribe workload's history) ---------------
    def logs_table(self, lo: int = 0, hi: int | None = None):
        """Logs [lo, hi) (indices into the log arrays) as an Arrow
        table in the server's canonical 9-column logs schema."""
        import pyarrow as pa

        hi = self.n_logs if hi is None else hi
        sl = slice(lo, hi)
        number = self.block[sl]
        li = self.log_index[sl]
        t0 = self.topic0_id[sl]
        topics = [
            [] if t < 0 else [SIGNATURES[t]] + [
                f"0x{(int(n) * 4096 + int(i) * 8 + k):064x}"
                for k in range(1, int(nt))
            ]
            for n, i, t, nt in zip(number, li, t0, self.n_topics[sl])
        ]
        return pa.table(
            {
                "address": pa.array([self.addresses[a] for a in self.addr_id[sl]]),
                "data": pa.array([
                    "0x" + f"{int(n) ^ (int(i) << 40):064x}" * (int(d) // 32)
                    for n, i, d in zip(number, li, self.data_len[sl])
                ]),
                "topics": pa.array(topics, pa.list_(pa.string())),
                "blockNumber": pa.array(number, pa.int64()),
                "transactionHash": pa.array([
                    f"0x{int(n):032x}{int(t):032x}"
                    for n, t in zip(number, self.tx_index[sl])
                ]),
                "transactionIndex": pa.array(self.tx_index[sl], pa.int32()),
                "blockHash": pa.array([f"0x{int(n):064x}" for n in number]),
                "logIndex": pa.array(li, pa.int32()),
                "removed": pa.array(np.zeros(hi - lo, dtype=bool)),
            }
        )


def mixed_case(address: str, rng: np.random.Generator) -> str:
    """The same address with random hex letters upper-cased, as a
    client pasting an EIP-55 checksummed address would send it."""
    body = "".join(
        c.upper() if c.isalpha() and rng.random() < 0.5 else c
        for c in address[2:]
    )
    return "0x" + body


# ticket kinds of the serve phase, in the order each client cycles
# through them
TICKET_CYCLE = ["filtered", "logs_page", "blocks_page", "filtered", "logs_page",
                "filtered", "blocks_page", "logs_page", "filtered", "wide"]


def backfill_tickets(chain: Chain, seed: int, client: int):
    """Endless seeded ticket stream of one serve-phase client: the
    notebook's filtered 1k-block reads, the reference's 500-block logs
    and blocks pages, and a small share of wide ranges pulled through
    get_flight_info (each shard crosses the spill threshold). The mix
    is a fixed cycle, started at a different point per client, so runs
    differ in ranges and filters but not in proportions."""
    rng = np.random.default_rng([seed, 0xB4CF, client])
    n_addr = chain.spec.n_addresses
    span = chain.spec.n_blocks
    # logs pages clear of the dense stretch stay under the spill threshold
    lo, hi = (b - chain.first for b in chain.dense_range)
    sparse = [pg for pg in range(span // 500) if pg * 500 > hi or pg * 500 + 499 < lo]
    for n in itertools.count(3 * client):
        kind = TICKET_CYCLE[n % len(TICKET_CYCLE)]
        if kind == "filtered":
            # ranges at fixed offsets, so runs scan alike; filters vary
            start = chain.first + (n * 97) % (span - 999)
            addrs = [chain.addresses[a] for a in
                     rng.choice(n_addr, int(rng.integers(1, 4)), p=chain.address_p)]
            if rng.random() < 0.3:
                addrs = [mixed_case(a, rng) for a in addrs]
            topics = [SIGNATURES[t] for t in
                      rng.choice(len(SIGNATURES), int(rng.integers(1, 3)),
                                 replace=False)]
            yield {"dataset": "logs", "startBlock": start,
                   "endBlock": start + 999, "contractAddresses": addrs,
                   "topics": topics}
        elif kind in ("logs_page", "blocks_page"):
            page = int(rng.choice(sparse if kind == "logs_page" else span // 500))
            start = chain.first + page * 500
            yield {"dataset": "logs" if kind == "logs_page" else "blocks",
                   "startBlock": start, "endBlock": start + 499}
        else:
            start = chain.first + int(rng.integers(0, span - 1400))
            yield {"dataset": "logs", "startBlock": start,
                   "endBlock": start + 1399, "shardBlocks": 700}


def live_drops(chain: Chain, seed: int, address_ids: list[int],
               topic_ids: list[int]):
    """Endless seeded stream of one-block drops following the chain
    head. Each block carries exactly one log from each address in
    ``address_ids``, one with each topic0 in ``topic_ids`` and one with
    empty topics (it passes every topics filter); the rest are drawn
    like the chain's but match none of these filters. So every drop
    gives each subscriber the same number of rows on every seed."""
    rng = np.random.default_rng([seed, 0xD409])
    n_addr = chain.spec.n_addresses
    sw = SIGNATURE_WEIGHTS / SIGNATURE_WEIGHTS.sum()
    other_topic = next(k for k in range(len(SIGNATURES)) if k not in topic_ids)
    forced = len(address_ids) + len(topic_ids)
    number = chain.last
    while True:
        number += 1
        n = forced + 1 + int(rng.integers(1, 9))
        addr_id = rng.choice(n_addr, n, p=chain.address_p).astype(np.int32)
        topic0 = rng.choice(len(SIGNATURES), n, p=sw).astype(np.int32)
        addr_id[np.isin(addr_id, address_ids)] = n_addr - 1
        topic0[np.isin(topic0, topic_ids)] = other_topic
        addr_id[:len(address_ids)] = address_ids
        topic0[len(address_ids):forced] = topic_ids
        topic0[forced] = -1
        yield number, addr_id, topic0


def drop_table(chain: Chain, number: int, addr_id: np.ndarray,
               topic0: np.ndarray):
    """One live drop as an Arrow table in the canonical logs schema."""
    import pyarrow as pa

    n = len(addr_id)
    return pa.table(
        {
            "address": pa.array([chain.addresses[a] for a in addr_id]),
            "data": pa.array([f"0x{number:064x}"] * n),
            "topics": pa.array(
                [[] if t < 0 else [SIGNATURES[t]] for t in topic0],
                pa.list_(pa.string()),
            ),
            "blockNumber": pa.array(np.full(n, number), pa.int64()),
            "transactionHash": pa.array(
                [f"0x{number:032x}{i:032x}" for i in range(n)]
            ),
            "transactionIndex": pa.array(np.arange(n), pa.int32()),
            "blockHash": pa.array([f"0x{number:064x}"] * n),
            "logIndex": pa.array(np.arange(n), pa.int32()),
            "removed": pa.array(np.zeros(n, dtype=bool)),
        }
    )


def drop_matches(addr_id: np.ndarray, topic0: np.ndarray,
                 address_ids: list[int] | None,
                 topic_ids: list[int] | None) -> np.ndarray:
    """Row mask of a drop under a subscriber's filter (model side)."""
    mask = np.ones(len(addr_id), dtype=bool)
    if address_ids is not None:
        mask &= np.isin(addr_id, address_ids)
    if topic_ids is not None:
        mask &= (topic0 < 0) | np.isin(topic0, topic_ids)
    return mask
