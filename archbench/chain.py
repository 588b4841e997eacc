"""Seeded synthetic EVM chain: the benchmark's input and its oracle.

Pure Python with no import from the archive, so the node process and the
oracle both build the identical chain from ``(workload, seed)`` and the
archive itself only ever sees the chain over JSON-RPC.

Shape of the chain:

- blocks ``[0, archive_blocks)`` exist when the node starts (the backfill
  range); blocks ``[archive_blocks, archive_blocks + tail_blocks)`` appear
  on a fixed schedule during the tail phase;
- per-block log counts are heavy-tailed (lognormal weights, a share of
  empty blocks), rescaled so the archived range and the tail each carry
  the same total for every seed;
- every log carries one of the ten default event topics with valid ABI
  words, mostly Transfer;
- about 0.5% of logs are re-delivered 1-30 blocks later as
  ``removed=true`` tombstones with the same primary key;
- two token/oracle pairs answer ``latestAnswer()`` at any block.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

# The ten default event views of the archive (name, topic0, params as
# (type, name, indexed)).  run.py asserts this equals the archive's own
# ``views.DEFAULT_EVENTS`` so the two cannot drift apart silently.
EVENTS = [
    ("Approval", "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925",
     [("address", "owner", True), ("address", "spender", True), ("uint256", "amount", False)]),
    ("AuthorityUpdated", "0xa3396fd7f6e0a21b50e5089d2da70d5ac0a3bbbd1f617a93f134b76389980198",
     [("address", "user", True), ("address", "newAuthority", True)]),
    ("Deposit", "0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7",
     [("address", "caller", True), ("address", "owner", True), ("uint256", "assets", False),
      ("uint256", "shares", False)]),
    ("FeePercentUpdated", "0xec370615cc81fb334e5566fbc80664d9082377bf59288d64a79f3fbecf4323a9",
     [("address", "user", True), ("uint256", "newFeePercent", False)]),
    ("OwnershipTransferred", "0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0",
     [("address", "user", True), ("address", "newOwner", True)]),
    ("StrategyDeposit", "0xc6f6f91a48277d76f232cc08a9a30f6b05b3fd9b92c3180c25936e17a22a1025",
     [("address", "user", True), ("uint256", "underlyingAmount", False)]),
    ("StrategyWithdrawal", "0xd5ad0f046bd35f48b421a3e575435de38cea1980177b1c6da935d2f26049f3fa",
     [("address", "user", True), ("uint256", "underlyingAmount", False)]),
    ("TargetFloatPercentUpdated", "0x95bc4480b51f4860106d42850bcae222cf3303fb2b7d433e896205e0ebefe369",
     [("address", "user", True), ("uint256", "newTargetFloatPercent", False)]),
    ("Transfer", "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef",
     [("address", "from", True), ("address", "to", True), ("uint256", "amount", False)]),
    ("Withdraw", "0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db",
     [("address", "caller", True), ("address", "receiver", True), ("address", "owner", True),
      ("uint256", "assets", False), ("uint256", "shares", False)]),
]
TRANSFER = EVENTS[8]
# Transfer dominates; the other nine share the rest evenly.
EVENT_WEIGHTS = [0.04] * 8 + [0.68] + [0.04]

LATEST_ANSWER = "0x50d25bcd"
TOMBSTONE_RATE = 0.005
TOMBSTONE_MAX_DELAY = 30
GENESIS_TS = 1_700_006_400  # 2023-11-15 00:00:00 UTC


@dataclass(frozen=True)
class Shape:
    """Workload-dependent chain shape.  The two shapes are brackets chosen
    to put volume costs (dense) or fixed costs (sparse) in front, not
    figures measured on the archive's real traffic; see DESIGN.md."""

    archive_blocks: int
    tail_blocks: int
    logs_per_block: float  # mean over all blocks, empty ones included
    empty_share: float
    sigma: float  # lognormal spread of the non-empty block weights
    block_gap_s: int  # mean seconds between block timestamps
    pg_cycle_factor: int  # pg_mirror repeats short passes more often


SHAPES = {
    "dense": Shape(archive_blocks=600, tail_blocks=120, logs_per_block=8.0,
                   empty_share=0.1, sigma=1.2, block_gap_s=24, pg_cycle_factor=3),
    "sparse": Shape(archive_blocks=600, tail_blocks=120, logs_per_block=1.0,
                    empty_share=0.6, sigma=1.0, block_gap_s=24, pg_cycle_factor=5),
}


def _h(*parts) -> str:
    return hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()


def _word_addr(addr: str) -> str:
    return "0x" + "0" * 24 + addr[2:]


def _word_uint(v: int) -> str:
    return format(v, "064x")


@dataclass
class Chain:
    workload: str
    seed: int
    shape: Shape
    contracts: list[str] = field(default_factory=list)
    tokens: list[str] = field(default_factory=list)
    oracles: list[str] = field(default_factory=list)
    holders: list[str] = field(default_factory=list)
    by_block: dict[int, list[dict]] = field(default_factory=dict)
    # tombstone wire logs keyed by the block whose scan re-delivers them
    tombstones_at: dict[int, list[dict]] = field(default_factory=dict)
    timestamps: list[int] = field(default_factory=list)

    @property
    def n_blocks(self) -> int:
        return self.shape.archive_blocks + self.shape.tail_blocks

    # ----- JSON-RPC answers (the node serves exactly these) -------------

    def get_logs(self, lo: int, hi: int) -> list[dict]:
        """eth_getLogs over [lo, hi]: the live logs of those blocks, then
        the tombstones a scan of those blocks re-delivers."""
        out = []
        for b in range(lo, hi + 1):
            out.extend(self.by_block.get(b, ()))
        for b in range(lo, hi + 1):
            out.extend(self.tombstones_at.get(b, ()))
        return out

    def header(self, b: int) -> dict:
        return {
            "number": hex(b),
            "hash": self.block_hash(b),
            "timestamp": hex(self.timestamps[b]),
        }

    def block_hash(self, b: int) -> str:
        return "0x" + _h("bh", self.seed, b)

    def price(self, oracle: str, b: int) -> int:
        """Chainlink-style USD x 1e8 answer of ``oracle`` at block b."""
        h = int(_h("px", self.seed, oracle, b), 16)
        return 100_000_000 * (1_000 + h % 3_000) + (h >> 32) % 100_000_000

    def eth_call_result(self, oracle: str, b: int) -> str:
        return "0x" + _word_uint(self.price(oracle, b))


def rpc_bytes(obj) -> bytes:
    """Canonical JSON encoding shared by the node and the byte-for-byte
    self-test."""
    return json.dumps(obj, separators=(",", ":")).encode()


def _counts(rng: random.Random, n: int, shape: Shape) -> list[int]:
    """Heavy-tailed counts for ``n`` blocks with an exact total (largest
    remainder), so every seed carries the same number of logs."""
    total = round(shape.logs_per_block * n)
    w = [0.0 if rng.random() < shape.empty_share else rng.lognormvariate(0, shape.sigma)
         for _ in range(n)]
    s = sum(w) or 1.0
    raw = [x * total / s for x in w]
    counts = [int(x) for x in raw]
    rest = total - sum(counts)
    order = sorted(range(n), key=lambda i: raw[i] - counts[i], reverse=True)
    for i in order[:rest]:
        counts[i] += 1
    return counts


def build(workload: str, seed: int) -> Chain:
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    c = Chain(workload, seed, shape)
    c.contracts = ["0x" + _h("contract", seed, i)[:40] for i in range(24)]
    c.tokens = c.contracts[:2]
    c.oracles = ["0x" + _h("oracle", seed, i)[:40] for i in range(2)]
    c.holders = ["0x" + _h("holder", seed, i)[:40] for i in range(300)]
    # contract and holder popularity is skewed (Zipf-like)
    contract_w = [1.0 / (i + 1) for i in range(len(c.contracts))]
    holder_w = [1.0 / (i + 1) ** 0.8 for i in range(len(c.holders))]

    ts = GENESIS_TS
    for _ in range(c.n_blocks):
        c.timestamps.append(ts)
        ts += rng.randint(shape.block_gap_s // 2, shape.block_gap_s * 3 // 2)

    # the archived range and the tail each get an exact total
    counts = (_counts(rng, shape.archive_blocks, shape)
              + _counts(rng, shape.tail_blocks, shape))
    for b, k in enumerate(counts):
        bh = c.block_hash(b)
        block_logs = []
        for i in range(k):
            name, topic0, params = rng.choices(EVENTS, EVENT_WEIGHTS)[0]
            topics = [topic0]
            data = ""
            for typ, _pname, indexed in params:
                if typ == "address":
                    word = _word_addr(rng.choices(c.holders, holder_w)[0])
                else:
                    word = "0x" + _word_uint(rng.randrange(1, 10**21))
                if indexed:
                    topics.append(word)
                else:
                    data += word[2:]
            tx_index = i // 2
            log = {
                "address": rng.choices(c.contracts, contract_w)[0],
                "topics": topics,
                "data": "0x" + data,
                "blockHash": bh,
                "blockNumber": hex(b),
                "transactionHash": "0x" + _h("tx", seed, b, tx_index),
                "transactionIndex": hex(tx_index),
                "logIndex": hex(i),
                "removed": False,
            }
            block_logs.append(log)
            if rng.random() < TOMBSTONE_RATE:
                at = b + rng.randint(1, TOMBSTONE_MAX_DELAY)
                c.tombstones_at.setdefault(at, []).append({**log, "removed": True})
        if block_logs:
            c.by_block[b] = block_logs
    return c


# ----- oracle: storage-shape rows and resolved state ------------------------

PK = ("block_hash", "transaction_hash", "log_index")


def storage_row(log: dict, ts: int | None) -> dict:
    """The row the archive should store for one wire log (storage shape:
    four topic columns with '' for absent ones, '0x' data as NULL)."""
    t = list(log["topics"]) + [""] * (4 - len(log["topics"]))
    data = log["data"]
    return {
        "address": log["address"],
        "topic0": t[0], "topic1": t[1], "topic2": t[2], "topic3": t[3],
        "data": None if data in ("0x", "") else data,
        "block_hash": log["blockHash"],
        "block_number": int(log["blockNumber"], 16),
        "transaction_hash": log["transactionHash"],
        "transaction_index": int(log["transactionIndex"], 16),
        "log_index": int(log["logIndex"], 16),
        "removed": log["removed"],
        "block_timestamp": ts,
    }


def pk_of(row: dict) -> tuple:
    return tuple(row[k] for k in PK)


def delivered_rows(c: Chain, lo: int, hi: int) -> list[dict]:
    """Every row (live and tombstone) a scan of [lo, hi] delivers."""
    return [storage_row(lg, c.timestamps[int(lg["blockNumber"], 16)])
            for lg in c.get_logs(lo, hi)]


def resolved(rows: list[dict]) -> dict[tuple, dict]:
    """Reorg-resolved state: a PK ever delivered with removed=true is
    gone; the rest keep one row."""
    dead = {pk_of(r) for r in rows if r["removed"]}
    return {pk_of(r): r for r in rows if not r["removed"] and pk_of(r) not in dead}


def decode_word(hexdata: str, k: int) -> int:
    return int(hexdata[2 + 64 * k: 2 + 64 * (k + 1)], 16)


def topic_addr(topic: str) -> str:
    return "0x" + topic[-40:]
