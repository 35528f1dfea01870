"""Seeded inputs for the benchmark, and the truth each output is checked against.

The program under test only ever receives what these functions return:
Kafka-shaped JSON messages for the ETL workload and the ``documents`` table
the registry query reads. Nothing here imports the package, so the
expected row counts are derived independently of the code being measured.

All block timestamps sit in the 24 hours before ``T_END`` (2100-01-01 UTC).
The canonical ETL queries keep rows newer than ``now() - 24h`` / ``1h``, so a
fixed future anchor keeps every row inside both windows: their outputs do the
same work on every run and do not drift with the wall clock.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

T_END = 4_102_444_800  # 2100-01-01T00:00:00Z
FIRST_BLOCK = 19_000_000

TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
SWAP_TOPIC = "0xd78ad95fa46c994b6551d0da85fc275fe613ce37657fb8d5e3d130840159d822"
ERC20_CONTRACTS = (
    "0xA0b86991c6218b36c1d19D4a2e9Eb0cE3606eB48",  # USDC
    "0xdAC17F958D2ee523a2206206994597C13D831ec7",  # USDT
    "0x6B175474E89094C44Da98b954EedeAC495271d0F",  # DAI
    "0xC02aaA39b223FE8D0A0e5C4F27eAD9083C756Cc2",  # WETH
)
NFT_CONTRACTS = (
    "0xBC4CA0EdA7647A8aB7C2061c2E118A18a936f13D",  # BAYC
    "0x60E4d786628Fea6478F785A6d7e704777c86a7c6",  # MAYC
)
SELECTORS = ("0xa9059cbb", "0x23b872dd", "0x095ea7b3", "0x42842e0e",
             "0xf242432a", "0x7ff36ab5", "0x38ed1739")  # last two: unknown
N_POOLS = 8
N_ADDRESSES = 2_000

# message mix per batch (shares of the batch; the rest are transactions)
SHARE_MALFORMED = 0.01
SHARE_TRANSFER = 0.50
SHARE_SWAP = 0.15
SHARE_NFT = 0.15            # of transfers
MESSAGES_PER_BLOCK = 10
MEV_EVERY = 12              # every 12th transaction pays a spiked gas price


@dataclass
class Batch:
    messages: list[str]
    truth: dict[str, int] = field(default_factory=dict)


def _hex(rng: random.Random, nbytes: int) -> str:
    return "0x" + rng.getrandbits(8 * nbytes).to_bytes(nbytes, "big").hex()


def _slot(value: int) -> str:
    return format(value, "064x")


def etl_batch(seed: int, batch_size: int) -> Batch:
    """One batch of ``batch_size`` reference-shaped messages: ERC-20/721
    transfer logs, Uniswap V2 Swap logs, transactions with MEV gas spikes,
    and ~1% malformed JSON."""
    rng = random.Random(seed)
    addresses = [_hex(rng, 20) for _ in range(N_ADDRESSES)]
    pools = [_hex(rng, 20) for _ in range(N_POOLS)]
    n_blocks = max(1, batch_size // MESSAGES_PER_BLOCK)
    msgs: list[str] = []
    tx_blocks: set[int] = set()
    hours: set[tuple[int, str]] = set()
    pool_swaps: dict[str, int] = {}
    n = {"transfers": 0, "swaps": 0, "transactions": 0, "malformed": 0}
    n_tx = 0
    for i in range(batch_size):
        block = FIRST_BLOCK + rng.randrange(n_blocks)
        ts = T_END - 86_400 + (block - FIRST_BLOCK) * 86_399 // n_blocks
        env = {"chain_id": 1, "network": "ethereum-mainnet",
               "block_number": block, "block_timestamp": ts,
               "ingested_at": float(ts + 2)}
        bad = rng.random() < SHARE_MALFORMED
        u = rng.random()
        if u < SHARE_TRANSFER:
            nft = rng.random() < SHARE_NFT
            contract = rng.choice(NFT_CONTRACTS if nft else ERC20_CONTRACTS)
            topics = [TRANSFER_TOPIC, _topic(rng.choice(addresses)),
                      _topic(rng.choice(addresses))]
            if nft:
                topics.append("0x" + _slot(rng.randrange(1, 10_000)))
                data = "0x"
            else:
                data = hex(rng.randrange(10**20, 10**23))
            env["event_type"] = "token_transfer"
            env["payload"] = {"tx_hash": _hex(rng, 32), "log_index": i,
                              "contract": contract, "topics": topics,
                              "data": data}
            if not bad:
                n["transfers"] += 1
                if not nft:
                    hours.add((ts // 3600, contract))
        elif u < SHARE_TRANSFER + SHARE_SWAP:
            pool = rng.choice(pools)
            amount_in = rng.randrange(10**15, 10**21)
            amount_out = rng.randrange(10**15, 10**21)
            slots = ((amount_in, 0, 0, amount_out) if rng.random() < 0.5
                     else (0, amount_in, amount_out, 0))
            env["event_type"] = "log"
            env["payload"] = {
                "tx_hash": _hex(rng, 32), "log_index": i, "contract": pool,
                "topics": [SWAP_TOPIC, _topic(rng.choice(addresses)),
                           _topic(rng.choice(addresses))],
                "data": "0x" + "".join(_slot(v) for v in slots)}
            if not bad:
                n["swaps"] += 1
                pool_swaps[pool] = pool_swaps.get(pool, 0) + 1
        else:
            gwei = (rng.uniform(200, 500) if n_tx % MEV_EVERY == 0
                    else rng.uniform(15, 80))
            n_tx += 1
            deploy = rng.random() < 0.02
            env["event_type"] = "transaction"
            env["payload"] = {
                "hash": _hex(rng, 32), "from": rng.choice(addresses),
                "to": None if deploy else rng.choice(addresses),
                "value_wei": str(int(rng.uniform(0, 5) * 1e18)),
                "gas": 21_000 if rng.random() < 0.6 else rng.randrange(50_000, 400_000),
                "gas_price": str(int(gwei * 1e9)),
                "nonce": i,
                "input": rng.choice(SELECTORS) + "0" * 56}
            if not bad:
                n["transactions"] += 1
                tx_blocks.add(block)
        msg = json.dumps(env)
        if bad:
            # cut mid-document: the envelope parser must drop it, not raise
            msg = msg[: len(msg) // 2]
            n["malformed"] += 1
        msgs.append(msg)
    n["block_agg"] = len(tx_blocks)
    n["transfer_volume"] = len(hours)
    n["swap_price_impact"] = sum(1 for c in pool_swaps.values() if c > 5)
    return Batch(msgs, n)


def _topic(address: str) -> str:
    """32-byte log topic holding a 20-byte address in its low bytes."""
    return "0x" + "0" * 24 + address[2:]


# --- registry input -------------------------------------------------------

# The documents table is generated from a fixed seed, not the run's seed:
# the registry query's expected digest is stored with the benchmark
# (expected.json) and is only valid for this exact table.
DOCS_SEED = 20_240_101
DOCS_ROWS = 500
VOCAB = ("a", "the", "spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "big", "join", "filter", "group",
         "hash", "customer", "sort", "order", "slow", "fast", "line", "part",
         "row", "agg", "key", "query", "scan", "batch")
LANGS = ("en", "en", "de", "es", "fr", "zh")
SHARE_NEAR_DUP = 0.05       # copy of an earlier document + " dup"
SHARE_EXACT_DUP = 0.01      # verbatim copy of an earlier document


def documents(n: int = DOCS_ROWS, seed: int = DOCS_SEED) -> dict[str, list]:
    """Column dict with the schema of the registry's ``documents`` table:
    random texts over a 30-word vocabulary, with planted near and exact
    duplicates for the dedup operators to find."""
    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n):
        u = rng.random()
        if texts and u < SHARE_NEAR_DUP:
            texts.append(rng.choice(texts) + " dup")
        elif texts and u < SHARE_NEAR_DUP + SHARE_EXACT_DUP:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }
