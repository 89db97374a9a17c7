"""Seeded chain-WAL generator for the replay workloads.

Writes the engine's change-event envelope (``seq, block_number,
block_hash, entity_type, op, payload``) as one seq-ordered parquet file:
per block one block row, ``txs`` transactions and receipts, and ``txs *
logs`` ERC-20 Transfer logs, 60 % of them on one hot token. ``seq`` is
``block * 16 + intra`` (block 0, transaction 1, receipt 2, log 3), the
layout the engine's tailer aligns batches on. The payloads carry the same
fields and encodings as the engine's own synthetic WAL; the generator is
the benchmark's, so the program under test only receives its output and a
change to the engine cannot change the inputs.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_PER_BLOCK = 16
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
HOT_TOKEN = "0x" + "beef" * 10
HOT_SHARE = 0.6

SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("block_number", pa.int64()),
    ("block_hash", pa.string()),
    ("entity_type", pa.string()),
    ("op", pa.string()),
    ("payload", pa.string()),
])


def _hex(*parts) -> str:
    return "0x" + hashlib.sha256(":".join(map(str, parts)).encode()).hexdigest()


def _addr(*parts) -> str:
    return _hex(*parts)[:42]


def _word(value: int) -> str:
    return f"{value:064x}"


def generate(path: str, seed: int, n_blocks: int, txs: int = 4, logs: int = 2) -> int:
    """Write the reorg-free WAL of ``n_blocks`` blocks for ``seed`` to
    ``path`` (a parquet file); returns the number of events."""
    rng = np.random.default_rng(seed)
    hot = rng.random((n_blocks, txs, logs)) < HOT_SHARE
    token_salt = rng.integers(0, 37, (n_blocks, txs, logs))
    holders = rng.integers(0, 211, (n_blocks, txs, logs, 2))
    amounts = rng.integers(1, 1000, (n_blocks, txs, logs)) * 1_000_000
    senders = rng.integers(0, 1000, (n_blocks, txs))
    receivers = rng.integers(0, 500, (n_blocks, txs))
    rows: dict[str, list] = {name: [] for name in SCHEMA.names}

    def emit(block, block_hash, entity, intra, payload):
        rows["seq"].append(block * SEQ_PER_BLOCK + intra)
        rows["block_number"].append(block)
        rows["block_hash"].append(block_hash)
        rows["entity_type"].append(entity)
        rows["op"].append("upsert")
        # like Spark's to_json, absent (null) fields are left out
        rows["payload"].append(
            json.dumps({k: v for k, v in payload.items() if v is not None}, separators=(",", ":"))
        )

    for n in range(n_blocks):
        bh = _hex("blk", seed, n)
        ts = 1_600_000_000 + n * 12
        emit(n, bh, "block", 0, {
            "number": n, "hash": bh, "parent_hash": _hex("blk", seed, n - 1),
            "nonce": f"{n * 7 + 1:x}", "miner": _addr("miner", n % 50),
            "difficulty": str(2 * n + 100), "total_difficulty": str(n * n + 1000),
            "size": 500 + n % 100, "extra_data": "0x", "gas_limit": 30_000_000,
            "gas_used": 21_000 * txs, "timestamp": ts, "transaction_count": txs,
            "base_fee_per_gas": 7 + n % 13,
        })
        tx_hashes = [_hex("tx", bh, i) for i in range(txs)]
        for i, th in enumerate(tx_hashes):
            emit(n, bh, "transaction", 1, {
                "hash": th, "nonce": n * txs + i, "block_hash": bh, "block_number": n,
                "transaction_index": i, "from_address": _addr("from", seed, senders[n, i]),
                "to_address": None if (n + i) % 17 == 0 else _addr("to", seed, receivers[n, i]),
                "value": hex((n % 100 + 1) * 1_000_000_000), "gas": 90_000,
                "gas_price": hex(20_000_000_000 + n % 5), "input": "0x",
                "block_timestamp": ts, "max_fee_per_gas": 30 + n % 3,
                "max_priority_fee_per_gas": 2, "transaction_type": i % 3,
            })
        for i, th in enumerate(tx_hashes):
            emit(n, bh, "receipt", 2, {
                "transaction_hash": th, "transaction_index": i, "block_hash": bh,
                "block_number": n, "cumulative_gas_used": (i + 1) * 21_000, "gas_used": 21_000,
                "contract_address": _addr("contract", n, i) if (n * txs + i) % 29 == 0 else None,
                "status": 0 if (n + i) % 23 == 0 else 1,
                "effective_gas_price": hex(19_000_000_000), "logs_count": logs,
            })
        for i, th in enumerate(tx_hashes):
            for j in range(logs):
                token = HOT_TOKEN if hot[n, i, j] else _addr("token", seed, token_salt[n, i, j])
                frm, to = (_addr("holder", seed, h) for h in holders[n, i, j])
                emit(n, bh, "log", 3, {
                    "log_index": i * logs + j, "transaction_hash": th, "transaction_index": i,
                    "block_hash": bh, "block_number": n, "address": token,
                    "data": "0x" + _word(int(amounts[n, i, j])),
                    "topics": [TRANSFER_TOPIC, "0x" + frm[2:].rjust(64, "0"),
                               "0x" + to[2:].rjust(64, "0")],
                })
    pq.write_table(pa.table(rows, schema=SCHEMA), path)
    return len(rows["seq"])
