"""Seeded load generator: every input the benchmark feeds the engine.

The engine only ever sees the files written here: the op log (``ops`` +
``trx`` parquet directories), built on ``fixtures.generate(n_ops, seed)``
and written with pyarrow, outside Spark, one file per ``BLOCKS_PER_FILE``
blocks as a landing process would. The same seed always gives
byte-identical rows.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from haf_plug_play_spark import fixtures

BLOCKS_PER_FILE = 1000

OPS_ARROW = to_arrow_schema(fixtures.OPS_SCHEMA)
TRX_ARROW = to_arrow_schema(fixtures.TRX_SCHEMA)


# ---------------------------------------------------------------- op log


@dataclass
class OpLog:
    """A generated op log plus the key pools the API clients draw from."""

    ops: list[dict]
    trx: list[dict]
    first_block: int
    last_block: int
    feeds: list[str]  # podping feed IRIs, most-updated first
    polls: list[tuple[str, str]]  # (author, permlink) of version-1 creates
    authors: list[str]  # poll op signers
    questions: list[str]
    tags: list[str]

    def head_time(self) -> datetime.datetime:
        return max(op["timestamp"] for op in self.ops)


def oplog(seed: int, n_ops: int, max_block: int | None = None) -> OpLog:
    """``fixtures.generate`` output, optionally cut at ``max_block``."""
    ops, trx = fixtures.generate(n_ops, seed)
    if max_block is not None:
        ops = [o for o in ops if o["block_num"] <= max_block]
        trx = [t for t in trx if t["block_num"] <= max_block]
    feed_counts: dict[str, int] = {}
    polls: dict[tuple[str, str], None] = {}
    authors: dict[str, None] = {}
    questions: dict[str, None] = {}
    tags: dict[str, None] = {}
    for op in ops:
        if op["op_type_id"] != fixtures.CUSTOM_JSON_OP_TYPE_ID:
            continue
        value = json.loads(op["body"])["value"]
        try:
            payload = json.loads(value["json"])
        except ValueError:
            continue  # truncated payload: a dead letter, never a key
        signer = (value["required_posting_auths"] or [None])[0]
        if value["id"] in ("podping", "pp_video_update"):
            for url in payload.get("iris") or payload.get("urls") or []:
                feed_counts[url] = feed_counts.get(url, 0) + 1
        elif value["id"] == "polls" and signer:
            authors[signer] = None
            header, op_type, body = payload
            if op_type == "create" and header[0] == 1:
                polls[(signer, body["permlink"])] = None
                questions[body["question"]] = None
                if body.get("tag"):
                    tags[body["tag"]] = None
    feeds = sorted(feed_counts, key=lambda u: (-feed_counts[u], u))
    return OpLog(
        ops=ops,
        trx=trx,
        first_block=ops[0]["block_num"],
        last_block=ops[-1]["block_num"],
        feeds=feeds,
        polls=list(polls),
        authors=sorted(authors),
        questions=sorted(questions),
        tags=sorted(tags),
    )


def _write_by_block(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    parts: dict[int, list[dict]] = {}
    for row in rows:
        parts.setdefault(row["block_num"] // BLOCKS_PER_FILE, []).append(row)
    for part, part_rows in sorted(parts.items()):
        table = pa.Table.from_pylist(part_rows, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{part:06d}.parquet"))


def write_oplog(log: OpLog, root: str) -> tuple[str, str]:
    """Land the op log under ``root``; returns (ops_path, trx_path)."""
    ops_path, trx_path = os.path.join(root, "ops"), os.path.join(root, "trx")
    _write_by_block(log.ops, OPS_ARROW, ops_path)
    _write_by_block(log.trx, TRX_ARROW, trx_path)
    return ops_path, trx_path
