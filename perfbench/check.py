"""Correctness gates. Each returns the operations it found wrong; the
caller counts them into ``failed`` and never retries."""

from __future__ import annotations

import datetime
import json
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

from pyspark.sql import functions as F

from haf_plug_play_spark.ingest.envelope import dead_letter, parse_custom_json
from haf_plug_play_spark.plugs import PLUGS
from haf_plug_play_spark.serve import ApiError, api_routes


def _canon(value):
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    if isinstance(value, float):
        return round(value, 9)
    if isinstance(value, Decimal):
        return str(value.normalize())
    return value


def _multiset(df, cols) -> Counter:
    return Counter(tuple(_canon(r[c]) for c in cols) for r in df.select(*cols).collect())


# ---------------------------------------------------------------- sync


def check_sync(spark, runners: dict, ops_path: str, trx_path: str, cursor: int):
    """Synced tables vs the batch transform over the same prefix of the log.

    Returns (bad_plugs, row_counts): a plug is bad when its cursor is not
    ``cursor`` or any table differs as a row multiset; ``row_counts`` maps
    ``plug/table`` to the synced row count."""
    ops = spark.read.parquet(ops_path).filter(F.col("block_num") <= cursor)
    trx = spark.read.parquet(trx_path).filter(F.col("block_num") <= cursor)
    parsed = parse_custom_json(ops, trx).persist()
    bad: dict[str, str] = {}
    counts: dict[str, int] = {}
    try:
        for name, runner in runners.items():
            plug = runner.plug
            state = runner.store.load(name)
            if state.latest_block_num != cursor:
                bad[name] = f"cursor {state.latest_block_num} != {cursor}"
                continue
            expected = dict(plug.transform(parsed))
            expected["_dead_letter"] = dead_letter(parsed, plug.cj_ids)
            for table, exp_df in expected.items():
                got_df = runner.read_gold(table) if table in plug.gold else runner.read_table(table)
                cols = sorted(exp_df.columns)
                if not set(cols) <= set(got_df.columns):
                    bad[name] = f"{table}: columns {sorted(got_df.columns)} lack {cols}"
                    break
                got = _multiset(got_df, cols)
                counts[f"{name}/{table}"] = sum(got.values())
                if got != _multiset(exp_df, cols):
                    bad[name] = f"{table}: synced rows differ from the batch transform"
                    break
    finally:
        parsed.unpersist()
    return bad, counts


# ---------------------------------------------------------------- api


def batch_routes(spark, ops_path: str, trx_path: str, now: datetime.datetime) -> dict:
    """``api_routes`` over the batch-mode derived frames, built the way the
    endpoint tests build them: each serving plug's ``transform`` over the
    full log."""
    parsed = parse_custom_json(spark.read.parquet(ops_path), spark.read.parquet(trx_path))
    derived = {}
    for name in ("podping", "polls"):  # the plugs the menu reads
        derived.update(PLUGS[name].transform(parsed))
    for df in derived.values():
        df.cache()
    return api_routes(dict(derived, now=now))


def _sorted_lists(value):
    """Rows as multisets: polls/ops, polls/active and the votes lists have
    no row order, and the ordered endpoints' orders are total, so sorting
    both sides loses nothing but the order check itself."""
    if isinstance(value, list):
        return sorted((_sorted_lists(v) for v in value), key=lambda v: json.dumps(v, sort_keys=True, default=str))
    if isinstance(value, dict):
        return {k: _sorted_lists(v) for k, v in value.items()}
    return value


def call(routes: dict, key, args) -> tuple[int, object]:
    """(status, body) of one request; an ``ApiError`` is an answer."""
    try:
        return 200, routes[key](*args)
    except ApiError as e:
        return e.status_code, e.detail


def check_status(body, last_block: int) -> str | None:
    """GET /api after a full sync: head is the last block, no plug lags."""
    if not isinstance(body, dict) or body.get("head_block_num") != last_block:
        return f"head {body!r} != {last_block}"
    for row in body["plugs"]:
        if row["latest_block_num"] != last_block or row["lag_blocks"] != 0:
            return f"plug {row['plug']} at {row['latest_block_num']}, lag {row['lag_blocks']}"
    return None


def check_responses(expected_routes: dict, samples: list, workers: int) -> list[str]:
    """``samples``: (key, args, status, body) as the clients saw them;
    replayed on ``workers`` threads."""
    with ThreadPoolExecutor(max_workers=workers) as pool:
        expected = list(pool.map(lambda s: call(expected_routes, s[0], s[1]), samples))
    errors = []
    for (key, args, status, body), (exp_status, exp_body) in zip(samples, expected):
        if (status, _sorted_lists(body)) != (exp_status, _sorted_lists(exp_body)):
            errors.append(f"{key[1]}{args}: got {status}, expected {exp_status}")
    return errors
