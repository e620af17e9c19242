"""The benchmark's workloads. Each drives the engine only through its
public functions, measures for ``seconds``, checks the outputs, and
returns a ``Result``.

- ``backfill``: one thread mass-syncs all three plugs through
  ``PlugRunner.backfill``, one 100-block chunk at a time (closed loop).
- ``api-read``: two client threads call the ``api_routes`` menu over
  state synced during set-up (closed loop).
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import check
import loadgen
from tracing import Tracer

from haf_plug_play_spark import fixtures, serve
from haf_plug_play_spark.plugs import PLUGS
from haf_plug_play_spark.queries import plug_queries
from haf_plug_play_spark.runner.batch import DEFAULT_STEP, PlugRunner
from haf_plug_play_spark.runner.streaming import sync_status
from haf_plug_play_spark.serve import api_routes

STEP = DEFAULT_STEP  # the reference's 100-block chunk (sync.sql:59)
PLUG_ORDER = ("podping", "polls", "hive_engine")
SETUP_REPEATS = 3
WARMUP_CHUNKS = 2  # per plug, before backfill measures
BACKFILL_OPS = 20_000  # ~8,600 blocks: room for ~85 chunk rounds
API_OPS = 700
API_BLOCKS = 100  # one chunk per plug synced in set-up
SAMPLES_PER_ENDPOINT = 2
# two closed-loop clients: with one per core (four) every request queued
# behind the others' tasks and run-to-run spread more than doubled
API_CLIENTS = 2

# endpoint name → route key. No traffic record exists to weight the
# endpoints by, so every endpoint has the same share; the key skew, the
# unknown-key share and the default-window share below are assumptions
# too (see README.md).
API_MIX = {
    "root": ("GET", "/api"),
    "counts": ("GET", "/api/podping/history/counts"),
    "latest_iri": ("GET", "/api/podping/history/latest/iri"),
    "polls_ops": ("GET", "/api/polls/ops"),
    "polls_active": ("GET", "/api/polls/active"),
    "get_poll": ("GET", "/api/polls/{author}/{permlink}"),
    "poll_votes": ("GET", "/api/polls/{author}/{permlink}/votes"),
    "polls_user": ("GET", "/api/polls/{author}"),
    "new_permlink": ("POST", "/api/polls/new_permlink"),
}
UNKNOWN_KEY_FRAC = 0.05  # lookups of keys that do not exist → expected 400
DEFAULT_WINDOW_FRAC = 0.5  # ranged queries that use the default window
ZIPF_S = 1.1

PLUG_QUERY_BUILDERS = (
    "podping_counts",
    "podping_url_latest_feed_update",
    "poll_ops",
    "polls_active",
    "get_poll",
    "poll_votes_summary",
    "poll_votes",
    "polls_user",
)


def percentile(values: list[float], pct: int) -> float:
    """Linear-interpolated percentile (the inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


@dataclass
class Bench:
    spark: object
    work: str
    seed: int
    seconds: float
    nproc: int
    tracer: Tracer
    _dirs: int = 0

    def fresh(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path


@dataclass
class Result:
    attempted: int
    failed: int
    setup_s: float
    latencies_s: list[float]
    elapsed_s: float
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "latency_p50_ms": (percentile(self.latencies_s, 50) * 1000.0, "ms"),
            "latency_p90_ms": (percentile(self.latencies_s, 90) * 1000.0, "ms"),
            "ops_per_s": ((self.attempted - self.failed) / self.elapsed_s, "1/s"),
            "setup_s": (self.setup_s, "s"),
        }


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _run_threads(fns) -> None:
    """Run callables in parallel threads; re-raise the first failure."""
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # surfaced below, in the caller's thread
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _runners(spark, ops_path: str, trx_path: str, out_root: str) -> dict[str, PlugRunner]:
    return {n: PlugRunner(spark, PLUGS[n], ops_path, trx_path, out_root, step=STEP) for n in PLUG_ORDER}


def _files_per_table(out_root: str) -> float:
    counts = []
    for plug in PLUG_ORDER:
        plug_dir = os.path.join(out_root, plug)
        for table in os.listdir(plug_dir) if os.path.isdir(plug_dir) else ():
            n = 0
            for _, _, files in os.walk(os.path.join(plug_dir, table)):
                n += sum(1 for f in files if f.endswith(".parquet"))
            counts.append(n)
    return sum(counts) / len(counts) if counts else 0.0


def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- backfill


def backfill(b: Bench) -> Result:
    log = loadgen.oplog(b.seed, BACKFILL_OPS)
    ops_path, trx_path = loadgen.write_oplog(log, b.fresh("oplog"))
    setups = []
    for _ in range(SETUP_REPEATS):
        # what a sync service does before its first chunk: build the runners
        # on a fresh output root, then read the op-log head and every cursor
        out_root = b.fresh("out")
        t0 = time.perf_counter()
        runners = _runners(b.spark, ops_path, trx_path, out_root)
        status = sync_status(b.spark, ops_path, runners["podping"].store, [r.plug for r in runners.values()])
        setups.append(time.perf_counter() - t0)
    head = status["head_block_num"]

    # warm-up, untimed, one thread per plug: class loading and JIT make
    # the first chunks several times slower than later ones
    first = (log.first_block // STEP) * STEP
    warm_end = first + WARMUP_CHUNKS * STEP - 1
    t_warm = time.perf_counter()
    _run_threads(lambda r=r: r.backfill(first, warm_end) for r in runners.values())
    warm_s = time.perf_counter() - t_warm

    tracer = b.tracer
    for runner in runners.values():
        tracer.wrap(runner.store, "load", "runner.state.load")
        tracer.wrap(runner.store, "save", "runner.state.save")
        tracer.wrap(runner, "_write_append_table", "runner.batch.write")
    tracer.start_sampler()

    latencies, per_chunk = [], []
    failed_chunks: dict[str, int] = {}
    attempted = 0
    lo = warm_end + 1
    start = time.perf_counter()
    while lo + STEP - 1 <= head:
        for name in PLUG_ORDER:
            runner = runners[name]
            group = f"chunk-{name}-{lo}"
            tracer.set_job_group(group)
            before = _tree(os.path.join(out_root, name)) if tracer.enabled else {}
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("runner.batch.chunk", trace_id=attempted, plug=name):
                    runner.backfill(lo, lo + STEP - 1)
            except Exception as e:  # counted, never retried
                failed_chunks[name] = failed_chunks.get(name, 0) + 1
                _log(f"chunk {name} [{lo}, {lo + STEP - 1}] failed: {type(e).__name__}: {e}")
            latencies.append(time.perf_counter() - t0)
            if tracer.enabled:
                after = _tree(os.path.join(out_root, name))
                written = [p for p, sig in after.items() if before.get(p) != sig]
                per_chunk.append(
                    {"group": group, "files": len(written), "bytes": sum(after[p][0] for p in written)}
                )
        lo += STEP
        if time.perf_counter() - start >= b.seconds:
            break
    elapsed = time.perf_counter() - start
    tracer.stop_sampler()
    cursor = lo - 1

    t_check = time.perf_counter()
    with tracer.paused():
        bad, counts = check.check_sync(b.spark, runners, ops_path, trx_path, cursor)
    check_s = time.perf_counter() - t_check
    for name, why in bad.items():
        _log(f"correctness: plug {name}: {why}")
    rounds = (cursor - warm_end) // STEP
    failed = sum(rounds if name in bad else failed_chunks.get(name, 0) for name in PLUG_ORDER)

    r = Result(attempted, failed, statistics.median(setups), latencies, elapsed)
    blocks = STEP * (attempted - failed)
    r.notes += [
        f"sync_blocks_per_s {blocks / elapsed:.4f} plug-blocks/s ({attempted} chunks of {STEP} blocks)",
        f"warm-up {warm_s:.2f} s ({WARMUP_CHUNKS} chunks per plug), check {check_s:.2f} s",
        f"latency samples {len(latencies)} chunks: " + " ".join(f"{x * 1000:.0f}" for x in latencies) + " ms",
    ]
    if tracer.enabled:
        for c in per_chunk:
            c["jobs"], c["tasks"] = tracer.spark_counts(c["group"])
        chunks = tracer.by_name("runner.batch.chunk")
        state = [[c for c in tracer.children(s) if c.name.startswith("runner.state.")] for s in chunks]
        synced_chunks = rounds + WARMUP_CHUNKS
        r.layers.update(
            {
                "runner.batch.chunk_ms": (_median(s.ms for s in chunks), "ms"),
                "runner.batch.chunk_self_ms": (_median(tracer.self_ms(s) for s in chunks), "ms"),
                "runner.batch.spark_jobs_per_chunk": (_mean(c["jobs"] for c in per_chunk), "count"),
                "runner.batch.spark_tasks_per_chunk": (_mean(c["tasks"] for c in per_chunk), "count"),
                "runner.batch.files_written_per_chunk": (_mean(c["files"] for c in per_chunk), "count"),
                "runner.batch.bytes_written_per_chunk": (_mean(c["bytes"] for c in per_chunk), "bytes"),
                "runner.state.calls_per_chunk": (_mean(len(s) for s in state), "count"),
                "runner.state.io_ms_per_chunk": (_mean(sum(c.ms for c in s) for s in state), "ms"),
                "runner.batch.idle_frac": (tracer.idle_frac(chunks), "fraction"),
                "runner.batch.files_per_table": (_files_per_table(out_root), "count"),
            }
        )
        dead = ok = 0
        for name in PLUG_ORDER:
            plug = PLUGS[name]
            rows = sum(v for k, v in counts.items() if k.startswith(f"{name}/") and k != f"{name}/_dead_letter")
            r.layers[f"plugs.{name}.rows_out"] = (rows / synced_chunks, "rows/chunk")
            dead += counts.get(f"{name}/_dead_letter", 0)
            ok += counts.get(f"{name}/{plug.tables[0]}", 0)
        r.layers["ingest.envelope.dead_letter_frac"] = (dead / (dead + ok) if dead + ok else 0.0, "fraction")
    return r


# ---------------------------------------------------------------- api-read


class Zipf:
    """Rank-skewed draws: the item at rank k has weight 1 / k**s."""

    def __init__(self, items: list, s: float = ZIPF_S) -> None:
        self.items = items
        total, self.cum = 0.0, []
        for k in range(1, len(items) + 1):
            total += 1.0 / k**s
            self.cum.append(total)

    def draw(self, rng: random.Random):
        return rng.choices(self.items, cum_weights=self.cum)[0]


class RequestMix:
    """(endpoint, args) for the api-read clients, keyed from a generated log.

    Each client deals endpoints from its own shuffled deck holding every
    endpoint once, so each ``len(API_MIX)`` requests of a client call every
    endpoint exactly once and a short run does not drift towards the slow
    or the fast endpoints; the keys inside a request are Zipf-skewed, so
    hot keys repeat and cold keys are one-offs."""

    def __init__(self, log: loadgen.OpLog, seed: int) -> None:
        shuffle = random.Random(seed)
        polls, authors = list(log.polls), list(log.authors)
        shuffle.shuffle(polls)
        shuffle.shuffle(authors)
        self.log = log
        self.feeds = Zipf(log.feeds)  # most-updated feeds are the hot ones
        self.polls = Zipf(polls)
        self.authors = Zipf(authors)
        self.questions = Zipf(log.questions)

    def deal(self, rng: random.Random):
        """Endless stream of (endpoint, args) for one client."""
        deck = list(API_MIX)
        while True:
            rng.shuffle(deck)
            for name in deck:
                yield name, self.args(name, rng)

    def _range(self, rng: random.Random) -> str | None:
        if rng.random() < DEFAULT_WINDOW_FRAC:
            return None  # the default window: an eager head-block job first
        lo = rng.randint(self.log.first_block, self.log.last_block)
        return f"[{lo}, {lo + rng.randint(20, 200)}]"

    def args(self, name: str, rng: random.Random) -> tuple:
        unknown = rng.random() < UNKNOWN_KEY_FRAC
        if name == "root":
            return ()
        if name == "counts":
            return (self._range(rng), 20)
        if name == "latest_iri":
            return ("https://unknown.example.com/rss" if unknown else self.feeds.draw(rng), 5)
        if name == "polls_ops":
            return (rng.choice(("create", "vote")), self._range(rng))
        if name == "polls_active":
            return (rng.choice(self.log.tags) if rng.random() < 0.4 else "",)
        if name in ("get_poll", "poll_votes"):
            author, permlink = self.polls.draw(rng)
            if unknown:
                permlink = "no-such-poll"
            return (author, permlink, rng.random() < 0.7) if name == "get_poll" else (author, permlink)
        if name == "polls_user":
            return (self.authors.draw(rng), rng.random() < 0.3, "")
        return (self.authors.draw(rng), self.questions.draw(rng))  # new_permlink


def _rows_in(body) -> int:
    if isinstance(body, list):
        return len(body)
    if isinstance(body, dict):
        return 1 + sum(len(v) for v in body.values() if isinstance(v, list))
    return 1


def _open_context(spark, runners: dict, ops_path: str, now: datetime.datetime) -> dict:
    """What a server does before its first request: list the synced
    tables, build the gold view, and bind the endpoint menu."""
    ctx = {
        "podping_updates": runners["podping"].read_table("podping_updates"),
        "podping_ops": runners["podping"].read_table("podping_ops"),
        "polls_ops": runners["polls"].read_table("polls_ops"),
        "polls_votes": runners["polls"].read_table("polls_votes"),
        "polls_content": runners["polls"].read_gold("polls_content"),
        "now": now,
    }
    store = runners["podping"].store
    status_now = now.replace(tzinfo=datetime.timezone.utc)
    ctx["status"] = lambda: sync_status(spark, ops_path, store, list(PLUGS.values()), now=status_now)
    return api_routes(ctx)


def api_read(b: Bench) -> Result:
    log = loadgen.oplog(b.seed, API_OPS, max_block=fixtures.START_BLOCK + API_BLOCKS - 1)
    root = b.fresh("api")
    ops_path, trx_path = loadgen.write_oplog(log, root)
    out_root = os.path.join(root, "out")
    runners = _runners(b.spark, ops_path, trx_path, out_root)
    t0 = time.perf_counter()
    _run_threads(lambda r=r: r.backfill(log.first_block, log.last_block) for r in runners.values())
    sync_s = time.perf_counter() - t0
    now = log.head_time() + datetime.timedelta(seconds=60)

    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        routes = _open_context(b.spark, runners, ops_path, now)
        setups.append(time.perf_counter() - t0)

    t_warm = time.perf_counter()
    mix = RequestMix(log, b.seed)
    # warm-up, untimed: every endpoint once
    warm_rng = random.Random(b.seed)
    warm = [(name, mix.args(name, warm_rng)) for name in API_MIX]
    n_clients = min(API_CLIENTS, b.nproc)
    _run_threads(
        (lambda chunk=warm[i::n_clients]: [check.call(routes, API_MIX[n], a) for n, a in chunk])
        for i in range(n_clients)
    )

    warm_s = time.perf_counter() - t_warm
    tracer = b.tracer
    tracer.wrap(serve, "df_to_json_rows", "serve.collect")
    for fn in PLUG_QUERY_BUILDERS:
        tracer.wrap(plug_queries, fn, "queries.plug_queries.build")

    lock = threading.Lock()
    records: list[tuple] = []  # (endpoint, start, end, status, rows, job group)
    samples: list[tuple] = []
    sampled: dict[str, int] = {}
    status_bodies: list = []
    failures = []
    deadline = time.perf_counter() + b.seconds
    start = time.perf_counter()

    def client(i: int) -> None:
        requests = mix.deal(random.Random(f"{b.seed}-{i}"))
        n = 0
        while time.perf_counter() < deadline:
            name, args = next(requests)
            key = API_MIX[name]
            n += 1
            group = f"req-{i}-{n}"
            tracer.set_job_group(group)
            t0 = time.perf_counter()
            try:
                with tracer.span("serve.request", trace_id=i * 1_000_000 + n, endpoint=name):
                    status, body = check.call(routes, key, args)
            except Exception as e:  # counted, never retried
                status, body = 500, None
                with lock:
                    failures.append(f"{name}{args}: {type(e).__name__}: {e}")
            t1 = time.perf_counter()
            with lock:
                records.append((name, t0, t1, status, _rows_in(body), group))
                if name == "root" and status == 200:
                    status_bodies.append(body)
                elif status != 500 and sampled.get(name, 0) < SAMPLES_PER_ENDPOINT:
                    sampled[name] = sampled.get(name, 0) + 1
                    samples.append((key, args, status, body))

    _run_threads((lambda i=i: client(i)) for i in range(n_clients))
    elapsed = max(r[2] for r in records) - start

    t_check = time.perf_counter()
    errors = [f"request failed: {f}" for f in failures]
    for body in status_bodies:
        why = check.check_status(body, log.last_block)
        if why:
            errors.append(f"GET /api: {why}")
    with tracer.paused():
        expected = check.batch_routes(b.spark, ops_path, trx_path, now)
        errors += check.check_responses(expected, samples, n_clients)
    check_s = time.perf_counter() - t_check
    for e in errors:
        _log(f"correctness: {e}")

    attempted = len(records)
    r = Result(attempted, len(errors), statistics.median(setups), [t1 - t0 for _, t0, t1, *_ in records], elapsed)
    statuses = {}
    for rec in records:
        statuses[rec[3]] = statuses.get(rec[3], 0) + 1
    r.notes += [
        f"latency samples {attempted} requests from {n_clients} clients; statuses {statuses}",
        f"checked {len(samples)} sampled responses and {len(status_bodies)} status responses",
        f"state sync in set-up {sync_s:.2f} s ({API_BLOCKS} blocks x {len(runners)} plugs), "
        f"warm-up {warm_s:.2f} s, check {check_s:.2f} s",
    ]
    if tracer.enabled:
        counts = [tracer.spark_counts(rec[5]) for rec in records]
        requests = tracer.by_name("serve.request")
        by_trace: dict[tuple[int, str], float] = {}
        for s in tracer.spans:
            if s.name in ("serve.collect", "queries.plug_queries.build"):
                by_trace[(s.trace_id, s.name)] = by_trace.get((s.trace_id, s.name), 0.0) + s.ms
        for name in API_MIX:
            r.layers[f"serve.{name}.p50_ms"] = (_median(s.ms for s in requests if s.attrs["endpoint"] == name), "ms")
        r.layers.update(
            {
                "serve.collect_ms": (_mean(by_trace.get((s.trace_id, "serve.collect"), 0.0) for s in requests), "ms"),
                "queries.plug_queries.build_ms": (
                    _mean(by_trace.get((s.trace_id, "queries.plug_queries.build"), 0.0) for s in requests), "ms"),
                "serve.spark_jobs_per_request": (_mean(jobs for jobs, _ in counts), "count"),
                "serve.spark_tasks_per_request": (_mean(tasks for _, tasks in counts), "count"),
                "serve.rows_per_request": (_mean(rec[4] for rec in records), "rows"),
                "runner.batch.files_per_table": (_files_per_table(out_root), "count"),
            }
        )
    return r


WORKLOADS = {"backfill": backfill, "api-read": api_read}


def layer_names() -> list[tuple[str, str]]:
    """The per-layer metrics every traced run reports, in order, with their
    units; 0 means the layer did no work in the measured window."""
    names = [("session.start_s", "s")]
    names += [
        ("runner.batch.chunk_ms", "ms"),
        ("runner.batch.chunk_self_ms", "ms"),
        ("runner.batch.spark_jobs_per_chunk", "count"),
        ("runner.batch.spark_tasks_per_chunk", "count"),
        ("runner.batch.files_written_per_chunk", "count"),
        ("runner.batch.bytes_written_per_chunk", "bytes"),
        ("runner.state.calls_per_chunk", "count"),
        ("runner.state.io_ms_per_chunk", "ms"),
        ("ingest.envelope.dead_letter_frac", "fraction"),
    ]
    names += [(f"plugs.{p}.rows_out", "rows/chunk") for p in PLUG_ORDER]
    names += [("runner.batch.idle_frac", "fraction"), ("runner.batch.files_per_table", "count")]
    names += [(f"serve.{n}.p50_ms", "ms") for n in API_MIX]
    names += [
        ("serve.collect_ms", "ms"),
        ("queries.plug_queries.build_ms", "ms"),
        ("serve.spark_jobs_per_request", "count"),
        ("serve.spark_tasks_per_request", "count"),
        ("serve.rows_per_request", "rows"),
    ]
    names += [("trace.latency_p50_ms", "ms"), ("trace.ops_per_s", "1/s")]
    return names
