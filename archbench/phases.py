"""The four phases of one benchmark run, each driving the archive only
through its public calls and checking every answer against the oracle
built from the seeded chain (``chain.py``).

A phase returns an :class:`Outcome`: operations attempted, the failed
operations by named check, its end-to-end metrics and, when traced, its
per-layer metrics.
"""

from __future__ import annotations

import ast
import json
import math
import random
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

import chain as ch
from trace import median, percentile, tail_quantile

# Checks that fail on this archive because of two known program defects
# (see archbench/DESIGN.md, "Known defects").  They count as failed
# operations but do not make a run incorrect.
KNOWN_DEFECTS = {"backfill.tombstones", "tail.price_window_start"}

QUERY_CLASSES = ["transfer_volume", "usd_volume", "range_lookup",
                 "graphql_page", "top_receivers"]

# The tail's head grows in equal bursts this far apart.  A micro-batch
# takes 2-3.5 s on 4 cores, so each burst is committed by a batch of its
# own, without waiting for the previous one: the batch boundaries, and
# with them every tail check, are then the same in every run of one seed,
# not a matter of timing.  Whole seconds, so that every burst lands
# half-way between two triggers of the 1 s trigger.
TAIL_INTERVAL_S = 4

# Work per run, scaled by the run's --seconds so every run of one length
# does the same work and yields the same number of samples.


def tail_bursts(seconds: float) -> int:
    """Timed bursts; one more, untimed, is at the head before the stream
    starts."""
    return max(2, round(seconds / 6))


def backfill_calls(seconds: float) -> int:
    return max(1, round(seconds / 12))


def query_rounds(seconds: float) -> int:
    return max(1, round(seconds * 0.15))


def pg_cycles(seconds: float) -> int:
    return max(1, round(seconds * 0.2))


@dataclass
class Outcome:
    """Operations of one phase.  With ``plant`` set (the self-test), the
    first operation that passes is judged a second time against a
    corrupted expected answer; that second verdict is what counts."""

    plant: bool = False
    attempted: int = 0
    failed: int = 0
    checks: Counter = field(default_factory=Counter)  # failed ops by check
    planted_op: int | None = None
    unplanted_failed: int = 0
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def op(self, judge) -> None:
        """``judge(planted)`` returns the set of checks the operation fails."""
        bad = judge(False)
        self.unplanted_failed += bool(bad)
        if not bad and self.plant and self.planted_op is None:
            self.planted_op = self.attempted
            bad = judge(True)
        self.attempted += 1
        if bad:
            self.failed += 1
            self.checks.update(bad)


ROW_COLS = ["address", "topic0", "topic1", "topic2", "topic3", "data",
            "block_hash", "block_number", "transaction_hash",
            "transaction_index", "log_index", "removed", "block_timestamp"]
PK_AT = [ROW_COLS.index(k) for k in ch.PK]


def _row_key(r: dict) -> tuple:
    return tuple(r[k] for k in ROW_COLS)


def _utc_day(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).date().isoformat()


def collect_rows(df, *extra: str) -> list[dict]:
    """Collect sink rows (through Arrow) with the timestamp as epoch
    seconds, plus the ``extra`` columns."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in ROW_COLS[:-1]]
    cols.append(F.col("block_timestamp").cast("long").alias("block_timestamp"))
    return df.select(*cols, *extra).toArrow().to_pylist()


def stored(path: Path) -> list[dict]:
    """The rows a sink directory stores, as written (tombstones and the
    ``ingest_batch`` partition included), read with pyarrow rather than a
    Spark job; ``block_timestamp`` as epoch seconds."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    if not path.exists():
        return []
    t = ds.dataset(str(path), format="parquet", partitioning="hive").to_table()
    if "block_timestamp" in t.column_names:
        ts = t["block_timestamp"]
        per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
        secs = pc.divide(ts.cast(pa.int64()), per_s)
        t = t.set_column(t.column_names.index("block_timestamp"), "block_timestamp", secs)
    return t.to_pylist()


# --------------------------------------------------------------------------
# backfill: run_batch over the archived range
# --------------------------------------------------------------------------

def backfill(ctx, seconds: float) -> Outcome:
    from evm_archive_spark import pipeline
    from evm_archive_spark.schemas import LOGS_PK

    c, step = ctx.chain, ctx.step
    last = c.shape.archive_blocks - 1
    delivered = ch.delivered_rows(c, 0, last)
    expect = ch.resolved(delivered)
    tomb_pks = {ch.pk_of(r) for r in delivered if r["removed"]}
    windows = list(range(0, last + 1, step))
    exp_rows = {w: set() for w in windows}
    for r in expect.values():
        exp_rows[r["block_number"] // step * step].add(_row_key(r))
    # stored: every delivered row, a tombstone beside the row it removes
    exp_stored = {w: set() for w in windows}
    for r in delivered:
        exp_stored[r["block_number"] // step * step].add(_row_key(r))
    exp_price = {w: {(t, w, c.price(o, w)) for t, o in zip(c.tokens, c.oracles)}
                 for w in windows}

    out = Outcome(plant=ctx.plant)
    rates, walls, counters = [], [], []
    for call in range(backfill_calls(seconds)):
        path = ctx.fresh_dir(f"backfill{call}")
        cfg = ctx.cfg(out=str(path), from_block=0, to_block=last)
        ctx.node_phase(f"backfill{call}")
        with ctx.tracer.span("pipeline.run_batch"):
            t0 = time.perf_counter()
            counts = pipeline.run_batch(ctx.spark, cfg)
            wall = time.perf_counter() - t0
        counters.append(ctx.node_counters())
        rates.append(counts["logs"] / wall)
        walls.append(wall)
        # check every blockStep window against the chain (untimed)
        got_rows: dict[int, set] = {w: set() for w in windows}
        for r in collect_rows(pipeline.read_sink(ctx.spark, str(path / "logs"), LOGS_PK)):
            got_rows.setdefault(r["block_number"] // step * step, set()).add(_row_key(r))
        got_stored: dict[int, set] = {w: set() for w in windows}
        for r in stored(path / "logs"):
            got_stored.setdefault(r["block_number"] // step * step, set()).add(_row_key(r))
        got_price: dict[int, set] = {w: set() for w in windows}
        for r in pipeline.read_sink(ctx.spark, str(path / "price")).collect():
            got_price.setdefault(r["block_number"], set()).add(
                (r["address"], r["block_number"], int(r["price"])))

        def judge(planted: bool, w: int) -> set:
            bad = set()
            # Both the stored and the resolved rows are compared.  Which of
            # a row and its tombstone the PK-only dedup keeps is left to
            # the engine, so the resolved rows alone would fail a window
            # in some runs and not in others; the stored rows lack one of
            # the two in every run.
            diff = (got_rows[w] ^ exp_rows[w]) | (got_stored[w] ^ exp_stored[w])
            if diff:
                # a difference made only of reorged PKs is the known
                # PK-only dedup defect; anything else is a new failure
                if all(tuple(k[i] for i in PK_AT) in tomb_pks for k in diff):
                    bad.add("backfill.tombstones")
                else:
                    bad.add("backfill.rows")
            want_price = exp_price[w] | ({("planted", w, 0)} if planted else set())
            if got_price[w] != want_price:
                bad.add("backfill.price")
            return bad

        for w in windows:
            out.op(lambda planted, w=w: judge(planted, w))

    blocks = last + 1
    total = [sum(k["by_method"].values()) for k in counters]
    out.notes = {"run_batch_walls_s": walls, "rpc_requests": median(total), "rpc_blocks": blocks}
    out.metrics = {"ingest_logs_per_s": median(rates)}
    if ctx.tracer.enabled:
        k = counters[0]
        m = k["by_method"]
        n_windows = len(windows)
        out.layers = {
            "rpc.backfill.getlogs_per_window": m.get("eth_getLogs", 0) / n_windows,
            "rpc.backfill.getblock_per_block": m.get("eth_getBlockByNumber", 0) / blocks,
            "rpc.backfill.call_per_window": m.get("eth_call", 0) / n_windows,
            "rpc.backfill.blocknumber_requests": m.get("eth_blockNumber", 0),
            "rpc.backfill.bytes_per_log": k["getlogs_bytes"] / max(k["logs_served"], 1),
            "rpc.backfill.inflight_max": k["inflight_max"],
            "rpc.backfill.node_busy_s": k["busy_s"],
            "pipeline.run_batch_s": median(walls),
            **_sink_layout(path / "logs", 1, "sink.backfill"),
        }
    return out


def _sink_layout(path: Path, batches: int, prefix: str) -> dict:
    """Parquet files per ingest batch and stored bytes per row."""
    import pyarrow.parquet as pq

    files = list(path.rglob("*.parquet"))
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return {
        f"{prefix}.files_per_batch": len(files) / max(batches, 1),
        f"{prefix}.bytes_per_log": sum(p.stat().st_size for p in files) / max(rows, 1),
    }


def read_logs_probe(ctx) -> float:
    """``sources.read_logs_per_s``: the evm_logs batch read alone into
    the noop sink, over the archived range."""
    last = ctx.chain.shape.archive_blocks - 1
    ctx.node_phase("probe")
    t0 = time.perf_counter()
    (ctx.spark.read.format("evm_logs")
     .option("endpoint", ctx.endpoint)
     .option("fromBlock", "0").option("toBlock", str(last))
     .option("blockStep", str(ctx.step))
     .load().write.format("noop").mode("overwrite").save())
    wall = time.perf_counter() - t0
    return ctx.node_counters()["logs_served"] / wall


# --------------------------------------------------------------------------
# tail: run_stream following a head that grows on schedule (open loop)
# --------------------------------------------------------------------------

def _offset(v) -> int | None:
    if v is None:
        return None
    if isinstance(v, str):  # the Python source reports a dict repr
        v = ast.literal_eval(v)
    return int(v["next_block"])


def tail(ctx, seconds: float) -> Outcome:
    from evm_archive_spark import pipeline

    c, step = ctx.chain, ctx.step
    first = c.shape.archive_blocks
    n = c.shape.tail_blocks
    last = first + n - 1
    n_bursts = tail_bursts(seconds)
    burst = -(-n // (n_bursts + 1))
    path = ctx.fresh_dir("tail")
    cfg = ctx.cfg(out=str(path), from_block=first, to_block=last, sleep_seconds=1)
    listener = ctx.listener
    listener.events.clear()
    ctx.rpc("bench_resetTail")
    ctx.node_phase("tail")
    # The first burst is at the head before the stream starts, so the
    # query's first micro-batch, which pays the query's one-time costs,
    # commits it.  Its rows are checked like any other; its blocks are not
    # timed.
    ctx.rpc("bench_startTail", [None, burst, TAIL_INTERVAL_S, burst])
    ctx.spark._jvm.System.gc()  # not during the timed bursts, if it can be helped
    with ctx.tracer.span("pipeline.run_stream"):
        q = pipeline.run_stream(ctx.spark, cfg)
    t_start = time.time()
    try:
        while time.time() < t_start + 60:
            lp = q.lastProgress
            if (lp is not None and lp.sources and not q.status["isTriggerActive"]
                    and _offset(lp.sources[0].endOffset) >= first + burst):
                break
            time.sleep(0.05)
        # the 1 s trigger fires on whole seconds; bursts land half-way
        # between two triggers, the first at least 0.1 s from now
        t0 = math.ceil(time.time() - 0.4) + 0.5
        ctx.rpc("bench_startTail", [t0, burst, TAIL_INTERVAL_S, burst])
        time.sleep(max(0.0, t0 + (n_bursts - 1) * TAIL_INTERVAL_S + 0.1 - time.time()))
        t_drain = time.time()
        with ctx.tracer.span("stream.processAllAvailable"):
            q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        t_stop = time.time()
        q.stop()
    timing = {"init_s": t0 - t_start, "drain_s": t_stop - t_drain,
              "stop_s": time.time() - t_stop}
    counters = ctx.node_counters()
    batches = sorted((p for p in progress if p["sources"]), key=lambda p: p["batchId"])
    batch_ids = {p["batchId"] for p in batches}
    t_give_up = time.time() + 10
    while time.time() < t_give_up:
        with listener.lock:
            seen = {e[1]["batchId"] for e in listener.events}
        if batch_ids <= seen:
            break
        time.sleep(0.05)
    with listener.lock:
        stamped = {e[1]["batchId"]: e[0] for e in listener.events}

    def appears(b: int) -> float:
        """When block ``b`` (after the untimed first burst) reaches the
        node's head."""
        return t0 + ((b - first) // burst - 1) * TAIL_INTERVAL_S

    # freshness: scheduled appearance -> progress event of the committing batch
    spans, prev = [], first
    for p in batches:
        end = _offset(p["sources"][0]["endOffset"])
        if end > prev:
            spans.append((p["batchId"], prev, end - 1))
        prev = max(prev, end)
    fresh = []
    for bid, lo, hi in spans:
        for b in range(max(lo, first + burst), hi + 1):
            if bid in stamped:
                fresh.append(stamped[bid] - appears(b))

    # per-batch check against the chain (untimed)
    got_rows: dict[int, set] = {}
    for d in stored(path / "logs"):
        got_rows.setdefault(d["ingest_batch"], set()).add(_row_key(d))
    got_price: dict[int, set] = {}
    for r in stored(path / "price"):
        got_price.setdefault(r["ingest_batch"], set()).add(
            (r["address"], r["block_number"], int(r["price"])))
    out = Outcome(plant=ctx.plant)

    def probes(blocks) -> set:
        return {(t, w, c.price(o, w)) for w in blocks for t, o in zip(c.tokens, c.oracles)}

    def judge(planted: bool, bid: int, lo: int, hi: int) -> set:
        delivered = ch.delivered_rows(c, lo, hi)
        want_rows = {_row_key(r) for r in delivered}
        if planted:
            want_rows.add(("planted",))
        bad = set()
        if got_rows.get(bid, set()) != want_rows:
            bad.add("tail.rows")
        # run_batch and the run_stream docstring put price probes at the
        # blockStep window starts of the batch's block range
        got = got_price.get(bid, set())
        if got != probes(range(lo, hi + 1, step)):
            # the known defect probes from the first to the last block of
            # the batch's rows (tombstones included), none without rows;
            # stored prices that differ from that too are a new failure
            nums = [r["block_number"] for r in delivered]
            defect = probes(range(min(nums), max(nums) + 1, step)) if nums else set()
            bad.add("tail.price_window_start" if got == defect else "tail.price")
        return bad

    for bid, lo, hi in spans:
        out.op(lambda planted, b=(bid, lo, hi): judge(planted, *b))
    if {b for b, _, _ in spans} - set(stamped) or not spans or spans[-1][2] != last:
        # a batch never reached the listener, or the tail was not archived
        out.op(lambda planted: {"tail.progress"})

    q_hi = tail_quantile(len(fresh))
    out.metrics = {
        "freshness_p50_s": percentile(fresh, 0.5),
        "freshness_p99_s": percentile(fresh, q_hi),
    }
    m = counters["by_method"]
    total = sum(m.values())
    out.notes = {"freshness_tail_quantile": q_hi, "freshness_samples": len(fresh),
                 "bursts": n_bursts, "batch_ms": [
                     (p.get("durationMs") or {}).get("triggerExecution") for p in batches],
                 "rpc_requests": total, "rpc_blocks": n, **timing}
    if ctx.tracer.enabled:
        n_windows = sum(len(range(lo, hi + 1, step)) for _, lo, hi in spans)
        dur = {}
        for p in batches:
            for k, v in (p.get("durationMs") or {}).items():
                dur.setdefault(k, []).append(v)
        # blocks the node had but the archive had not committed when each
        # batch's progress event arrived
        def head_at(t: float) -> int:
            grown = burst * (int((t - t0) / TAIL_INTERVAL_S) + 1) if t >= t0 else 0
            return min(last, first - 1 + burst + grown)

        lag = [head_at(stamped[bid]) - hi for bid, _, hi in spans if bid in stamped]
        out.layers = {
            "rpc.tail.requests_per_block": total / n,
            "rpc.tail.getlogs_per_window": m.get("eth_getLogs", 0) / max(n_windows, 1),
            "rpc.tail.getblock_per_block": m.get("eth_getBlockByNumber", 0) / n,
            "rpc.tail.call_per_window": m.get("eth_call", 0) / max(n_windows, 1),
            "rpc.tail.blocknumber_requests": m.get("eth_blockNumber", 0),
            "rpc.tail.bytes_per_log": counters["getlogs_bytes"] / max(counters["logs_served"], 1),
            "rpc.tail.inflight_max": counters["inflight_max"],
            "rpc.tail.node_busy_s": counters["busy_s"],
            "stream.batches": len(spans),
            "stream.rows_per_batch_p50": percentile(
                [p["numInputRows"] for p in batches], 0.5),
            "stream.lag_to_head_blocks_max": max(lag) if lag else 0,
        }
        for phase in ("triggerExecution", "addBatch", "latestOffset",
                      "queryPlanning", "walCommit", "commitOffsets"):
            out.layers[f"stream.{phase}_ms_p50"] = percentile(dur.get(phase, []), 0.5)
        out.layers.update(_sink_layout(path / "logs", len(spans), "sink.tail"))
    return out


# --------------------------------------------------------------------------
# staged archive (query and pg_mirror read it; written with pyarrow)
# --------------------------------------------------------------------------

STAGE_CHUNK = 200  # blocks per staged ingest_batch partition


def stage_archive(c: ch.Chain, root: Path, step: int) -> list[dict]:
    """Write the archived range in the sink layout: ``ingest_batch=<k>``
    partitions of 200 blocks, tombstones stored where a scan delivers
    them, price rows at each blockStep window start.  Returns the staged
    log rows."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pa.timestamp("us", tz="UTC")
    logs_schema = pa.schema(
        [(k, pa.string()) for k in ROW_COLS[:7]]
        + [("block_number", pa.int64()), ("transaction_hash", pa.string()),
           ("transaction_index", pa.int64()), ("log_index", pa.int64()),
           ("removed", pa.bool_()), ("block_timestamp", ts_type)])
    price_schema = pa.schema([("address", pa.string()), ("block_number", pa.int64()),
                              ("price", pa.decimal128(20, 0))])
    last = c.shape.archive_blocks - 1
    staged = []
    for k, lo in enumerate(range(0, last + 1, STAGE_CHUNK)):
        hi = min(lo + STAGE_CHUNK - 1, last)
        rows = ch.delivered_rows(c, lo, hi)
        staged.extend(rows)
        cols = {n: [r[n] for r in rows] for n in ROW_COLS}
        cols["block_timestamp"] = [t * 1_000_000 for t in cols["block_timestamp"]]
        d = root / "logs" / f"ingest_batch={k}"
        d.mkdir(parents=True)
        pq.write_table(pa.table(cols, schema=logs_schema), d / "part-0.parquet")
        prices = [(t, w, decimal.Decimal(c.price(o, w)))
                  for w in range(lo, hi + 1, step) for t, o in zip(c.tokens, c.oracles)]
        d = root / "price" / f"ingest_batch={k}"
        d.mkdir(parents=True)
        pq.write_table(pa.table(
            {n: [p[i] for p in prices] for i, n in enumerate(price_schema.names)},
            schema=price_schema), d / "part-0.parquet")
    return staged


# --------------------------------------------------------------------------
# query: closed-loop clients over the staged archive
# --------------------------------------------------------------------------

class QueryOracle:
    """Answers of the five request classes, from the staged rows alone."""

    def __init__(self, c: ch.Chain, staged: list[dict], step: int):
        self.c, self.step = c, step
        live = sorted(ch.resolved(staged).values(),
                      key=lambda r: (r["block_number"], r["log_index"]))
        self.live = live
        topic = ch.TRANSFER[1]
        self.transfers = [
            (r["block_number"], r["address"], ch.topic_addr(r["topic2"]),
             ch.decode_word(r["data"], 0), r["block_timestamp"])
            for r in live if r["topic0"] == topic]

    def answer(self, cls: str, p: dict):
        if cls == "transfer_volume":
            acc = Counter()
            for b, a, _to, amt, ts in self.transfers:
                if p["lo"] <= b <= p["hi"]:
                    acc[(_utc_day(ts), a)] += amt
            return {(d, a, str(v)) for (d, a), v in acc.items()}
        if cls == "usd_volume":
            acc, n = Counter(), Counter()
            c = self.c
            for b, a, _to, amt, _ts in self.transfers:
                if p["lo"] <= b <= p["hi"] and a in c.tokens:
                    w = b // self.step * self.step
                    acc[a] += amt * c.price(c.oracles[c.tokens.index(a)], w)
                    n[a] += 1
            return {(a, n[a], str(acc[a])) for a in acc}
        if cls == "range_lookup":
            return {(r["block_number"], r["log_index"], r["transaction_hash"])
                    for r in self.live
                    if r["address"] == p["addr"] and p["lo"] <= r["block_number"] <= p["hi"]}
        if cls == "graphql_page":
            mine = [(r["block_number"], r["log_index"], r["transaction_hash"])
                    for r in self.live if r["address"] == p["addr"]]
            return mine[p["offset"]: p["offset"] + 50]
        if cls == "top_receivers":
            acc = Counter()
            for b, _a, to, amt, _ts in self.transfers:
                if p["lo"] <= b <= p["hi"]:
                    acc[to] += amt
            top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            return [(to, str(v)) for to, v in top]
        raise ValueError(cls)


GRAPHQL_PAGE = (
    '{ allLogs(condition: {address: "%s"}, orderBy: [BLOCK_NUMBER_ASC, LOG_INDEX_ASC], '
    'first: 50, offset: %d) { nodes { blockNumber logIndex transactionHash } } }')


class QueryClient:
    """Issues the five request classes through the archive's public calls."""

    def __init__(self, ctx):
        from evm_archive_spark import pipeline, views
        from evm_archive_spark.schemas import LOGS_PK

        self.ctx = ctx
        self.spark = ctx.spark
        self.logs_path = str(ctx.staged / "logs")
        self.pk = LOGS_PK
        self.spec = next(s for s in views.DEFAULT_EVENTS if s.name == "Transfer")
        logs = pipeline.read_sink(self.spark, self.logs_path, LOGS_PK)
        self.transfers = views.event_view_df(logs, self.spec)
        self.transfers.createOrReplaceTempView("transfers")
        self.price = pipeline.read_sink(self.spark, str(ctx.staged / "price"))

    def run(self, cls: str, p: dict):
        from pyspark.sql import functions as F

        from evm_archive_spark import graphql, pipeline
        from evm_archive_spark.operators.asof import asof_join

        spark = self.spark
        if cls == "transfer_volume":
            rows = spark.sql(
                "SELECT CAST(to_date(evt_block_time) AS STRING) AS day, contract_address, "
                "CAST(sum(amount) AS STRING) AS total FROM transfers "
                f"WHERE evt_block_number BETWEEN {p['lo']} AND {p['hi']} "
                "GROUP BY 1, 2").collect()
            return {(r["day"], r["contract_address"], r["total"]) for r in rows}
        if cls == "usd_volume":
            c = self.ctx.chain
            left = self.transfers.filter(
                F.col("contract_address").isin(c.tokens)
                & F.col("evt_block_number").between(p["lo"], p["hi"])
            ).select("contract_address", "evt_block_number", "amount")
            right = self.price.select(
                "address", F.col("block_number").alias("evt_block_number"), "price")
            j = asof_join(left, right, on="evt_block_number", by_left="contract_address",
                          by_right="address", value_cols=["price"])
            rows = j.groupBy("contract_address").agg(
                F.count("*").alias("n"),
                F.sum(F.col("amount") * F.col("price")).cast("string").alias("usd")).collect()
            return {(r["contract_address"], r["n"], r["usd"]) for r in rows}
        if cls == "range_lookup":
            rows = (pipeline.read_sink(spark, self.logs_path, self.pk)
                    .filter((F.col("address") == p["addr"])
                            & F.col("block_number").between(p["lo"], p["hi"]))
                    .select("block_number", "log_index", "transaction_hash").collect())
            return {tuple(r) for r in rows}
        if cls == "graphql_page":
            res = graphql.execute(
                GRAPHQL_PAGE % (p["addr"], p["offset"]),
                {"logs": pipeline.read_sink(spark, self.logs_path, self.pk)})
            if "errors" in res:
                return res["errors"]
            return [(n["blockNumber"], n["logIndex"], n["transactionHash"])
                    for n in res["data"]["allLogs"]["nodes"]]
        if cls == "top_receivers":
            rows = spark.sql(
                "SELECT `to`, CAST(sum(amount) AS STRING) AS total FROM transfers "
                f"WHERE evt_block_number BETWEEN {p['lo']} AND {p['hi']} "
                "GROUP BY `to` ORDER BY sum(amount) DESC, `to` LIMIT 10").collect()
            return [(r["to"], r["total"]) for r in rows]
        raise ValueError(cls)


def _request_params(rng: random.Random, c: ch.Chain, cls: str, counts: Counter) -> dict:
    last = c.shape.archive_blocks - 1
    lo = rng.randrange(0, last // 2)
    hi = lo + last // 2
    if cls in ("transfer_volume", "usd_volume", "top_receivers"):
        return {"lo": lo, "hi": hi}
    addr = rng.choice(c.contracts[:8])
    if cls == "range_lookup":
        return {"addr": addr, "lo": lo, "hi": lo + last // 8}
    return {"addr": addr, "offset": rng.randrange(0, max(1, counts[addr] - 50))}


def query(ctx, seconds: float) -> Outcome:
    c = ctx.chain
    oracle = ctx.query_oracle
    client = QueryClient(ctx)
    per_addr = Counter(r["address"] for r in oracle.live)
    n_clients = ctx.query_clients
    done: list[list] = [[] for _ in range(n_clients)]
    rounds = query_rounds(seconds)
    sc = ctx.spark.sparkContext

    def loop(i: int) -> None:
        rng = random.Random(f"query:{c.seed}:{i}")
        for _ in range(rounds):
            classes = QUERY_CLASSES[:]
            rng.shuffle(classes)
            for cls in classes:
                p = _request_params(rng, c, cls, per_addr)
                sc.setJobDescription(f"query.{cls}")
                with ctx.tracer.span(f"query.{cls}"):
                    t0 = time.perf_counter()
                    try:
                        ans = client.run(cls, p)
                    except Exception as e:  # noqa: BLE001 - a failed request is a failed op
                        ans = ("error", repr(e))
                    dt = time.perf_counter() - t0
                done[i].append((cls, p, ans, dt))
        sc.setJobDescription(None)

    t_start = time.perf_counter()
    threads = [threading.Thread(target=loop, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start

    out = Outcome(plant=ctx.plant)
    lat = []
    by_cls: dict[str, list[float]] = {k: [] for k in QUERY_CLASSES}
    for reqs in done:
        for cls, p, ans, dt in reqs:
            want = oracle.answer(cls, p)
            out.op(lambda planted, cls=cls, ans=ans, want=want:
                   set() if ans == (("planted", want) if planted else want)
                   else {f"query.{cls}"})
            lat.append(dt * 1000)
            by_cls[cls].append(dt * 1000)
    q_hi = tail_quantile(len(lat))
    out.metrics = {
        "query_p50_ms": percentile(lat, 0.5),
        "query_p99_ms": percentile(lat, q_hi),
        "queries_per_s": len(lat) / wall,
    }
    out.notes = {"query_tail_quantile": q_hi, "query_samples": len(lat),
                 "requests_by_class": {k: len(v) for k, v in by_cls.items()},
                 "p50_ms_by_class": {k: percentile(v, 0.5) for k, v in by_cls.items()}}
    if ctx.tracer.enabled:
        out.layers = {f"query.{k}.p50_ms": percentile(v, 0.5) for k, v in by_cls.items()}
        out.layers.update(_query_layers(ctx, client, per_addr))
    return out


def _timed_ms(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1000)
    return median(walls)


def _query_layers(ctx, client: QueryClient, per_addr: Counter) -> dict:
    """Single-layer probes over the staged archive (traced run only)."""
    from pyspark.sql import functions as F

    from evm_archive_spark import graphql, pipeline, views
    from evm_archive_spark.operators.asof import asof_join

    spark, path, pk = ctx.spark, client.logs_path, client.pk
    last = ctx.chain.shape.archive_blocks - 1
    addr = ctx.chain.contracts[0]
    flt = (F.col("address") == addr) & F.col("block_number").between(0, last // 2)
    offset = max(0, per_addr[addr] // 2)

    def asof_all():
        left = client.transfers.select("contract_address", "evt_block_number", "amount")
        right = client.price.select("address", F.col("block_number").alias("evt_block_number"),
                                    "price")
        (asof_join(left, right, on="evt_block_number", by_left="contract_address",
                   by_right="address", value_cols=["price"])
         .write.format("noop").mode("overwrite").save())

    def same_df():
        (pipeline.read_sink(spark, path, pk).filter(F.col("address") == addr)
         .orderBy("block_number", "log_index")
         .select("block_number", "log_index", "transaction_hash")
         .offset(offset).limit(51).collect())

    return {
        "read_sink.resolved_ms": _timed_ms(
            lambda: pipeline.read_sink(spark, path, pk).filter(flt).count()),
        "read_sink.raw_ms": _timed_ms(lambda: spark.read.parquet(path).filter(flt).count()),
        "views.transfer_decode_ms": _timed_ms(
            lambda: views.event_view_df(spark.read.parquet(path), client.spec)
            .write.format("noop").mode("overwrite").save()),
        "asof.usd_volume_ms": _timed_ms(asof_all),
        "graphql.page_ms": _timed_ms(lambda: graphql.execute(
            GRAPHQL_PAGE % (addr, offset), {"logs": pipeline.read_sink(spark, path, pk)})),
        "graphql.same_df_ms": _timed_ms(same_df),
    }


# --------------------------------------------------------------------------
# pg_mirror: staged logs into PostgreSQL, then an identical replay
# --------------------------------------------------------------------------

PG_COLS = ("address, topic0, topic1, topic2, topic3, data, block_hash, block_number, "
           "transaction_hash, transaction_index, log_index, removed, "
           "extract(epoch from block_timestamp)::bigint")


def _pg_rows(conn) -> dict[tuple, tuple]:
    cur = conn.cursor()
    cur.execute(f"SELECT {PG_COLS} FROM logs")
    got = {}
    for r in cur.fetchall():
        row = (r[0], r[1], r[2], r[3], r[4], r[5], r[6], int(r[7]), r[8], int(r[9]),
               int(r[10]), r[11] == "t", int(r[12]) if r[12] is not None else None)
        got[(row[6], row[8], row[10])] = row
    return got


def pg_mirror(ctx, seconds: float) -> Outcome:
    from evm_archive_spark.schemas import LOGS_PK
    from evm_archive_spark.sinks import upsert

    pg, c = ctx.pg, ctx.chain
    df = ctx.spark.read.parquet(str(ctx.staged / "logs")).drop("ingest_batch")
    # expected: one row per PK; a PK staged both live and as a tombstone
    # may keep either ``removed`` value, every other column must match
    want: dict[tuple, set] = {}
    for r in ctx.staged_rows:
        want.setdefault(ch.pk_of(r), set()).add(_row_key(r))
    n = len(want)

    out = Outcome(plant=ctx.plant)
    first, replay, windows, wal = [], [], [], []
    for _ in range(pg_cycles(seconds) * c.shape.pg_cycle_factor):
        pg.reset_logs()
        lsn0 = pg.scalar("SELECT pg_current_wal_lsn()")
        passes = []
        for name in ("first", "replay"):
            with ctx.tracer.span(f"pg.{name}"):
                t0 = time.time()
                res = upsert.write_conflict_ignore(
                    df, "logs", LOGS_PK, pg.factory(), method="copy", parallel=True)
                t1 = time.time()
            passes.append((t0, t1, res))
            if name == "first":
                wal.append(float(pg.scalar(
                    f"SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '{lsn0}')")))
        conn = pg.factory()()
        try:
            got = _pg_rows(conn)
        finally:
            conn.close()
        content_ok = len(got) == n and all(got.get(pk) in rows for pk, rows in want.items())
        for i, (t0, t1, res) in enumerate(passes):
            def judge(planted: bool, i=i, res=res) -> set:
                # the first pass inserts every row, the replay none
                want_inserted = (n if i == 0 else 0) + (1 if planted else 0)
                bad = set()
                if res.inserted != want_inserted or res.attempted != n:
                    bad.add("pg_mirror.inserted")
                if not content_ok:
                    bad.add("pg_mirror.content")
                return bad

            out.op(judge)
            (first if i == 0 else replay).append(t1 - t0)
            windows.append((t0, t1))
    # rates over all passes of a kind: per-pass times are bimodal on short
    # passes, which makes their median jump between the two modes
    out.metrics = {
        "pg_insert_rows_per_s": n * len(first) / sum(first),
        "pg_replay_rows_per_s": n * len(replay) / sum(replay),
    }
    out.notes = {"pg_rows": n, "pg_first_s": first, "pg_replay_s": replay}
    if ctx.tracer.enabled:
        out.layers = {
            "pg.first_s": sum(first) / len(first),
            "pg.replay_s": sum(replay) / len(replay),
            "pg.wal_bytes_per_row": median(wal) / n,
        }
    return out
