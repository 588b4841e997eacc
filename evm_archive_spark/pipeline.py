"""Drop-in pipeline runner: the reference's whole `main()` as one call.

Reads the same `EVM_ARCHIVE_*` environment surface (main.go:18-91, A14),
runs the logs + price ingestion through the Spark sources, and lands rows
in an idempotent sink.  A user of the reference can point this at the same
endpoint/env and get the same tables — plus horizontal fetch parallelism,
a parquet archive, and optional timestamp enrichment the reference lacks.

Env (identical names/defaults to the reference; example.env:1-28):

- ``EVM_ARCHIVE_ENDPOINT``       default http://localhost:8545 (main.go:20-24)
- ``EVM_ARCHIVE_CONTRACTS``      CSV filter, optional (main.go:35-38)
- ``EVM_ARCHIVE_TOKENS`` / ``EVM_ARCHIVE_ORACLES`` equal-length CSVs (main.go:40-50)
- ``EVM_ARCHIVE_FROM_BLOCK``     default 0 (main.go:52-58)
- ``EVM_ARCHIVE_TO_BLOCK``       default "infinity" — here: chain head at
  launch for the bounded batch run (main.go:60-68)
- ``EVM_ARCHIVE_BLOCK_STEP``     default 100 (main.go:70-78)
- ``EVM_ARCHIVE_SLEEP_SECONDS``  default 5 — streaming trigger interval (main.go:80-88)

Spark-side additions:

- ``EVM_ARCHIVE_OUT``            parquet output dir (default ./evm_archive_out)
- ``EVM_ARCHIVE_STREAM``         "1" → tail-follow via Structured Streaming
  with a processingTime trigger of SLEEP_SECONDS (A13); default bounded
  batch backfill (availableNow semantics)
- ``EVM_ARCHIVE_ENRICH_TIMESTAMPS`` "1" → fill ``block_timestamp``: the
  ``evm_logs`` reader (option ``enrichTimestamps``) fetches one header per
  block that has logs, in the same task as the window's ``eth_getLogs``
- ``EVM_ARCHIVE_MAX_BLOCKS_PER_BATCH`` streaming admission cap in blocks
  per micro-batch (reader option ``maxBlocksPerBatch``); default -1, <= 0
  leaves batches uncapped
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from .schemas import LOGS_PK, PRICE_PK
from .sources import rpc

log = logging.getLogger(__name__)

# Stored logs are unique on PK + removed, not the PK alone: a reorg
# re-delivers a log's PK with removed=true in the same or a later poll
# window, and the tombstone must be STORED verbatim (reference
# get_logs.go:52 stores removed as a column) -- a PK-only dedup would
# arbitrarily drop either the row or its tombstone.  Resolution is a
# read-time concern (reorg.resolve_removed via read_sink), keeping the
# sink append-only and idempotent.
LOGS_SINK_KEY = LOGS_PK + ["removed"]


def env_config(env: dict | None = None) -> dict:
    e = env if env is not None else os.environ
    return {
        "endpoint": e.get("EVM_ARCHIVE_ENDPOINT", "http://localhost:8545"),
        "contracts": e.get("EVM_ARCHIVE_CONTRACTS", ""),
        "tokens": e.get("EVM_ARCHIVE_TOKENS", ""),
        "oracles": e.get("EVM_ARCHIVE_ORACLES", ""),
        "from_block": int(e.get("EVM_ARCHIVE_FROM_BLOCK", "0")),
        "to_block": int(e.get("EVM_ARCHIVE_TO_BLOCK", "-1")),
        "block_step": int(e.get("EVM_ARCHIVE_BLOCK_STEP", "100")),
        "sleep_seconds": int(e.get("EVM_ARCHIVE_SLEEP_SECONDS", "5")),
        "out": e.get("EVM_ARCHIVE_OUT", "./evm_archive_out"),
        "stream": e.get("EVM_ARCHIVE_STREAM", "") == "1",
        "enrich": e.get("EVM_ARCHIVE_ENRICH_TIMESTAMPS", "") == "1",
        # streaming admission cap (maxOffsetsPerTrigger analog); <= 0
        # leaves batches uncapped
        "max_blocks_per_batch": int(
            e.get("EVM_ARCHIVE_MAX_BLOCKS_PER_BATCH", "-1")
        ),
    }


def _write_idempotent(df, path: str, batch_key: int) -> None:
    """Land one ingest unit in the parquet sink exactly-once-per-key.

    foreachBatch is at-least-once: after a crash between the logs write
    and the price write, Spark replays the whole micro-batch.  A plain
    ``mode('append')`` would duplicate PK rows on replay, so each unit
    writes its own hive partition ``ingest_batch=<key>`` with *dynamic*
    partition overwrite — the replay deterministically rewrites the same
    partition and nothing else (the parquet analog of the reference's
    ``ON CONFLICT DO NOTHING``, get_logs.go:112-137).  batch_key is the
    streaming batch_id (stable across restarts from one checkpoint) or
    the batch backfill's resume-start block."""
    from pyspark.sql import functions as F

    (
        df.withColumn("ingest_batch", F.lit(int(batch_key)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def _drop_if_empty_dir(path: str) -> bool:
    """Undo the one trace an empty write leaves: the sink directory it
    creates when none existed, from which ``spark.read.parquet`` cannot
    infer a schema.  A directory holding anything is left alone.  True
    when a directory was removed, i.e. the sink holds no rows."""
    if os.path.isdir(path) and not os.listdir(path):
        os.rmdir(path)
        return True
    return False


def read_sink(
    spark: SparkSession,
    path: str,
    pk: list[str] | None = None,
    resolve_reorgs: bool = True,
):
    """Read the pipeline's parquet sink back as the logical table: drops
    the ``ingest_batch`` bookkeeping partition and (belt-and-braces, e.g.
    overlapping backfill windows) dedups by PK when one is given.

    When the sink carries a ``removed`` column and a PK is given, the
    view applies reorg tombstone resolution by default
    (``reorg.resolve_removed``): a PK re-delivered with removed=true in
    any later batch masks the earlier row — completing the reference's
    acknowledged TODO (get_logs.go:107) at the read face, where the
    append-only/idempotent sink contract stays intact.  Pass
    ``resolve_reorgs=False`` for the raw tombstoned history."""
    df = spark.read.parquet(path)
    if "ingest_batch" in df.columns:
        df = df.drop("ingest_batch")
    if pk and resolve_reorgs and "removed" in df.columns:
        from .operators.reorg import resolve_removed

        return resolve_removed(df, pk)
    return df.dropDuplicates(pk) if pk else df


def _resume_from(spark: SparkSession, path: str, from_block: int) -> int:
    """A10/A11: start = max(sink max + 1, FROM_BLOCK) (main.go:162-175,
    206-215) — reconciliation against the parquet sink.  Only a sink that
    does not exist yet reads as empty; any other read error (a corrupt
    file, an unreadable directory) raises rather than re-archiving from
    FROM_BLOCK."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    try:
        mx = (
            spark.read.parquet(path)
            .agg(F.max("block_number").alias("m"))
            .collect()[0]["m"]
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        mx = None
    return max((mx + 1) if mx is not None else 0, from_block)


def _logs_reader(reader, cfg: dict, start: int):
    """The ``evm_logs`` options run_batch and run_stream share."""
    reader = (
        reader.format("evm_logs")
        .option("endpoint", cfg["endpoint"])
        .option("fromBlock", str(start))
        .option("blockStep", str(cfg["block_step"]))
    )
    if cfg["to_block"] >= 0:
        reader = reader.option("toBlock", str(cfg["to_block"]))
    if cfg["contracts"]:
        reader = reader.option("contracts", cfg["contracts"])
    if cfg["enrich"]:
        reader = reader.option("enrichTimestamps", "true")
    return reader


def run_batch(spark: SparkSession, cfg: dict | None = None) -> dict:
    """Bounded backfill: logs (timestamps filled by the reader when
    enrichment is on) + price into partitioned parquet.  Returns row
    counts per table."""
    cfg = cfg or env_config()
    rpc.register(spark)
    logs_path = os.path.join(cfg["out"], "logs")
    start = _resume_from(spark, logs_path, cfg["from_block"])
    logs = _logs_reader(spark.read, cfg, start).load().dropDuplicates(
        LOGS_SINK_KEY
    )
    _write_idempotent(logs, logs_path, start)
    empty = _drop_if_empty_dir(logs_path)
    counts = {"logs": 0 if empty else read_sink(spark, logs_path).count()}

    if cfg["tokens"] and cfg["oracles"]:
        price_path = os.path.join(cfg["out"], "price")
        price = (
            spark.read.format("evm_price")
            .option("endpoint", cfg["endpoint"])
            .option("tokens", cfg["tokens"])
            .option("oracles", cfg["oracles"])
            .option("fromBlock", str(start))
            .option(
                "toBlock",
                str(cfg["to_block"]) if cfg["to_block"] >= 0 else "-1",
            )
            .option("blockStep", str(cfg["block_step"]))
            .load()
            .dropDuplicates(PRICE_PK)
        )
        _write_idempotent(price, price_path, start)
        counts["price"] = read_sink(spark, price_path).count()
    return counts


def _stream_batch_writer(
    cfg: dict, logs_path: str, price_path: str, publish=None
):
    """foreachBatch body for run_stream, factored out so replay semantics
    are directly testable: calling it twice with the same batch_id must
    leave the sink unchanged (see _write_idempotent).

    ``publish`` (optional, e.g. a graphql.serve() server's ``publish``)
    is called with topic 'logs' / 'price' after the corresponding sink
    commit — the engine-side analogue of the reference's insert trigger
    firing Postgres NOTIFY for Postgraphile --simple-subscriptions."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    want_price = bool(cfg["tokens"] and cfg["oracles"])

    def _notify(topic: str) -> None:
        if publish is not None:
            try:
                publish(topic)
            except Exception:  # noqa: BLE001 — listeners never fail ingest
                log.warning("publish(%r) failed", topic, exc_info=True)

    def write_batch(batch_df, batch_id: int) -> None:
        # The block bounds the price probes need are observed during the
        # logs write: foreachBatch re-plans the DataSource scan for every
        # action, so a separate bounds query would read the node twice
        # and could see another snapshot of it.
        bounds = Observation()
        _write_idempotent(
            batch_df.dropDuplicates(LOGS_SINK_KEY).observe(
                bounds,
                F.min("block_number").alias("lo"),
                F.max("block_number").alias("hi"),
            ),
            logs_path,
            batch_id,
        )
        lo, hi = bounds.get["lo"], bounds.get["hi"]
        if lo is None:
            _drop_if_empty_dir(logs_path)
            return
        _notify("logs")
        if not want_price:
            return
        price = (
            batch_df.sparkSession.read.format("evm_price")
            .option("endpoint", cfg["endpoint"])
            .option("tokens", cfg["tokens"])
            .option("oracles", cfg["oracles"])
            .option("fromBlock", str(lo))
            .option("toBlock", str(hi))
            .option("blockStep", str(cfg["block_step"]))
            .load()
            .dropDuplicates(PRICE_PK)
        )
        _write_idempotent(price, price_path, batch_id)
        _notify("price")

    return write_batch


def run_stream(
    spark: SparkSession,
    cfg: dict | None = None,
    available_now: bool = False,
    publish=None,
):
    """A13 tail-follow: streaming logs into the parquet sink; when
    tokens/oracles are configured, each micro-batch also captures the
    price probe at its window start — the reference's per-window
    ``getPrices`` (main.go:237, A3) carried into streaming.  Returns the
    StreamingQuery."""
    cfg = cfg or env_config()
    rpc.register(spark)
    logs_path = os.path.join(cfg["out"], "logs")
    price_path = os.path.join(cfg["out"], "price")
    start = _resume_from(spark, logs_path, cfg["from_block"])
    reader = _logs_reader(spark.readStream, cfg, start)
    if cfg.get("max_blocks_per_batch", -1) > 0:
        reader = reader.option(
            "maxBlocksPerBatch", str(cfg["max_blocks_per_batch"])
        )

    write_batch = _stream_batch_writer(cfg, logs_path, price_path, publish)

    writer = (
        reader.load()
        .writeStream.foreachBatch(write_batch)
        .option(
            "checkpointLocation", os.path.join(cfg["out"], "_checkpoint")
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{cfg['sleep_seconds']} seconds"
        )
    return writer.start()
