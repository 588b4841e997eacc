#!/usr/bin/env python3
"""End-to-end benchmark of the EVM archive.

Usage, from the root of a checkout::

    python3 archbench/run.py --workload dense --seed 1 --seconds 12 --trace 0

One run starts a JSON-RPC node (its own process, serving a chain built
from the seed), a scratch PostgreSQL and a Spark session, then runs the
archive's whole path in four phases: ``backfill`` (``run_batch``),
``tail`` (``run_stream`` against a growing head), ``query`` (five request
classes over a staged archive) and ``pg_mirror`` (``write_conflict_ignore``
into PostgreSQL).  Every answer is checked against an oracle computed from
the chain in plain Python.  The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``).

See ``archbench/DESIGN.md`` for the workloads, the metrics and what each
layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import chain as ch  # noqa: E402
import phases  # noqa: E402
from trace import (RssSampler, Tracer, engine_metrics,  # noqa: E402
                   make_progress_listener, parse_event_log)

# metric names and units come from BENCHMARK.json, the one list of them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
BETTER = {m["name"]: m["better"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
PHASES = ["backfill", "tail", "query", "pg_mirror"]
BLOCK_STEP = 100


def process_start_time() -> float:
    """Wall time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class NodeProc:
    """The JSON-RPC node, run as a child process."""

    def __init__(self, workload: str, seed: int, threads: int):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "node.py"), "--workload", workload,
             "--seed", str(seed), "--threads", str(threads)],
            stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.strip():
            self.stop()
            raise RuntimeError("node exited before listening")
        self.endpoint = f"http://127.0.0.1:{int(line)}"
        self.rpc("eth_blockNumber")

    def rpc(self, method: str, params=()):
        req = urllib.request.Request(
            self.endpoint,
            data=json.dumps({"jsonrpc": "2.0", "id": 1, "method": method,
                             "params": list(params)}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=60) as resp:
            body = json.loads(resp.read())
        if "error" in body:
            raise RuntimeError(f"node: {body['error']}")
        return body["result"]

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()


class Ctx:
    """Everything a phase needs; phases read it, run.py owns it."""

    def __init__(self, args, work: Path, nproc: int):
        self.workload, self.seed = args.workload, args.seed
        self.work = work
        self.nproc = nproc
        self.step = BLOCK_STEP
        # closed-loop clients; one core is left to the node and the Spark driver
        self.query_clients = max(1, nproc - 1)
        self.plant = args.plant
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        self.chain: ch.Chain | None = None
        self.node: NodeProc | None = None
        self.pg = None
        self.spark = None
        self.listener = None
        self.staged = work / "staged"
        self.staged_rows: list[dict] = []
        self.query_oracle = None
        self.dirs = 0

    def fresh_dir(self, name: str) -> Path:
        """A new, unused output directory: run_batch and run_stream
        resume from what they find in theirs."""
        self.dirs += 1
        return self.work / "out" / f"{self.dirs:03d}-{name}"

    @property
    def endpoint(self) -> str:
        return self.node.endpoint

    def rpc(self, method: str, params=()):
        return self.node.rpc(method, params)

    def node_phase(self, name: str) -> None:
        self.rpc("bench_phase", [name])

    def node_counters(self) -> dict:
        return self.rpc("bench_counters")

    def cfg(self, **kw) -> dict:
        from evm_archive_spark import pipeline

        c = self.chain
        cfg = pipeline.env_config({})
        cfg.update(endpoint=self.endpoint, tokens=",".join(c.tokens),
                   oracles=",".join(c.oracles), block_step=self.step, enrich=True)
        cfg.update(kw)
        return cfg

    def start_spark(self, event_dir: Path | None = None, cores: int | None = None):
        from evm_archive_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if event_dir is not None:
            event_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if cores is not None:
            conf["spark.master"] = f"local[{cores}]"
        self.spark = get_spark("archbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.listener = make_progress_listener()
        self.spark.streams.addListener(self.listener)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def stop_jvm() -> None:
    """Let the Spark JVM exit (it does when its stdin closes) and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def warm_up(ctx: Ctx, ingest_only: bool = False) -> None:
    """Start the Python workers and compile the plans every phase uses, on
    a small input, so the timed phases do not pay first-use costs.  The
    three warm-ups are independent and run side by side.  The tail warms
    its stream itself (``phases.tail``)."""
    from evm_archive_spark import pipeline
    from evm_archive_spark.schemas import LOGS_PK
    from evm_archive_spark.sinks import upsert

    def ingest():
        out = ctx.fresh_dir("warmup")
        pipeline.run_batch(ctx.spark, ctx.cfg(out=str(out), from_block=0,
                                              to_block=ctx.step - 1))

    def query():
        client = phases.QueryClient(ctx)
        addr = ctx.chain.contracts[0]
        for cls in phases.QUERY_CLASSES:
            client.run(cls, {"lo": 0, "hi": ctx.step, "addr": addr, "offset": 0})

    def mirror():
        ctx.pg.reset_logs()
        df = ctx.spark.read.parquet(str(ctx.staged / "logs")).drop("ingest_batch")
        upsert.write_conflict_ignore(df, "logs", LOGS_PK, ctx.pg.factory(),
                                     method="copy", parallel=True)

    with ThreadPoolExecutor(max_workers=3) as pool:
        fns = (ingest,) if ingest_only else (ingest, query, mirror)
        for f in [pool.submit(fn) for fn in fns]:
            f.result()


def run_pass(ctx: Ctx, seconds: float) -> dict[str, phases.Outcome]:
    outcomes = {}
    for name in PHASES:
        with ctx.tracer.span(f"phase.{name}"):
            t0 = time.perf_counter()
            outcomes[name] = getattr(phases, name)(ctx, seconds)
            outcomes[name].notes["phase_wall_s"] = time.perf_counter() - t0
    return outcomes


def e2e_metrics(outcomes: dict[str, phases.Outcome], setup_s: float, rss_mb: float) -> dict:
    m = {"setup_s": setup_s, "peak_rss_mb": rss_mb}
    for o in outcomes.values():
        m.update(o.metrics)
    # the provider quota: requests of backfill and tail over the blocks they archive
    ingest = [outcomes[p].notes for p in ("backfill", "tail")]
    m["rpc_requests_per_block"] = (sum(n["rpc_requests"] for n in ingest)
                                   / sum(n["rpc_blocks"] for n in ingest))
    return {k: m[k] for k in E2E}


def timed(fn):
    t0 = time.perf_counter()
    res = fn()
    return res, time.perf_counter() - t0


def set_up(ctx: Ctx, sampler: RssSampler) -> dict:
    """Node, PostgreSQL, staging, Spark and warm-up.  The node, the
    database and the staging run in the background while the Spark
    session starts; each step's own duration is returned."""
    import pg

    s = {}

    def start_node():
        ctx.node, s["setup.node_ready_s"] = timed(
            lambda: NodeProc(ctx.workload, ctx.seed, ctx.nproc))
        sampler.excluded.add(ctx.node.proc.pid)

    def start_pg():
        # pg_ctl detaches the server, so it is not in the sampled process tree
        ctx.pg, s["setup.pg_s"] = timed(lambda: pg.ScratchPg(ctx.work / "pg"))

    def stage():
        ctx.chain = ch.build(ctx.workload, ctx.seed)
        ctx.staged_rows = phases.stage_archive(ctx.chain, ctx.staged, ctx.step)
        ctx.query_oracle = phases.QueryOracle(ctx.chain, ctx.staged_rows, ctx.step)

    def stage_timed():
        s["setup.stage_s"] = timed(stage)[1]

    with ThreadPoolExecutor(max_workers=3) as pool:
        background = [pool.submit(fn) for fn in (start_node, start_pg, stage_timed)]
        s["setup.spark_s"] = timed(ctx.start_spark)[1]
        for f in background:
            f.result()
    s["setup.worker_warmup_s"] = timed(lambda: warm_up(ctx))[1]
    return s


def check_events_match(chain_events, archive_events) -> None:
    """The generator's event table must be the archive's default views."""
    got = [(s.name, s.topic0, [(p.type, p.name, p.indexed) for p in s.params])
           for s in archive_events]
    if got != chain_events:
        raise RuntimeError("archbench/chain.py EVENTS differs from views.DEFAULT_EVENTS")


def traced_pass(ctx: Ctx, args, sampler: RssSampler, untraced: dict) -> dict:
    """After the untraced run: the single-threaded backfill baseline, then
    all phases again with spans and the Spark event log on.  Returns the
    per-layer metrics.  Both extra sessions start in the already warm JVM,
    so their start-up times are comparable with each other (not with the
    first session's)."""
    ctx.stop_spark()
    layers = {}

    # single-threaded baseline: the same backfill on local[1]
    t_local1 = time.perf_counter()
    _, plain_start_s = timed(lambda: ctx.start_spark(cores=1))
    warm_up(ctx, ingest_only=True)
    single = phases.backfill(ctx, 0)
    ctx.stop_spark()
    notes = {"local1_s": time.perf_counter() - t_local1}
    layers["sources.parallel_speedup"] = (untraced["metrics"]["ingest_logs_per_s"]
                                          / single.metrics["ingest_logs_per_s"])

    evdir = ctx.work / "eventlog"
    t = ctx.tracer
    t.enabled = True
    with t.span("setup"):
        _, traced_start_s = timed(lambda: ctx.start_spark(event_dir=evdir))
        _, warm_s = timed(lambda: warm_up(ctx))
    sampler.peak_kb = 0
    outcomes = run_pass(ctx, args.seconds)
    rss = sampler.peak_kb / 1024.0
    with t.span("probe.read_logs"):
        layers["sources.read_logs_per_s"] = phases.read_logs_probe(ctx)
    ctx.stop_spark()
    t.enabled = False
    t.write(HERE / "_out" / f"spans-{t.run_id}.jsonl")
    jobs, stages = parse_event_log(evdir)

    windows = {
        "backfill": t.intervals("pipeline.run_batch"),
        "tail": [(a, b) for a, _ in t.intervals("pipeline.run_stream")
                 for _, b in t.intervals("stream.processAllAvailable")],
        "query": t.intervals("query."),
        "pg_mirror": t.intervals("pg."),
    }
    for name, win in windows.items():
        for k, v in engine_metrics(stages, jobs, win).items():
            layers[f"spark.{name}.{k}"] = v
    layers["pipeline.jobs_per_run"] = (layers["spark.backfill.jobs"]
                                       / max(len(windows["backfill"]), 1))
    for o in outcomes.values():
        layers.update(o.layers)
    layers["stream.jobs_per_batch"] = (layers["spark.tail.jobs"]
                                       / max(layers["stream.batches"], 1))
    n_req = outcomes["query"].notes["requests_by_class"]
    for cls in phases.QUERY_CLASSES:
        n_jobs = sum(1 for j in jobs if j["desc"] == f"query.{cls}")
        layers[f"query.{cls}.jobs"] = n_jobs / max(n_req[cls], 1)
    # writers: tasks of the last stage of the first pass (the mapInArrow write)
    a, b = t.intervals("pg.first")[0]
    last_stage = max((s for s in stages if a <= s["t"] <= b),
                     key=lambda s: s["t"], default={"tasks": 0})
    layers["pg.writers"] = last_stage["tasks"]

    traced = e2e_metrics(outcomes, 0.0, rss)
    for k in E2E:
        # signed so that a positive overhead is always a cost of tracing
        sign = -1 if BETTER[k] == "higher" else 1
        layers[f"overhead.{k}"] = sign * (traced[k] - untraced["metrics"][k])
    # set-up: the traced session start against the untraced one
    layers["overhead.setup_s"] = traced_start_s - plain_start_s
    notes["traced_s"] = time.perf_counter() - t_local1 - notes["local1_s"]
    return {"layers": layers, "outcomes": outcomes, "single": single, "notes": notes}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ch.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="self-test: corrupt the expected answer of the first "
                         "passing operation of each phase")
    args = ap.parse_args()

    if not (ROOT / "evm_archive_spark" / "pipeline.py").is_file():
        print("archbench: evm_archive_spark is not in this checkout", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the finally below, which stops the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_proc = process_start_time()
    nproc = len(os.sched_getaffinity(0))
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))
    sampler = RssSampler()
    ctx = Ctx(args, work, nproc)
    try:
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        from evm_archive_spark import views

        check_events_match(ch.EVENTS, views.DEFAULT_EVENTS)
        sampler.start()
        setup = set_up(ctx, sampler)
        setup_s = time.time() - t_proc
        outcomes = run_pass(ctx, args.seconds)
        rss = sampler.peak_kb / 1024.0
        metrics = e2e_metrics(outcomes, setup_s, rss)
        if args.trace:
            tr = traced_pass(ctx, args, sampler, {**setup, "metrics": metrics})
            shown = dict(tr["layers"], **setup)
            checked = [outcomes, tr["outcomes"], {"backfill.local1": tr["single"]}]
            timing = tr["notes"]
        else:
            shown = metrics
            checked = [outcomes]
            timing = {}
    finally:
        # every step runs even if an earlier one fails
        steps = [sampler.stop, ctx.stop_spark, stop_jvm]
        steps += [x.stop for x in (ctx.node, ctx.pg) if x is not None]
        steps.append(lambda: shutil.rmtree(work, ignore_errors=True))
        for step in steps:
            try:
                step()
            except Exception:  # noqa: BLE001 - report and go on cleaning up
                traceback.print_exc()

    attempted = sum(o.attempted for group in checked for o in group.values())
    failed = sum(o.failed for group in checked for o in group.values())
    bad = {c for group in checked for o in group.values() for c in o.checks}
    summary = {name: {"attempted": o.attempted, "failed": o.failed,
                      "checks": dict(o.checks), "planted_op": o.planted_op,
                      "unplanted_failed": o.unplanted_failed, **o.notes}
               for name, o in outcomes.items()}
    print(json.dumps({"phases": summary, "setup": setup,
                      "wall_s": time.time() - t_proc, **timing,
                      "known_defects": sorted(phases.KNOWN_DEFECTS)}), file=sys.stderr)
    units = LAYERS if args.trace else E2E
    missing = set(units) - set(shown)
    if missing:
        print(f"archbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bad <= phases.KNOWN_DEFECTS,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }))
    return 0

if __name__ == "__main__":
    sys.exit(main())
