"""JSON-RPC node serving a seeded synthetic chain over HTTP.

Run as its own process by the benchmark::

    python3 archbench/node.py --workload dense --seed 7 --threads 4

It prints its port on the first line of stdout once the chain is built
and the socket listens.  Besides the ``eth_*`` methods the archive uses,
it answers ``bench_*`` control methods: ``bench_phase`` (name a phase and
reset the counters), ``bench_counters`` (read them), ``bench_startTail``
(start growing the head in equal bursts on a fixed schedule) and
``bench_resetTail`` (shrink it back to the archived range).  At most
``--threads`` requests are served at once, each connection by a pool
thread.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import chain as chainmod  # noqa: E402


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.inflight = 0
        self.reset("idle")

    def reset(self, phase: str) -> None:
        # ``inflight`` is a level, not a counter: requests being served
        # (this control request among them) stay counted
        with self.lock:
            self.phase = phase
            self.by_method: dict[str, int] = {}
            self.getlogs_bytes = 0
            self.logs_served = 0
            self.inflight_max = 0
            self.busy_s = 0.0

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "phase": self.phase,
                "by_method": dict(self.by_method),
                "getlogs_bytes": self.getlogs_bytes,
                "logs_served": self.logs_served,
                "inflight_max": self.inflight_max,
                "busy_s": self.busy_s,
            }


class Node:
    def __init__(self, chain: chainmod.Chain):
        self.chain = chain
        self.counters = Counters()
        self.head = chain.shape.archive_blocks - 1
        self.tail_t0: float | None = None
        self.tail_burst = 0
        self.tail_interval = 1.0
        self.tail_shown = 0

    def current_head(self) -> int:
        now = time.time()
        head = self.head + self.tail_shown
        if self.tail_t0 is not None and now >= self.tail_t0:
            head += (int((now - self.tail_t0) / self.tail_interval) + 1) * self.tail_burst
        return min(head, self.chain.n_blocks - 1)

    def answer(self, method: str, params: list):
        c = self.chain
        head = self.current_head()
        if method == "eth_blockNumber":
            return hex(head)
        if method == "eth_getLogs":
            q = params[0]
            lo = int(q["fromBlock"], 16)
            hi = min(int(q["toBlock"], 16), head)
            logs = c.get_logs(lo, hi) if lo <= hi else []
            addrs = q.get("address")
            if addrs:
                logs = [lg for lg in logs if lg["address"] in addrs]
            return logs
        if method == "eth_getBlockByNumber":
            b = int(params[0], 16)
            return c.header(b) if b <= head else None
        if method == "eth_call":
            to, data = params[0]["to"], params[0].get("data")
            if to not in c.oracles or data != chainmod.LATEST_ANSWER:
                raise ValueError("execution reverted")
            return c.eth_call_result(to, int(params[1], 16))
        if method == "bench_phase":
            self.counters.reset(params[0])
            return True
        if method == "bench_counters":
            return self.counters.snapshot()
        if method == "bench_startTail":
            # params: t0 (epoch seconds, or null for no bursts yet), blocks
            # per burst, seconds between bursts, tail blocks shown at once;
            # burst k (from 0) appears at t0 + k * interval
            self.tail_burst = int(params[1])
            self.tail_interval = float(params[2])
            self.tail_shown = int(params[3])
            self.tail_t0 = None if params[0] is None else float(params[0])
            return True
        if method == "bench_resetTail":  # back to the archived range only
            self.tail_t0 = None
            self.tail_shown = 0
            return True
        raise KeyError(method)


def make_handler(node: Node):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep stderr quiet
            pass

        def do_POST(self):
            t0 = time.perf_counter()
            ctr = node.counters
            method, payload, body = "", b"", {}
            with ctr.lock:
                ctr.inflight += 1
                ctr.inflight_max = max(ctr.inflight_max, ctr.inflight)
            try:
                req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                method = req["method"]
                try:
                    body = {"jsonrpc": "2.0", "id": req.get("id"),
                            "result": node.answer(method, req.get("params") or [])}
                except KeyError:
                    body = {"jsonrpc": "2.0", "id": req.get("id"),
                            "error": {"code": -32601, "message": f"no method {method}"}}
                except ValueError as e:
                    body = {"jsonrpc": "2.0", "id": req.get("id"),
                            "error": {"code": 3, "message": str(e)}}
                payload = chainmod.rpc_bytes(body)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
            finally:
                with ctr.lock:
                    ctr.inflight -= 1
                    if not method.startswith("bench_"):
                        ctr.by_method[method] = ctr.by_method.get(method, 0) + 1
                        ctr.busy_s += time.perf_counter() - t0
                        if method == "eth_getLogs":
                            ctr.getlogs_bytes += len(payload)
                            ctr.logs_served += len(body.get("result") or ())

    return Handler


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose connections are served by a fixed thread pool."""

    request_queue_size = 128
    allow_reuse_address = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - one broken connection must not stop the node
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    node = Node(chainmod.build(a.workload, a.seed))
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(node), a.threads)
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.05)
    except KeyboardInterrupt:
        pass
    finally:
        server.pool.shutdown(wait=False, cancel_futures=True)
        server.server_close()


if __name__ == "__main__":
    main()
