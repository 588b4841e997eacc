#!/usr/bin/env python3
"""Self-test of the benchmark's oracle, from the root of a checkout::

    python3 archbench/selftest.py [--workload sparse] [--seed 4] [--seconds 12]

1. The node serves, byte for byte, the chain the in-process generator
   builds for the same seed: every eth_getLogs window, every header and
   the oracle answers at every window start.
2. A planted-wrong run (``run.py --plant``) corrupts one expected answer
   per phase; each phase's failed count must rise by exactly one.  A
   phase whose every operation already fails (a known defect) cannot show
   the rise on that workload and is reported as such.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import chain as ch  # noqa: E402
from run import BLOCK_STEP, NodeProc  # noqa: E402


def raw_rpc(port: int, method: str, params: list) -> bytes:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method, "params": params})
        conn.request("POST", "/", body, {"Content-Type": "application/json"})
        return conn.getresponse().read()
    finally:
        conn.close()


def check_node_bytes(workload: str, seed: int) -> list[str]:
    c = ch.build(workload, seed)
    node = NodeProc(workload, seed, 2)
    port = int(node.endpoint.rsplit(":", 1)[1])
    bad = []
    try:
        # show the whole tail at once
        node.rpc("bench_startTail", [None, 0, 1, c.shape.tail_blocks])

        def expect(method, params, result):
            want = ch.rpc_bytes({"jsonrpc": "2.0", "id": 1, "result": result})
            if raw_rpc(port, method, params) != want:
                bad.append(f"{method} {params}")

        for lo in range(0, c.n_blocks, BLOCK_STEP):
            hi = min(lo + BLOCK_STEP - 1, c.n_blocks - 1)
            expect("eth_getLogs", [{"fromBlock": hex(lo), "toBlock": hex(hi)}],
                   c.get_logs(lo, hi))
            for o in c.oracles:
                expect("eth_call", [{"to": o, "data": ch.LATEST_ANSWER}, hex(lo)],
                       c.eth_call_result(o, lo))
        for b in range(c.n_blocks):
            expect("eth_getBlockByNumber", [hex(b), False], c.header(b))
    finally:
        node.stop()
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="sparse", choices=sorted(ch.SHAPES))
    ap.add_argument("--seed", type=int, default=4)
    ap.add_argument("--seconds", type=int, default=12)
    a = ap.parse_args()
    ok = True

    bad = check_node_bytes(a.workload, a.seed)
    print(f"node bytes: {'ok' if not bad else 'MISMATCH ' + str(bad[:5])}")
    ok &= not bad

    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds), "--plant"],
        capture_output=True, text=True, cwd=HERE.parent, env=dict(os.environ), timeout=600)
    lines = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"phases"')]
    if proc.returncode != 0 or not lines:
        print(f"planted run failed (exit {proc.returncode})\n{proc.stderr[-3000:]}")
        return 1
    for name, ph in json.loads(lines[-1])["phases"].items():
        rise = ph["failed"] - ph["unplanted_failed"]
        if ph["planted_op"] is None:
            print(f"{name}: every operation already fails ({ph['checks']}); "
                  "no passing answer to corrupt on this workload")
            continue
        print(f"{name}: planted op {ph['planted_op']}, failed {ph['unplanted_failed']} -> "
              f"{ph['failed']} (rise {rise})")
        ok &= rise == 1
    print("selftest:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
