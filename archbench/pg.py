"""Throwaway PostgreSQL cluster for the pg_mirror phase.

This is ``bench.py``'s scratch cluster (``_ScratchPg``): the same
``initdb`` and ``pg_ctl`` calls, the same flush policy (``fsync=off``,
``synchronous_commit=off``, ``full_page_writes=off``; nothing survives
the run, so durability is not part of what is measured), and its table
reset and stop.  Two things differ:

- the cluster lives inside the checkout, because the benchmark reads and
  writes nothing outside it, and not under ``/tmp``;
- the ``postgres`` account may not be able to reach the checkout, so
  instead of ``su postgres`` the commands run under ``unshare --user``
  with the invoking user mapped to an unprivileged id: the server sees a
  non-root owner of its data directory, and the kernel still checks file
  access as the invoking user.  The server then listens on 127.0.0.1
  only, with no unix socket, whose path length the checkout's location
  could exceed.
"""

from __future__ import annotations

import shlex
import socket
import subprocess
from pathlib import Path

from bench import _ScratchPg

FLUSH_POLICY = "-c fsync=off -c synchronous_commit=off -c full_page_writes=off"


def _unprivileged(cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["unshare", "--user", "--map-user=1", "--map-group=1", "sh", "-c", cmd],
        capture_output=True, text=True, timeout=120)


class ScratchPg(_ScratchPg):
    def __init__(self, base: Path):
        base.mkdir(parents=True)
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        self.base, self._su = str(base), _unprivileged  # _ScratchPg.stop uses both
        data, log = shlex.quote(str(base / "data")), shlex.quote(str(base / "log"))
        # dynamic shared memory as files in the data directory
        server = (f"-p {self.port} -c listen_addresses=127.0.0.1 "
                  "-c unix_socket_directories='' -c dynamic_shared_memory_type=mmap "
                  + FLUSH_POLICY)
        for cmd in (f"initdb -D {data} -A trust --no-instructions --no-sync -U postgres",
                    f"pg_ctl -D {data} -l {log} -w -o {shlex.quote(server)} start"):
            r = self._su(cmd)
            if r.returncode != 0:
                self.stop()
                raise RuntimeError(f"PostgreSQL did not start: {cmd}\n{r.stdout}{r.stderr}")

    def factory(self):
        from evm_archive_spark.sinks import pgwire

        port = self.port
        return lambda: pgwire.connect(host="127.0.0.1", port=port)

    def scalar(self, sql: str):
        conn = self.factory()()
        try:
            cur = conn.cursor()
            cur.execute(sql)
            row = cur.fetchone()
            conn.commit()
            return row[0] if row else None
        finally:
            conn.close()
