"""A throwaway Postgres server for the ``ingest`` workload's sink.

Postgres refuses to run as root. When the benchmark runs as root it
starts ``initdb`` and ``postgres`` inside a user namespace where it is
an ordinary user, so no system account has to be created and the data
directory can stay inside the benchmark's work directory. The server
listens on 127.0.0.1 only, on a free port, with trust auth and no
Unix socket. Durability settings are Postgres' defaults (``fsync``,
``synchronous_commit`` and ``full_page_writes`` on), so every commit
the sink issues pays its flush. Only ``initdb`` skips its final sync
(``--no-sync``), which is set-up, not sink work.

Sink-side work counters are read from ``pg_stat_database`` over a
monitor connection to a separate database, so the monitor's own
queries never show up in the sink database's counts.
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time

USER = "bench"
SINK_DB = "postgres"
MONITOR_DB = "bench_monitor"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self, root: str):
        self.root = root
        self.data = os.path.join(root, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self._log = None

    def _cmd(self, argv: list[str]) -> list[str]:
        if os.geteuid() != 0:
            return argv
        nobody = pwd.getpwnam("nobody")
        return ["unshare", "--user", f"--map-user={nobody.pw_uid}",
                f"--map-group={nobody.pw_gid}", *argv]

    def start(self) -> None:
        for tool in ("initdb", "postgres"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found on PATH")
        os.makedirs(self.root, exist_ok=True)
        r = subprocess.run(
            self._cmd(["initdb", "-D", self.data, "-A", "trust", "-U", USER,
                       "--no-sync", "-E", "UTF8", "--locale", "C"]),
            capture_output=True, text=True,
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-400:]}")
        self._log = open(os.path.join(self.root, "server.log"), "w")
        self.proc = subprocess.Popen(
            self._cmd(["postgres", "-D", self.data, "-p", str(self.port),
                       "-c", "listen_addresses=127.0.0.1",
                       "-c", "unix_socket_directories=",
                       # segments under the data directory, not in /dev/shm
                       "-c", "dynamic_shared_memory_type=mmap"]),
            stdout=self._log, stderr=subprocess.STDOUT,
        )
        from etl_project_spark.sources.pg_wire import PgError

        deadline = time.monotonic() + 30
        while True:
            try:
                self.query("SELECT 1")
                break
            except (OSError, PgError):  # not listening yet, or still starting up
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    self.stop()
                    raise RuntimeError("postgres did not become ready")
                time.sleep(0.05)
        self.query(f"CREATE DATABASE {MONITOR_DB}")

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self._log is not None:
            self._log.close()
            self._log = None

    @property
    def pid(self) -> int | None:
        return self.proc.pid if self.proc is not None else None

    def conn_kwargs(self) -> dict:
        return {"host": "127.0.0.1", "port": self.port, "user": USER,
                "database": SINK_DB}

    def query(self, sql: str, database: str = SINK_DB) -> list[tuple]:
        from etl_project_spark.sources.pg_wire import PgWireClient

        cli = PgWireClient("127.0.0.1", self.port, USER, database)
        try:
            return cli.query(sql)[1]
        finally:
            cli.close()

    def sink_stats(self) -> dict[str, int]:
        """Cumulative commits, sessions and inserted tuples of the sink
        database, once every sink backend has exited (a backend flushes
        its statistics before it leaves ``pg_stat_activity``)."""
        deadline = time.monotonic() + 10
        while True:
            busy = self.query(
                "SELECT count(*) FROM pg_stat_activity "
                f"WHERE datname = '{SINK_DB}' AND backend_type = 'client backend'",
                MONITOR_DB,
            )[0][0]
            if int(busy) == 0 or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        row = self.query(
            "SELECT xact_commit, sessions, tup_inserted FROM pg_stat_database "
            f"WHERE datname = '{SINK_DB}'",
            MONITOR_DB,
        )[0]
        return {"commits": int(row[0]), "sessions": int(row[1]),
                "inserted": int(row[2])}
