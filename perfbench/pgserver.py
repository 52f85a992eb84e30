"""A private, throwaway PostgreSQL cluster for one benchmark run.

The cluster lives in the run's own directory, listens only on 127.0.0.1 at
a free port, and opens no Unix socket, so nothing is shared with another
run or another cluster on the machine. ``fsync``, ``synchronous_commit``
and ``full_page_writes`` are off: the flush policy is "never flush", the
same on the source and the destination side (one cluster serves both).

PostgreSQL refuses to run as root. When the benchmark runs as root the
server is started inside a user namespace that maps root to the
``postgres`` account's id: the server sees a non-root id, and the files it
writes still belong to the caller, so the data directory can stay inside
the checkout.
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time

from pgcp_spark.config import DbConfig
from pgcp_spark.pg.psql_client import PsqlCliClient

FLUSH_SETTINGS = ("fsync=off", "synchronous_commit=off", "full_page_writes=off")


def _bin(name: str) -> str:
    path = shutil.which(name)
    if path is None:
        raise RuntimeError(f"{name} is not on PATH")
    # ``postgres`` itself is usually not on PATH; it sits beside initdb
    return os.path.realpath(path)


def _as_server_user(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    try:
        ent = pwd.getpwnam("postgres")
        uid, gid = ent.pw_uid, ent.pw_gid
    except KeyError:
        uid = gid = 1000
    return ["unshare", "--user", f"--map-user={uid}", f"--map-group={gid}", *argv]


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    """Start with ``start()``; ``stop()`` shuts the postmaster down and
    waits for it. Use as a context manager so a failed run still stops it."""

    def __init__(self, root: str):
        self.root = root
        self.data = os.path.join(root, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self.cfg = DbConfig(host="127.0.0.1", dbname="postgres", user="postgres", port=self.port)

    def start(self) -> DbConfig:
        os.makedirs(self.root, exist_ok=True)
        initdb = _bin("initdb")
        subprocess.run(
            _as_server_user(
                [initdb, "-D", self.data, "-A", "trust", "-U", "postgres",
                 "-E", "UTF8", "--locale=C", "--no-sync"]
            ),
            check=True,
            capture_output=True,
        )
        postgres = os.path.join(os.path.dirname(initdb), "postgres")
        # no Unix socket, and System V dynamic shared memory (kernel objects,
        # not files under /dev/shm): the server writes no file outside the
        # run's directory
        args = [postgres, "-D", self.data, "-p", str(self.port),
                "-c", "listen_addresses=127.0.0.1", "-c", "unix_socket_directories=",
                "-c", "dynamic_shared_memory_type=sysv"]
        for setting in FLUSH_SETTINGS:
            args += ["-c", setting]
        log_path = os.path.join(self.root, "server.log")
        with open(log_path, "wb") as log:
            self.proc = subprocess.Popen(
                _as_server_user(args), stdout=log, stderr=subprocess.STDOUT
            )
        client = PsqlCliClient(self.cfg)
        deadline = time.monotonic() + 60
        while True:
            try:
                client.fetch("SELECT 1")
                return self.cfg
            except RuntimeError:
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    with open(log_path, errors="replace") as f:
                        tail = f.read()[-2000:]
                    raise RuntimeError(f"postgres did not come up:\n{tail}") from None
                time.sleep(0.1)

    def stop(self) -> None:
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.send_signal(signal.SIGINT)  # fast shutdown
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()

    def __enter__(self) -> "PgServer":
        return self

    def __exit__(self, *exc) -> None:
        self.stop()
