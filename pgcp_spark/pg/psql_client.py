"""PgClient over the ``psql`` CLI — the zero-dependency driver-side client.

The reference shells out to psql for everything (lib/pgcp/transport.rb:66-110
drives ``psql -c 'COPY ... TO STDOUT' | psql -c 'COPY ... FROM STDIN'``).
``JvmJdbcClient`` (client.py) is the first-choice client here, but it needs
the PostgreSQL JDBC driver jar on Spark's classpath; this client needs only
the ``psql`` binary, so catalog introspection, DDL, and the COPY transfer
path (copy_csv.py) can run end-to-end with no extra jars or Python drivers.

Statements run on a pool of long-lived ``psql`` sessions, not on one
process and one connection per call as in the reference
(postgres.rb:288-298, transport.rb:70 — the "high fixed overhead per
table" of SURVEY.md). A call checks out an idle session or starts one,
writes its statement followed by ``\\echo <token>``, reads stdout up to
the token, and hands the session back. A session stays as isolated as a
fresh ``psql -c`` process:

  - every call ends with ``DISCARD ALL``, so a session goes back to the
    pool in a new connection's state; a call that leaves a transaction
    open makes that statement fail, and the session is dropped instead;
  - ``ON_ERROR_STOP`` makes psql exit on the first error: the call raises
    with psql's exit code and stderr, the server rolls back what the
    session had open, the dead session is dropped, and the next call
    starts a fresh one. A call whose outcome is unknown is never retried;
  - what a session cannot run like ``psql -c`` does — a multi-statement
    string (one implicit transaction under ``-c``), a backslash command
    other than a one-line ``\\copy`` to or from a file, or text whose end
    psql's input lexer could miss — still runs as one ``psql -c`` process.

The pool holds at most as many sessions as the client ever ran calls at
once. ``close()`` (or leaving a ``with`` block, or garbage collection)
ends the idle ones; a later call starts afresh.

Intended for CATALOG/DDL/metadata statements (the only place transport uses
``fetch``); bulk rows move via COPY, never through ``fetch``. Because psql
output is untyped text, ``fetch`` applies coercion rules (int/float/bool/
NULL below) that are exact for catalog flags and counts and MIN/MAX
bounds, but would mis-type a TEXT value that happens to equal ``t``/``f``
or look numeric — a table or column name too, so ``pg/catalog`` reads
names behind a prefix — don't use it as a general row reader.
"""

from __future__ import annotations

import re
import subprocess
import tempfile
import threading
import uuid
import weakref

from pgcp_spark.config import DbConfig

# psql prints NULL as this marker (set via \pset null) so NULL, empty
# string, and the literal letters stay distinguishable in -A output
NULL_MARKER = "\\N[NULL]"
FIELD_SEP = "\x1f"  # ASCII unit separator: never appears in identifiers
_FETCH_ARGS = ["-A", "-t", "-F", FIELD_SEP, "-P", f"null={NULL_MARKER}"]
_INT_RE = re.compile(r"^-?\d+$")
_FLOAT_RE = re.compile(r"^-?\d+\.\d+([eE][+-]?\d+)?$")


def _coerce(value: str):
    if value == NULL_MARKER:
        return None
    if value == "t":
        return True
    if value == "f":
        return False
    if _INT_RE.match(value):
        return int(value)
    if _FLOAT_RE.match(value):
        return float(value)
    return value


def _lexes_cleanly(sql: str) -> bool:
    """Whether psql's input lexer surely ends ``sql`` where its text ends.
    An unterminated quote, dollar quote or block comment would swallow the
    token line after it and hang the session, so text that could hold one
    (an odd quote count, any ``$``, any ``/*``) is left to ``psql -c``."""
    return (
        sql.count("'") % 2 == 0
        and sql.count('"') % 2 == 0
        and "$" not in sql
        and "/*" not in sql
    )


def _session_script(sql: str) -> str | None:
    """``sql`` as a session script, or None when only ``psql -c`` runs it
    the same way: a multi-statement string, a backslash command that is
    not a one-line ``\\copy`` to or from a file (``stdin`` would read the
    session's own input), or text that does not lex cleanly."""
    body = sql.strip()
    if body.startswith("\\"):
        if body.startswith("\\copy ") and "\n" not in body and "stdin" not in body:
            return body
        return None
    body = body.rstrip(";")
    if ";" in body or not _lexes_cleanly(body):
        return None
    # the semicolon on a line of its own also ends a trailing -- comment
    return body + "\n;"


class _Session:
    """One long-lived ``psql`` process that reads statements from a pipe.
    stderr goes to a file, so NOTICEs never fill a pipe and block psql."""

    def __init__(self, argv: list[str], env: dict[str, str]):
        self.stderr = tempfile.TemporaryFile()
        self.proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.stderr,
            text=True,
            env=env,
        )

    def run(self, script: str) -> tuple[str, bool]:
        """Run ``script`` then ``DISCARD ALL``. Returns the script's stdout
        and whether the session is clean enough to reuse; raises
        RuntimeError if psql exits before the script's end."""
        # psql is idle between calls, so nothing writes stderr right now;
        # the child shares this file offset, so it writes from 0 again
        self.stderr.seek(0)
        self.stderr.truncate()
        token = uuid.uuid4().hex
        try:
            self.proc.stdin.write(f"{script}\n\\echo {token}\nDISCARD ALL;\n\\echo {token}\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            pass  # psql already exited; its exit code and stderr tell why
        out = self._read_to(token)
        if out is None:
            rc = self.proc.wait()
            self.stderr.seek(0)
            err = self.stderr.read().decode("utf-8", "replace").strip()
            raise RuntimeError(f"psql failed ({rc}): {err}")
        return out, self._read_to(token) is not None

    def _read_to(self, token: str) -> str | None:
        """stdout up to the ``token`` line, or None if psql exited first."""
        lines = []
        for line in iter(self.proc.stdout.readline, ""):
            if line == token + "\n":
                return "".join(lines)
            lines.append(line)
        return None

    def close(self) -> None:
        try:
            self.proc.stdin.close()  # psql exits at end of input
        except OSError:
            pass  # it exited already, with unflushed input left
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self.stderr.close()


def _close_sessions(idle: list[_Session], lock: threading.Lock) -> None:
    with lock:
        sessions, idle[:] = idle[:], []
    for session in sessions:
        session.close()


class PsqlCliClient:
    """PgClient implementation backed by a pool of long-lived ``psql``
    sessions; see the module docstring for what a session guarantees.

    Thread-safe: concurrent calls each get their own session, so the pool
    grows to the client's peak concurrency and no further. Use as a
    context manager, or call ``close()``, to end the idle sessions.
    """

    def __init__(self, cfg: DbConfig):
        self.cfg = cfg
        self._idle: list[_Session] = []
        self._lock = threading.Lock()
        weakref.finalize(self, _close_sessions, self._idle, self._lock)

    # ---------------- PgClient protocol ----------------

    def fetch(self, sql: str) -> list[tuple]:
        rows = []
        for line in self._run(sql).splitlines():
            rows.append(tuple(_coerce(v) for v in line.split(FIELD_SEP)))
        return rows

    def execute(self, sql: str) -> None:
        self._run(sql)

    def execute_transaction(self, statements: list[str]) -> None:
        # One session, explicit BEGIN/COMMIT, ON_ERROR_STOP: on any failure
        # psql exits before COMMIT and the server rolls back — the same
        # atomicity JvmJdbcClient gets from setAutoCommit(False).
        script = "BEGIN;\n" + ";\n".join(statements) + ";\nCOMMIT;"
        if all(_lexes_cleanly(s) for s in statements):
            self._on_session(script)
        else:
            self._once([], stdin=script)

    # ---------------- lifetime ----------------

    def close(self) -> None:
        """End the idle sessions. A later call starts a fresh one."""
        _close_sessions(self._idle, self._lock)

    def __enter__(self) -> PsqlCliClient:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ---------------- internals ----------------

    def base_args(self) -> list[str]:
        cfg = self.cfg
        return [
            "psql",
            "-X",  # ignore ~/.psqlrc
            "-q",
            "-v",
            "ON_ERROR_STOP=1",
            "-h",
            cfg.host,
            "-p",
            str(cfg.port),
            "-U",
            cfg.user,
            "-d",
            cfg.dbname,
        ]

    def _env(self) -> dict[str, str]:
        return {"PGPASSWORD": self.cfg.password, "PATH": "/usr/bin:/usr/local/bin:/bin"}

    def _run(self, sql: str) -> str:
        script = _session_script(sql)
        if script is None:
            return self._once(["-c", sql])
        return self._on_session(script)

    def _on_session(self, script: str) -> str:
        with self._lock:
            session = self._idle.pop() if self._idle else None
        if session is None:
            session = _Session(self.base_args() + _FETCH_ARGS, self._env())
        try:
            out, reusable = session.run(script)
        except BaseException:
            session.close()
            raise
        if not reusable:
            session.close()
            return out
        with self._lock:
            self._idle.append(session)
        return out

    def _once(self, args: list[str], stdin: str | None = None) -> str:
        proc = subprocess.run(
            self.base_args() + _FETCH_ARGS + args,
            input=stdin,
            capture_output=True,
            text=True,
            env=self._env(),
        )
        if proc.returncode != 0:
            raise RuntimeError(f"psql failed ({proc.returncode}): {proc.stderr.strip()}")
        return proc.stdout
