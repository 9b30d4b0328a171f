"""DuckDB oracle: the converged state the engine must reach, computed
without the engine.

The state is last-writer-wins over the flat generated events (latest
``seq`` per key wins, a latest delete removes the key), with the
transform contract restated in SQL: the lang vocabulary map,
``content_sha = sha256(content)`` and ``size_bytes`` as the content's
byte length. DML is replayed on the oracle in lockstep with the table,
so every read can be checked against the state it should see.

The DuckDB connection lives in a child process: the oracle's memory
never counts as the Python client's, so ``peak_mem_mb`` measures the
engine and the client that drives it, not the checks. The child is a
plain subprocess talking over a socket pair (multiprocessing's spawn
start method would also leave a resource-tracker process behind).
"""

from __future__ import annotations

import os
import random
import socket
import subprocess
import sys
import traceback
from multiprocessing.connection import Connection

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The table's columns the oracle checks. ``content_sha256`` is recomputed
# from the stored content at read time (Spark side) and by DuckDB (oracle
# side), so a row whose stored sha and content disagree cannot pass.
COLS = ["repo", "path", "seq", "commit", "lang", "content", "content_sha", "size_bytes"]
CHECK_COLS = COLS + ["content_sha256"]

_LANG_SQL = (
    "CASE lang WHEN 'py' THEN 'python' WHEN 'rs' THEN 'rust' WHEN 'go' THEN 'go' "
    "WHEN 'ts' THEN 'typescript' WHEN 'java' THEN 'java' WHEN 'md' THEN 'markdown' "
    "WHEN 'yaml' THEN 'yaml' ELSE lang END"
)
_SELECT = (
    'repo, path, seq, "commit", {lang} AS lang, content, sha256(content) AS content_sha, '
    "CAST(strlen(content) AS BIGINT) AS size_bytes, sha256(content) AS content_sha256"
)
_QCOLS = ", ".join(f'"{c}"' for c in CHECK_COLS)


def checked(df: DataFrame) -> DataFrame:
    """Project a table read onto the checked columns."""
    return df.select(*COLS, F.sha2("content", 256).alias("content_sha256"))


def rows_of(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in checked(df).collect())


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from perfbench.oracle import _child_main; _child_main(int(sys.argv[2]))"
)
_open: set[Oracle] = set()


class Oracle:
    """The expected table state, held by a DuckDB connection in a child
    process. Every public method of :class:`_State` is a call into the
    child; ``close`` stops it and waits for it to exit."""

    def __init__(self, segment_dirs: list[str]) -> None:
        ours, theirs = socket.socketpair()
        with theirs:
            self._proc = subprocess.Popen(
                [sys.executable, "-c", _CHILD, ROOT, str(theirs.fileno())],
                pass_fds=[theirs.fileno()], stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            )
        self._conn = Connection(ours.detach())
        _open.add(self)
        self._conn.send(segment_dirs)
        self._call("count")  # the state is built, or the build's error is raised

    def _call(self, name: str, *args):
        self._conn.send((name, args))
        ok, value = self._conn.recv()
        if not ok:
            raise RuntimeError(f"oracle.{name} failed in the oracle process:\n{value}")
        return value

    def __getattr__(self, name: str):
        if name.startswith("_") or not callable(getattr(_State, name, None)):
            raise AttributeError(name)
        return lambda *args: self._call(name, *args)

    def close(self) -> None:
        if self not in _open:
            return
        _open.discard(self)
        self._conn.close()  # the child sees end of input and exits
        try:
            self._proc.wait(60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()


def close_all() -> None:
    """Stop every oracle process still open, on any path out of a run."""
    for oracle in list(_open):
        oracle.close()


def _child_main(fd: int) -> None:
    """The oracle process: build the state, answer calls until the
    parent closes its end."""
    conn = Connection(fd)
    try:
        state = _State(conn.recv())
    except EOFError:
        return
    except Exception:
        state, error = None, traceback.format_exc()
    while True:
        try:
            name, args = conn.recv()
        except EOFError:
            break
        if state is None:
            conn.send((False, error))
            continue
        try:
            conn.send((True, getattr(state, name)(*args)))
        except Exception:
            conn.send((False, traceback.format_exc()))
    if state is not None:
        state.close()


class _State:
    """One DuckDB connection holding the expected table state."""

    def __init__(self, segment_dirs: list[str]) -> None:
        self.con = duckdb.connect()
        globs = ", ".join(f"'{d}/*.parquet'" for d in segment_dirs)
        self.con.execute(
            f"""CREATE TABLE state AS
                WITH latest AS (
                  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                  FROM read_parquet([{globs}]))
                SELECT {_SELECT.format(lang=_LANG_SQL)} FROM latest WHERE rn = 1 AND op <> 'D'"""
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, where: str = "TRUE", params: list | None = None) -> list[tuple]:
        return sorted(
            self.con.execute(f"SELECT {_QCOLS} FROM state WHERE {where}", params or []).fetchall()
        )

    def count(self) -> int:
        return self.con.execute("SELECT count(*) FROM state").fetchone()[0]

    def key(self, repo: str, path: str) -> list[tuple]:
        return self._rows("repo = ? AND path = ?", [repo, path])

    def seq_at_least(self, seq: int) -> list[tuple]:
        return self._rows("seq >= ?", [seq])

    def commit_eq(self, commit: str) -> list[tuple]:
        return self._rows('"commit" = ?', [commit])

    def sample(self, n: int, seed: int) -> list[tuple[str, str, str, int]]:
        """(repo, path, commit, seq) of ``n`` distinct live rows, drawn
        with ``seed`` from the rows in key order."""
        keys = self.con.execute(
            'SELECT repo, path, "commit", seq FROM state ORDER BY repo, path'
        ).fetchall()
        return random.Random(seed).sample(keys, n)

    def max_seq(self) -> int:
        return self.con.execute("SELECT max(seq) FROM state").fetchone()[0]

    def snapshot(self) -> None:
        """Remember the current state for the next :meth:`changes`."""
        self.con.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM state")

    def changes(self) -> list[tuple[str, str, str]]:
        """(repo, path, change type) between :meth:`snapshot` and now."""
        return sorted(
            self.con.execute(
                """SELECT coalesce(s.repo, p.repo), coalesce(s.path, p.path),
                          CASE WHEN p.repo IS NULL THEN 'insert'
                               WHEN s.repo IS NULL THEN 'delete'
                               ELSE 'update_postimage' END
                   FROM state s FULL OUTER JOIN prev p ON s.repo = p.repo AND s.path = p.path
                   WHERE p.repo IS NULL OR s.repo IS NULL
                      OR s.seq <> p.seq OR s."commit" IS DISTINCT FROM p."commit"
                      OR s.content IS DISTINCT FROM p.content OR s.lang IS DISTINCT FROM p.lang"""
            ).fetchall()
        )

    def merge(self, rows: list[tuple]) -> None:
        """MERGE source rows (repo, path, seq, commit, lang, content):
        matched keys take the payload and keep their seq; new keys are
        inserted with the source seq."""
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE src (repo VARCHAR, path VARCHAR, seq BIGINT, "
            '"commit" VARCHAR, lang VARCHAR, content VARCHAR)'
        )
        self.con.executemany("INSERT INTO src VALUES (?, ?, ?, ?, ?, ?)", rows)
        self.con.execute(
            f"""UPDATE state SET "commit" = s."commit", lang = s.lang2, content = s.content,
                   content_sha = sha256(s.content), size_bytes = CAST(strlen(s.content) AS BIGINT),
                   content_sha256 = sha256(s.content)
                FROM (SELECT *, {_LANG_SQL} AS lang2 FROM src) s
                WHERE state.repo = s.repo AND state.path = s.path"""
        )
        self.con.execute(
            f"""INSERT INTO state SELECT {_SELECT.format(lang=_LANG_SQL)} FROM src
                WHERE NOT EXISTS (SELECT 1 FROM state t WHERE t.repo = src.repo AND t.path = src.path)"""
        )

    def delete(self, repo: str, path: str) -> None:
        self.con.execute("DELETE FROM state WHERE repo = ? AND path = ?", [repo, path])

    def diff_dump(self, dump_dir: str) -> tuple[int, int, list]:
        """Compare a parquet dump of the table (``checked`` columns) with
        the state: (rows missing from the table, unexpected rows, up to
        three examples of each)."""
        dump = f"read_parquet('{dump_dir}/*.parquet')"
        missing = self.con.execute(
            f"SELECT {_QCOLS} FROM state EXCEPT ALL SELECT {_QCOLS} FROM {dump}"
        ).fetchall()
        extra = self.con.execute(
            f"SELECT {_QCOLS} FROM {dump} EXCEPT ALL SELECT {_QCOLS} FROM state"
        ).fetchall()
        return len(missing), len(extra), missing[:3] + extra[:3]


def dump_digest(dump_dir: str) -> str:
    """Order-independent md5 of a table dump, for determinism checks."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""SELECT md5(string_agg(concat_ws('|', repo, path, seq, "commit",
                       coalesce(lang, '~'), content_sha256), chr(10) ORDER BY repo, path))
                FROM read_parquet('{dump_dir}/*.parquet')"""
        ).fetchone()[0]
    finally:
        con.close()
