"""Per-user namespaces — the Spark analog of the reference's per-user
DuckDB database files.

Reference: sha256(username+password) → "{hash}.db" file per user,
anonymous → shared in-memory DB (ConnectionManager, main.py:71-114; the
same logic repeated in Flight handlers :523-535, 749-762). One engine
process, N isolated catalogs.

Spark analog: one SparkSession, per-user *database* (namespace) named
user_{hash16}; anonymous → 'default'. Isolation is namespace-level in a
shared metastore — weaker than separate files (documented deviation,
SURVEY §7). Unlike the reference, nothing here mutates shared
connection state per request (the reference's self.conn rebinding race,
main.py:762, is listed in SURVEY §7 as a bug not to replicate): the
database name is returned and used query-locally.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading

from pyspark.sql import SparkSession


def user_namespace(user: str | None, password: str | None) -> str:
    """Hash credentials → namespace name (reference main.py:108-114)."""
    if not user:
        return "default"
    h = hashlib.sha256(f"{user}:{password or ''}".encode()).hexdigest()[:16]
    return f"user_{h}"


_SAFE_DB = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def ensure_namespace(spark: SparkSession, name: str) -> str:
    """CREATE DATABASE IF NOT EXISTS (identifier-validated, no f-string
    injection — the reference's f-string DDL is another §7 bug).

    The reference literally ATTACHes the `database` parameter as a DuckDB
    *file path* per request (main.py:284, 326). A distributed engine has
    no single-file database to attach, so path-like values (anything that
    is not a bare identifier) are REJECTED here with an explicit message
    rather than silently mapped to a namespace that does not contain the
    file's data — an honest loud deviation instead of a quiet wrong one."""
    if not _SAFE_DB.match(name):
        raise ValueError(
            f"invalid namespace name: {name!r}. The `database` parameter "
            "selects a managed namespace (bare identifier) or the path of "
            "an existing small .duckdb file (snapshot-imported via "
            "attach_duckdb); live single-file mounts are not supported — "
            "register big data as parquet tables instead"
        )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    return name


class SessionManager:
    """Per-namespace child sessions — the Spark analog of the reference's
    ConnectionManager (per-user DuckDB connection cache, main.py:71-105).

    `newSession()` shares the SparkContext, metastore and cached data but
    isolates session state (current database, temp views, SQL conf), so
    two users' requests can run concurrently without racing on
    setCurrentDatabase — the reference's shared-self.conn race
    (main.py:762, SURVEY §7) fixed structurally. Child sessions see
    metastore tables but not the root session's temp views (use GLOBAL
    TEMPORARY VIEWs for shared scratch data)."""

    def __init__(self, root: SparkSession):
        self.root = root
        self._sessions: dict[str, SparkSession] = {}
        self._lock = threading.Lock()

    def for_namespace(self, namespace: str | None) -> SparkSession:
        if not namespace or namespace == "default":
            return self.root
        with self._lock:
            if namespace not in self._sessions:
                s = self.root.newSession()
                ensure_namespace(s, namespace)
                s.catalog.setCurrentDatabase(namespace)
                self._sessions[namespace] = s
            return self._sessions[namespace]


ATTACH_MAX_ROWS = 5_000_000  # per attached FILE — dims/metadata, not facts

# Attach bookkeeping: alias -> {"path": abspath, "fp": (mtime_ns, size)}.
# Serves two safety properties (both found as defects in r4 review):
# 1. DETACH only ever drops namespaces that attach_duckdb CREATED — in
#    the reference DETACH merely unmounts (no data loss), so mapping
#    DETACH of a *managed* namespace to DROP DATABASE CASCADE would
#    permanently delete user tables.
# 2. Repeat attaches of an unchanged file (the HTTP path re-attaches the
#    `database` param on EVERY request) become no-ops instead of a full
#    re-read + non-atomic overwrite of every table, and concurrent
#    refreshes of one alias serialize on a per-alias lock.
_ATTACHED: dict[str, dict] = {}
_ATTACH_LOCKS: dict[str, threading.Lock] = {}
_ATTACH_LOCKS_GUARD = threading.Lock()


def _alias_lock(alias: str) -> threading.Lock:
    with _ATTACH_LOCKS_GUARD:
        return _ATTACH_LOCKS.setdefault(alias, threading.Lock())


def attach_duckdb(spark: SparkSession, path: str, alias: str | None = None) -> str:
    """Bridge an external DuckDB database file into the Spark catalog —
    the Spark analog of the reference's `ATTACH '{db}' AS db; USE db`
    for path-valued `database` params (main.py:284, 326).

    A distributed engine cannot mount a single-file database as a live
    catalog, but the reference's actual use is small per-user/metadata
    databases — those CAN be imported: every table in the file is read
    through the embedded duckdb runtime into Arrow and landed as a
    managed Spark table under namespace `alias` (default: sanitized file
    stem). Semantics are SNAPSHOT-AT-ATTACH (documented deviation:
    later writes to the file are invisible until re-attach); total size
    is capped at ATTACH_MAX_ROWS so nobody attaches a fact table by
    accident — past the cap, convert to parquet and register instead.
    Re-attaching the same alias refreshes the snapshot."""
    import duckdb

    if not os.path.isfile(path):
        raise ValueError(f"database file not found: {path!r}")
    if alias is None:
        alias = "attached_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.splitext(os.path.basename(path))[0])
    if not _SAFE_DB.match(alias):
        raise ValueError(f"invalid attach alias: {alias!r}")
    abspath = os.path.abspath(path)
    st = os.stat(abspath)
    fp = (st.st_mtime_ns, st.st_size)
    with _alias_lock(alias):
        rec = _ATTACHED.get(alias)
        if (
            rec
            and rec["path"] == abspath
            and rec["fp"] == fp
            # a DROP DATABASE issued outside detach_namespace invalidates
            # the bookkeeping — re-import rather than serve a ghost
            and spark.catalog.databaseExists(alias)
        ):
            return alias  # snapshot already current — skip the re-import
        con = duckdb.connect(path, read_only=True)
        try:
            tables = [
                r[0]
                for r in con.execute(
                    "SELECT table_name FROM information_schema.tables "
                    "WHERE table_schema = 'main' AND table_type = 'BASE TABLE'"
                ).fetchall()
            ]
            total = 0
            for t in tables:
                total += con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            if total > ATTACH_MAX_ROWS:
                raise ValueError(
                    f"refusing to attach {path!r}: {total} rows exceeds the "
                    f"{ATTACH_MAX_ROWS}-row snapshot cap; convert to parquet and "
                    "register as external tables instead"
                )
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {alias}")
            for t in tables:
                if not _SAFE_DB.match(t):
                    raise ValueError(f"unsupported table name in attach: {t!r}")
                arrow_table = con.execute(f'SELECT * FROM "{t}"').arrow()
                spark.createDataFrame(arrow_table).write.mode("overwrite").saveAsTable(
                    f"{alias}.{t}"
                )
            # a refresh must also DROP snapshot tables the source no
            # longer has (or that came from a different file previously
            # attached under this alias) — overwrite-only refresh would
            # keep serving ghosts (r5 advisory)
            fresh = {t.lower() for t in tables}
            for existing in spark.catalog.listTables(alias):
                if existing.name.lower() not in fresh:
                    spark.sql(f"DROP TABLE IF EXISTS {alias}.{existing.name}")
        finally:
            con.close()
        _ATTACHED[alias] = {"path": abspath, "fp": fp}
    return alias


def detach_namespace(spark: SparkSession, alias: str) -> None:
    """DETACH an attach_duckdb namespace: drop the snapshot tables and
    forget the alias. Refuses for namespaces NOT created by attach —
    the reference's DETACH merely unmounts (main.py:284, no data loss),
    so dropping a managed namespace here would destroy real tables."""
    with _alias_lock(alias):
        # membership check INSIDE the lock: a concurrent re-attach of the
        # same alias holds it, so this detach observes the post-refresh
        # state instead of racing a check-then-act drop against it
        if alias not in _ATTACHED:
            raise ValueError(
                f"cannot DETACH {alias!r}: not an ATTACHed namespace. DETACH "
                "only unmounts attach_duckdb snapshots; to remove a managed "
                "namespace use DROP DATABASE explicitly"
            )
        spark.sql(f"DROP DATABASE IF EXISTS {alias} CASCADE")
        _ATTACHED.pop(alias, None)


_ATTACH_STMT = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'(?:\s+AS\s+([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)
_DETACH_STMT = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?([A-Za-z_]\w*)\s*$", re.IGNORECASE
)


def maybe_handle_attach(spark: SparkSession, stmt: str) -> bool:
    """If stmt is an ATTACH/DETACH statement (reference main.py:284
    forwards these to DuckDB verbatim), execute the namespace-bridge
    analog and return True; otherwise return False so the caller sends
    the statement to spark.sql. Shared by the HTTP and Flight paths."""
    m = _ATTACH_STMT.match(stmt)
    if m:
        attach_duckdb(spark, m.group(1), m.group(2))
        return True
    m = _DETACH_STMT.match(stmt)
    if m:
        detach_namespace(spark, m.group(1))
        return True
    return False
