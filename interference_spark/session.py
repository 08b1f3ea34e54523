"""Session facade — the JPA-like object API plus SQL entry point.

Counterpart of the reference's ``persistent/Session.java``:

=====================  =====================================================
reference               here
=====================  =====================================================
registerTable           :meth:`Session.register_table` (delegates to Engine)
persist(o)              :meth:`Session.persist` — upsert-by-id, or blind
                        append for ``@NoCheck`` tables (staged until commit)
find(Class, id)         :meth:`Session.find` — keyed filter
delete(o)               :meth:`Session.delete`
purge(o)                :meth:`Session.purge` — delete ignoring staging
execute(sql)            :meth:`Session.execute` — dialect SQL → DataFrame /
                        StreamQueue / ProcessResult
commit()/rollback()     :meth:`Session.commit` / :meth:`Session.rollback`
=====================  =====================================================

Transaction semantics divergence (documented, SURVEY §7.4.3-4): the reference
implements READ COMMITTED with undo chunks and frame locks
(``persistent/Transaction.java``).  Here ``persist``/``delete`` *stage* in
the session and become visible to every reader at ``commit()`` — equivalent
visibility for commit-then-read usage, no inter-session locking.  Commit also
feeds streams, exactly like the reference (commit-fed frame queues,
``core/SyncQueue.java:93``): a committed append lands as a new parquet file,
which every Structured-Streaming file source over the table directory picks
up.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dml import store
from .engine import Engine
from .errors import InvalidParameter, InvalidSQLStatement, NotNullViolation


class SystemResult:
    """Outcome of a system statement (reference ``sql/SQLSystem.java``
    returns a message-bearing result)."""

    def __init__(self, statement: str, message: str) -> None:
        self.statement = statement
        self.message = message

    def __repr__(self) -> str:  # pragma: no cover
        return f"SystemResult({self.statement!r}: {self.message!r})"


# Statements whose storage/cluster effect has no Spark analogue — accepted
# for surface parity, reported as no-ops (reference sql/SQLSystem.java:45-170
# wires them to storage/instance lifecycle; Spark's session + warehouse dir
# have no separate init/open/close lifecycle).
_SYSTEM_NOOPS = (
    "ALTER SYSTEM INIT STORAGE",
    "ALTER SYSTEM OPEN STORAGE",
    "ALTER SYSTEM CLOSE STORAGE",
    "CREATE INSTANCE",
    "STARTUP INSTANCE",
    "SHUTDOWN INSTANCE",
    "START APP",
    "FREEZE",
    "UNFREEZE",
)


class Session:
    def __init__(self, engine: Engine) -> None:
        self.engine = engine
        self.spark = engine.spark
        # staged (uncommitted) work: table -> ordered op log of
        # ("row", dict) / ("delete", id). Order is preserved so that
        # persist(x) then delete(x.id) deletes, and delete(id) then
        # persist(x) keeps the row — the reference applies transactional
        # ops in order (persistent/Transaction.java undo-chunk ordering).
        self._staged_ops: dict[str, list[tuple[str, Any]]] = {}
        self._streams: list = []
        self._locks: list[str] = []  # advisory lock files held (D7)

    # ---------------------------------------------------------------- DDL
    def register_table(self, name: str, schema, **kw):
        return self.engine.register_table(name, schema, **kw)

    # ---------------------------------------------------------------- DML
    def persist(self, table: str, row: dict | list[dict]) -> None:
        """Stage row(s) for insert/upsert; visible after :meth:`commit`.
        The @Id column is mandatory and non-null (manual 'Persistent
        operations': every entity declares @Id) — a null id could never be
        found or updated again, so it is rejected up front."""
        td = self.engine.catalog.get(table)
        if not td.managed:
            raise InvalidParameter(f"table {td.name} is read-only (external)")
        rows = row if isinstance(row, list) else [row]
        if td.id_col is not None:
            for r in rows:
                if r.get(td.id_col) is None:
                    raise NotNullViolation(
                        f"{td.name}.{td.id_col} (@Id) must be non-null"
                    )
        self._staged_ops.setdefault(td.name, []).extend(
            ("row", r) for r in rows
        )

    def persist_df(self, table: str, df: DataFrame) -> None:
        """Distributed bulk persist. @NoCheck tables blind-append
        immediately (the reference's fast path skips all checks too);
        upsert tables MERGE immediately — large DataFrames are not staged
        driver-side. Null @Id rows are rejected BEFORE the merge (one
        column-pruned isEmpty probe over the new side — the small side of
        the merge): a null id would silently append and never match again."""
        td = self.engine.catalog.get(table)
        if td.nocheck or td.id_col is None:
            store.append_df(td, df)
        else:
            if not df.filter(F.col(td.id_col).isNull()).isEmpty():
                raise NotNullViolation(
                    f"{td.name}.{td.id_col} (@Id) must be non-null"
                )
            store.upsert(self.spark, td, df)
        store.apply_threshold(self.spark, td)

    def find(self, table: str, id_value: Any):
        """Point lookup by @Id (reference ``Session.find``,
        ``persistent/Session.java:326-342``). Catalyst pushes the equality
        to the parquet scan — the moral equivalent of the reference's id
        index probe.  One ``collect`` job over every part (row groups whose
        min/max exclude the id are skipped), not ``first()``: its take scans
        one partition, then runs another job over more partitions whenever
        those scanned so far did not hold the id."""
        td = self.engine.catalog.get(table)
        if td.id_col is None:
            raise InvalidParameter(f"table {td.name} has no @Id column")
        rows = (
            self.engine.read_table(td)
            .filter(F.col(td.id_col) == id_value)
            .collect()
        )
        return rows[0] if rows else None

    def delete(self, table: str, id_value: Any) -> None:
        """Stage a delete-by-id; applied at commit."""
        td = self.engine.catalog.get(table)
        if td.id_col is None:
            raise InvalidParameter(f"table {td.name} has no @Id column")
        self._staged_ops.setdefault(td.name, []).append(("delete", id_value))

    def lock(self, table: str, id_value: Any = None) -> None:
        """D7 ``session.lock(o)`` (reference ``persistent/Session.java:
        429-434`` — explicit row lock before modification): ADVISORY
        row/table lock held until :meth:`commit` or :meth:`rollback`.

        Scope honestly differs from the reference: there, frame/table
        locks are enforced by the storage engine cluster-wide; parquet
        part files have no lock manager, so this is a cooperative lock —
        every writer that wants mutual exclusion calls ``lock()`` first.
        Enforcement is an O_EXCL lock file keyed by the row id in a
        sibling ``<table>.locks/`` dir, which makes it hold across
        processes sharing the warehouse filesystem (the deployment shape
        the single-writer-per-table storage rule already assumes). On a
        real multi-writer lake you'd use the table format's transaction
        layer (Delta/Iceberg) instead. ``id_value=None`` locks the whole
        table. Re-locking a row this session holds is a no-op; a row held
        by another session raises ``UnableToLockTableForProcess``. Crash
        leftovers are cleared by ``store.vacuum`` (no-writers rule)."""
        import hashlib as _hl
        import json as _json
        import time as _time

        td = self.engine.catalog.get(table)
        if not td.managed:
            raise InvalidParameter(f"cannot lock external table {td.name}")
        key = (
            "table"
            if id_value is None
            else "id-" + _hl.md5(repr(id_value).encode()).hexdigest()[:16]
        )
        lock_dir = td.path + ".locks"
        os.makedirs(lock_dir, exist_ok=True)
        path = os.path.join(lock_dir, f"{key}.lock")
        if path in self._locks:
            return
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            from .errors import UnableToLockTableForProcess

            raise UnableToLockTableForProcess(
                f"{td.name}: {'table' if id_value is None else f'row {id_value!r}'} "
                f"is locked by another session"
            ) from None
        with os.fdopen(fd, "w") as fh:
            _json.dump(
                {"pid": os.getpid(), "id": repr(id_value), "ts": _time.time()}, fh
            )
        self._locks.append(path)

    def _release_locks(self) -> None:
        for p in self._locks:
            try:
                os.remove(p)
            except OSError:
                pass
        self._locks.clear()

    def purge(self, table: str, id_value: Any) -> None:
        """Immediate delete ignoring staging (reference CEP consumption,
        ``persistent/Session.java:478-488``). Tombstone-routed like commit
        deletes — no table rewrite."""
        td = self.engine.catalog.get(table)
        if td.id_col is None:
            raise InvalidParameter(f"table {td.name} has no @Id column")
        store.add_tombstone_ids(td, [id_value])
        store.maybe_compact(self.spark, td)

    def content_queue(self, table: str, prefetch: bool = True):
        """Drain a table's full content as a row iterator — the analogue of
        ``Session.getContentQueue`` / ``Table.poll()`` (reference
        ``persistent/Session.java:355-379``, ``core/RetrieveQueue.java``).
        Backed by ``toLocalIterator`` with partition prefetch: the driver
        holds at most one partition ahead, never the whole table."""
        df = self.engine.table(table)
        if td_id := self.engine.catalog.get(table).id_col:
            df = df.orderBy(td_id)
        return df.toLocalIterator(prefetchPartitions=prefetch)

    def commit(self) -> None:
        """Flush staged work in staging order: consecutive same-kind ops are
        applied as one batch (one MERGE / one isin-delete), so the common
        all-persists-then-commit path stays a single storage operation, while
        interleaved persist/delete sequences keep their transactional order
        (persist(x); delete(x.id) → row gone; delete(id); persist(x) → row
        present — reference applies ops in order). Appends become new part
        files → feed streams."""
        for name, ops in self._staged_ops.items():
            td = self.engine.catalog.get(name)
            i = 0
            while i < len(ops):
                kind = ops[i][0]
                j = i
                while j < len(ops) and ops[j][0] == kind:
                    j += 1
                chunk = [payload for _, payload in ops[i:j]]
                if kind == "delete":
                    # logical delete: tombstone file + threshold-triggered
                    # compaction — a 10-row delete must never rewrite the
                    # table (the reference frees frames in place; parquet
                    # parts are immutable, so deletion vectors instead)
                    store.add_tombstone_ids(td, chunk)
                    store.maybe_compact(self.spark, td)
                elif td.nocheck or td.id_col is None:
                    store.append_rows(td, chunk)
                else:
                    # upsert path: last staged row per id wins within chunk
                    by_id = {}
                    for r in chunk:
                        by_id[r.get(td.id_col)] = r
                    store.upsert(self.spark, td, list(by_id.values()))
                i = j
            store.apply_threshold(self.spark, td)
        self._staged_ops.clear()
        self._release_locks()

    def rollback(self) -> None:
        """Discard staged work (reference rollback physically removes
        inserted rows — ours never wrote them)."""
        self._staged_ops.clear()
        self._release_locks()

    # ---------------------------------------------------------------- SQL
    def execute(self, sql: str, stream_id: str | None = None):
        """SQL entry point (reference ``Session.execute``).

        Returns a lazy DataFrame for batch SELECT, a
        :class:`~interference_spark.streaming.stream_queue.StreamQueue` for
        SELECT STREAM, and a :class:`ProcessResult` for PROCESS.
        ``stream_id`` (SELECT STREAM only) names a durable resume position:
        re-executing with the same id continues after already-delivered
        rows (reference ``Session.streamFramePtr``).
        """
        from .dialect import compile_query, parse

        sys_result = self._execute_system(sql)
        if sys_result is not None:
            return sys_result
        stripped = sql.strip()
        if stripped[:8].upper() == "EXPLAIN ":
            # EXTENSION: the reference has no EXPLAIN; we expose Catalyst's
            # formatted physical plan for any batch statement — the tool
            # this repo's own scale audits are built on (SCALE.md).
            inner = stripped[8:]
            q = parse(self.engine, inner)
            if getattr(q, "stream", False) or getattr(q, "kind", "") == "PROCESS":
                raise InvalidParameter("EXPLAIN supports batch SELECT only")
            df = compile_query(self.engine, q)
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        q = parse(self.engine, sql)
        if q.kind == "PROCESS":
            from .dml.process import run_process

            return run_process(self, q)
        if q.stream:
            from .streaming.runner import run_stream

            return run_stream(self, q, stream_id=stream_id)
        return compile_query(self.engine, q)

    def stream_into(
        self, sql: str, target: str, stream_id: str | None = None
    ):
        """Continuously materialize a SELECT STREAM into a managed table
        (chained CEP): each micro-batch appends committed part files to
        ``target``, which any downstream SELECT STREAM picks up — the
        reference's table-is-a-queue duality, composed."""
        from .dialect import parse
        from .streaming.runner import run_stream_into

        q = parse(self.engine, sql)
        if not getattr(q, "stream", False) or q.kind != "SELECT":
            raise InvalidSQLStatement(
                "stream_into requires a SELECT STREAM statement"
            )
        return run_stream_into(self, q, target, stream_id=stream_id)

    def _execute_system(self, sql: str) -> SystemResult | None:
        """System statements (reference ``sql/SQLSystem.java:45-170``,
        dispatched by ``sql/SQLStatementFactory.java:55-72``). Returns None
        when ``sql`` is not a system statement."""
        stmt = " ".join(sql.strip().rstrip(";").split())
        up = stmt.upper()
        if up == "COMMIT":
            self.commit()
            return SystemResult(stmt, "committed")
        if up == "ROLLBACK":
            self.rollback()
            return SystemResult(stmt, "rolled back")
        if up == "ALTER SESSION LOGOUT":
            self.close()
            return SystemResult(stmt, "session closed")
        if up.startswith("CONNECT"):
            # single-user engine: auth is the Spark deployment's concern
            if len(stmt.split()) != 2 or "/" not in stmt.split()[1]:
                raise InvalidSQLStatement("CONNECT requires user/password")
            return SystemResult(stmt, "connected")
        if up == "ALTER SYSTEM CHECK STORAGE":
            n = len(self.engine.catalog.names())
            ok = os.path.isdir(self.engine.warehouse)
            return SystemResult(
                stmt, f"warehouse {'ok' if ok else 'missing'}, {n} tables"
            )
        if up == "ALTER SYSTEM DROP STORAGE":
            for name in list(self.engine.catalog.names()):
                td = self.engine.catalog.get(name)
                if td.managed:
                    self.engine.drop_table(name)
            return SystemResult(stmt, "managed tables dropped")
        if up.startswith("ALTER TABLE "):
            # extension: ALTER TABLE <t> ADD COLUMN <name> <type>
            toks = stmt.split()
            if len(toks) == 7 and (toks[3] + " " + toks[4]).upper() == "ADD COLUMN":
                self.engine.add_column(toks[2], f"{toks[5]} {toks[6]}")
                return SystemResult(stmt, f"column {toks[5]} added to {toks[2]}")
            raise InvalidSQLStatement(
                "ALTER TABLE supports: ALTER TABLE <t> ADD COLUMN <name> <type>"
            )
        if up.startswith("DESCRIBE TABLE"):
            # extension: DESCRIBE TABLE <t> — schema + storage facts
            toks = stmt.split()
            if len(toks) != 3:
                raise InvalidSQLStatement("DESCRIBE TABLE <table>")
            name = toks[2]
            td = self.engine.catalog.get(name)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in td.require_schema().fields
            )
            if td.managed:
                from .dml import store as _store

                parts = _store._parts(td)
                nbytes = sum(os.path.getsize(p) for p in parts)
                extra = (
                    f"managed, {len(parts)} parts, {nbytes} bytes, "
                    f"{len(_store._tombstone_parts(td))} tombstone files, "
                    f"{len(_store._snapshot_files(td))} snapshots, "
                    f"id_col={td.id_col}"
                )
            else:
                extra = f"external, format={td.meta.get('format', 'parquet')}"
            return SystemResult(stmt, f"{name}({cols}) — {extra}")
        if up.startswith("SNAPSHOT TABLE"):
            # extension: SNAPSHOT TABLE <t> — pin the current file set
            toks = stmt.split()
            if len(toks) != 3:
                raise InvalidSQLStatement("SNAPSHOT TABLE <table>")
            name = toks[2]
            sid = self.engine.snapshot_table(name)
            return SystemResult(stmt, f"snapshot {sid} of {name} created")
        if up.startswith("DROP SNAPSHOT "):
            # extension: DROP SNAPSHOT <t> <id> — release pins + reclaim
            toks = stmt.split()
            if len(toks) != 4:
                raise InvalidSQLStatement("DROP SNAPSHOT <table> <id>")
            self.engine.drop_table_snapshot(toks[2], int(toks[3]))
            return SystemResult(stmt, f"snapshot {toks[3]} of {toks[2]} dropped")
        if up in _SYSTEM_NOOPS:
            return SystemResult(stmt, "no-op on Spark (documented divergence)")
        return None

    def close(self) -> None:
        for s in self._streams:
            try:
                s.stop()
            except Exception:
                pass
        self._streams.clear()
