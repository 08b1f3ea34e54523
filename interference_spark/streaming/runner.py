"""SELECT STREAM execution: dialect query → Structured Streaming plan →
StreamQueue handle.

Reference lifecycle (``sql/SQLCursor.java:339-430``): snapshot of existing
frames, then tail of commit-fed frames, rows → StreamQueue.  Here the
parquet file source over the managed table directory gives snapshot+tail
for free: existing part files are the snapshot, every committed append is a
new file the source picks up.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import types as T

from ..dialect.ast import Query
from ..dialect.compiler import compile_on
from ..errors import InvalidParameter
from .stream_queue import StreamQueue
from .windows import sliding_count_window, tumbling_keychange


def _simple_type(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "long"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "double"
    return "string"


def run_stream(session, q: Query, stream_id: str | None = None) -> StreamQueue:
    """``stream_id`` names the stream's checkpoint: re-executing with the
    same id RESUMES after already-delivered rows instead of replaying the
    snapshot — the analogue of the reference's per-session resume position
    (``Session.streamFramePtr``, ``persistent/Session.java:694-700``)."""
    # EXTENSION over the reference (single-table streams only, SURVEY
    # §2.10 C1): additional FROM tables become STATIC dimension sides of a
    # stream-static join — the batch side is re-read per micro-batch and
    # broadcast by Catalyst when small, the standard enrich-the-stream
    # pattern. Streaming aggregation stays single-table.
    if len(q.tables) != 1 and (q.group_by or q.window_by is not None):
        raise InvalidParameter("stream aggregation works on a single table")
    if any(getattr(i, "distinct", False) for i in q.items):
        from ..errors import InvalidCondition

        raise InvalidCondition(
            "COUNT(DISTINCT ...) is batch-only: unbounded per-group "
            "distinct state has no eviction bound on a stream"
        )
    if any(
        i.func and i.func in session.engine.group_functions for i in q.items
    ):
        raise InvalidParameter(
            "custom group functions are batch-only: the CEP window "
            "emitters evaluate their fixed aggregate set over bounded "
            "buffers, not arbitrary pandas aggregates"
        )
    engine = session.engine
    td = engine.catalog.get(q.tables[0].name)
    if not td.managed:
        raise InvalidParameter(
            f"table {td.name} is not a managed stream table; streams require "
            "append-fed managed storage (reference streams likewise read "
            "their own frame files)"
        )
    if td.id_col is None:
        raise InvalidParameter(
            f"table {td.name} needs an @Id column: stream order is defined "
            "by monotonically increasing ids (reference manual, Tumbling "
            "windows note)"
        )
    schema = td.require_schema()
    alias = q.tables[0].alias
    source = (
        engine.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(td.path)
    )

    checkpoint = os.path.join(
        engine.warehouse, "_checkpoints", stream_id or uuid.uuid4().hex
    )
    drop_order = False
    emit = None

    if q.group_by or q.window_by is not None:
        from pyspark.sql import functions as F

        from ..dialect.compiler import _cond_expr

        cep = os.path.join(checkpoint, "cep")
        if os.path.isdir(os.path.join(checkpoint, "state")) and not os.path.isdir(cep):
            raise InvalidParameter(
                f"stream {stream_id!r} was checkpointed with the CEP state in "
                "Spark's state store, which this version no longer reads; "
                "resuming would restart its windows empty — use a new stream_id"
            )
        aggs = [
            (i.func, i.ref.name, i.out_name) for i in q.items if i.is_agg
        ]
        if q.window_by is not None:
            order_col = q.window_by.ref.name
            emit = sliding_count_window(cep, order_col, q.window_by.interval, aggs)
        else:
            if len(q.group_by) > 1:
                raise InvalidParameter(
                    "stream tumbling supports a single GROUP BY column"
                )
            if getattr(q.group_by[0], "scalar", None):
                raise InvalidParameter(
                    "scalar GROUP BY keys are not supported on SELECT STREAM"
                )
            gcol = q.group_by[0].name
            # select-list order and names; without a bare key in the select
            # list the key still leads, as ``__g_<col>``
            outs = [
                (i.func, i.ref.name if i.is_agg else gcol, i.out_name)
                for i in q.items
            ]
            if len(outs) == len(aggs):
                outs = [(None, gcol, f"__g_{gcol}")] + outs
            order_col = td.id_col
            emit = tumbling_keychange(cep, order_col, gcol, outs)
        out = source
        if q.where is not None:
            out = out.alias(alias).filter(_cond_expr(q.where))
        # the simple types the emitters' JSON state holds
        out = out.select(
            *(F.col(c).cast(_simple_type(schema[c].dataType)).alias(c) for c in emit.inputs)
        )
    else:
        dfs = {alias: source.alias(alias)}
        for t in q.tables[1:]:
            dfs[t.alias] = engine.table(t.name).alias(t.alias)
        # SELECT STREAM DISTINCT: batch distinct() is an aggregate —
        # unsupported on append-mode streams — so compile without the flag
        # and apply stateful dropDuplicates instead: each projected row
        # combination is emitted on FIRST occurrence, deduped across
        # micro-batches via the state store. (The reference parses DISTINCT
        # but never executes it — sql/SQLSelect.java:169-171; we implement
        # it for streams too.)
        distinct_stream = q.distinct
        if distinct_stream:
            q.distinct = False
        out = compile_on(engine, q, dfs)
        order_col = td.id_col
        drop_order = False
        if td.id_col not in out.columns:
            # @Id projected away: re-attach it under a hidden name so each
            # micro-batch still orders by id (the documented guarantee),
            # then StreamQueue drops it before enqueueing rows.
            from ..dialect.ast import ColumnRef, SelectItem

            q.items.append(
                SelectItem(
                    ref=ColumnRef(alias, td.id_col), out_name="__ifs_order"
                )
            )
            try:
                out = compile_on(engine, q, dfs)
            finally:
                q.items.pop()
            order_col = "__ifs_order"
            drop_order = True
        if distinct_stream:
            # dedup on the visible projection only — the hidden order id
            # would otherwise make every row distinct
            payload = [c for c in out.columns if c != order_col or not drop_order]
            out = out.dropDuplicates(payload)

    sq = StreamQueue(
        out,
        order_col,
        f"ifs_stream_{uuid.uuid4().hex[:8]}",
        checkpoint,
        drop_order=drop_order,
        emit=emit,
    )
    session._streams.append(sq)
    return sq


class StreamIntoHandle:
    """Handle for a continuous SELECT STREAM materialized into a managed
    table (chained CEP — the reference's table-is-a-queue duality
    composed: each appended micro-batch lands as committed part files that
    any downstream SELECT STREAM on the target picks up)."""

    def __init__(self, query, target: str) -> None:
        self._query = query
        self.target = target

    def process_all_available(self) -> None:
        self._query.processAllAvailable()

    def stop(self) -> None:
        try:
            self._query.stop()
        except Exception:
            pass

    @property
    def is_active(self) -> bool:
        return self._query.isActive


def run_stream_into(
    session, q: Query, target: str, stream_id: str | None = None
) -> StreamIntoHandle:
    """Continuously materialize a (non-aggregating) SELECT STREAM into a
    managed target table: foreachBatch appends each micro-batch as new part
    files — committed appends, so downstream streams chain off the target.
    The target's schema field names must equal the stream's output columns
    (order-insensitive)."""
    from ..dml import store

    if q.group_by or q.window_by is not None:
        raise InvalidParameter(
            "stream_into supports projection/filter streams "
            "(materialize aggregates via their StreamQueue)"
        )
    engine = session.engine
    td_t = engine.catalog.get(target)
    if not td_t.managed:
        raise InvalidParameter(f"target {target!r} must be a managed table")
    td = engine.catalog.get(q.tables[0].name)
    if td.path == td_t.path:
        raise InvalidParameter("stream_into target must differ from the source")
    if not td.managed:
        raise InvalidParameter(
            f"table {td.name} is not a managed stream table; streams require "
            "append-fed managed storage"
        )
    if td.id_col is None:
        raise InvalidParameter(
            f"table {td.name} needs an @Id column: stream order is defined "
            "by monotonically increasing ids"
        )
    schema = td.require_schema()
    alias = q.tables[0].alias
    source = (
        engine.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(td.path)
    )
    dfs = {alias: source.alias(alias)}
    for t in q.tables[1:]:
        dfs[t.alias] = engine.table(t.name).alias(t.alias)
    out = compile_on(engine, q, dfs)
    want = {f.name for f in td_t.require_schema().fields}
    have = set(out.columns)
    if want != have:
        raise InvalidParameter(
            f"target schema columns {sorted(want)} != stream output {sorted(have)}"
        )
    checkpoint = os.path.join(
        engine.warehouse, "_checkpoints", stream_id or uuid.uuid4().hex
    )

    def sink(batch_df, epoch_id: int) -> None:
        store.append_df(td_t, batch_df)

    query = (
        out.writeStream.outputMode("append")
        .queryName(f"ifs_stream_into_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
        .start()
    )
    h = StreamIntoHandle(query, target)
    session._streams.append(h)
    return h
