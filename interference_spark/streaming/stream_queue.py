"""StreamQueue: the consumer handle for SELECT STREAM results.

Counterpart of the reference's ``sql/StreamQueue.java`` (bounded queue with
``poll()`` and ``stop()``, capacity 10000).  Backed by a Structured
Streaming query writing via ``foreachBatch`` into a thread-safe driver-side
queue.  Each micro-batch is collected once and ordered on the driver by the
table's @Id column (the window column for WINDOW BY) before enqueueing —
the reference's own ordering assumption (its streams are fed in frame order
keyed by monotonically increasing ids; manual "Tumbling windows": grouping
order is based on the @Id value).  A CEP stream then steps its driver
emitter (``streaming/windows.py``) over the ordered rows.

Divergence (SURVEY §7.4.4): the reference streams *uncommitted* inserts
(dirty reads); we stream committed appends only — each committed append is a
new parquet part file picked up by the file source.
"""

from __future__ import annotations

import queue
import threading
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Row

if TYPE_CHECKING:
    from .windows import Emitter

CAPACITY = 10_000  # reference sql/StreamQueue.java:44


def _asc_nulls_first(v):
    """Sort key for Spark's ascending order: nulls first, NaN above every
    other number."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    return (1, v)


class StreamQueue:
    def __init__(
        self,
        df: DataFrame,
        order_col: str | None,
        query_name: str,
        checkpoint_dir: str | None = None,
        drop_order: bool = False,
        emit: Emitter | None = None,
    ) -> None:
        self._q: queue.Queue[Row] = queue.Queue(maxsize=CAPACITY)
        self._stopped = threading.Event()
        cols = df.columns
        pos = cols.index(order_col) if order_col else None
        # when the @Id was re-attached under a hidden name purely for
        # ordering, it is dropped before rows reach the consumer
        if drop_order:
            self.columns = cols[:pos] + cols[pos + 1 :]
            visible = Row(*self.columns)
        elif emit is not None:
            self.columns = emit.columns
        else:
            self.columns = cols

        def feed(batch_df: DataFrame, epoch_id: int) -> None:
            # the micro-batch is collected whole anyway: order it here, so
            # the drain runs one Spark job
            rows = batch_df.collect()
            if pos is not None:
                rows.sort(key=lambda r: _asc_nulls_first(r[pos]))
            if drop_order:
                rows = [visible(*r[:pos], *r[pos + 1 :]) for r in rows]
            if emit is not None:
                rows = emit(epoch_id, rows)
            for r in rows:
                # bounded put that stays interruptible: a plain blocking
                # put() deadlocks once a batch exceeds CAPACITY and the
                # consumer is itself blocked in processAllAvailable()
                # (drain_available), and makes stop() unable to unblock the
                # micro-batch thread. Backpressure semantics unchanged —
                # the producer still waits for queue space.
                while not self._stopped.is_set():
                    try:
                        self._q.put(r, timeout=0.25)
                        break
                    except queue.Full:
                        continue
                if self._stopped.is_set():
                    return

        writer = (
            df.writeStream.outputMode("append")
            .queryName(query_name)
            .foreachBatch(feed)
        )
        if checkpoint_dir:
            # per-session checkpoint = the reference's per-session stream
            # resume position (Session.streamFramePtr,
            # persistent/Session.java:694-700)
            writer = writer.option("checkpointLocation", checkpoint_dir)
        self._query = writer.start()

    # ------------------------------------------------------------- consumer
    def poll(self, timeout: float | None = 0.5) -> Row | None:
        """Next row or None (reference StreamQueue.poll)."""
        try:
            return self._q.get(timeout=timeout)
        except queue.Empty:
            return None

    def drain_available(self) -> list[Row]:
        """Process everything currently in the source, then drain the queue
        (synchronous snapshot semantics for tests/batch analyses).

        Drains CONCURRENTLY with processing: ``processAllAvailable`` blocks
        until the micro-batch completes, but a batch larger than CAPACITY
        can only complete if someone is consuming — so the wait runs in a
        helper thread while this thread drains."""
        waiter = threading.Thread(
            target=self._query.processAllAvailable, daemon=True
        )
        waiter.start()
        out: list[Row] = []
        while waiter.is_alive() or not self._q.empty():
            try:
                out.append(self._q.get(timeout=0.1))
            except queue.Empty:
                pass
        waiter.join()
        return out

    def stop(self) -> None:
        """Terminate the continuous query (reference StreamQueue.stop)."""
        self._stopped.set()
        try:
            self._query.stop()
        except Exception:
            pass

    @property
    def is_active(self) -> bool:
        return self._query.isActive


class ProcessResult:
    """Outcome of PROCESS ... WITHIN (batch): counts + surviving table."""

    def __init__(self, processed: int, deleted: int, table: str) -> None:
        self.processed = processed
        self.deleted = deleted
        self.table = table

    def __repr__(self) -> str:  # pragma: no cover
        return f"ProcessResult(processed={self.processed}, deleted={self.deleted}, table={self.table!r})"
