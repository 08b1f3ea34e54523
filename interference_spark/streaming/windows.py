"""Custom CEP operators — the two pieces Structured Streaming doesn't
provide natively (SURVEY §4 "custom work" 1-2):

* **tumbling key-change emission** (reference A10/C2,
  ``sql/FrameGroupTask.java:43-100``): a group row is emitted when the group
  key *changes* in arrival order — not on a time boundary.
* **sliding count-window** (reference A11/C3,
  ``sql/SQLGroupContainer.java:120-158``): keep the last n rows; once full,
  emit the aggregate over the buffer for every arriving row.

Both are driver emitters.  The reference executes them globally ordered by
@Id on a single master thread, and a ``SELECT STREAM`` drain already
collects its whole micro-batch to the driver, so :class:`Emitter` steps
there, inside the stream's ``foreachBatch``: the drain's one Spark job is
the ``collect`` — no shuffle into state partitions, no Python worker, no
state store.

Arrival order: rows are sorted by the order column *within* each micro-batch
(``StreamQueue``); batch boundaries follow file-commit order. This matches
the reference's own assumption that ids are monotonically increasing in
arrival order.

Exactly-once state: an emitter's state lives in ``<checkpoint>/cep/`` as
one ``<epoch>.json`` per micro-batch.  Stepping epoch N loads the newest
state file with epoch < N, computes the epoch's rows and the next state,
and writes ``<N>.json`` (an fsynced temp file + ``os.replace``, so a
reader sees the old file or the new one) before any row is enqueued;
then only N and the file it was computed from (N−1) are kept.  Spark
logs epoch N as committed only after ``foreachBatch`` returns, and after
a failure it re-runs an uncommitted epoch under the same id over the same
offsets — the same input rows.  The replay loads N−1 again (N is not
< N), so it recomputes the same rows and the same state whether the
failure came before, during or after the state write.  A committed epoch
is never replayed, so no older file is ever needed.
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

AGG_FUNCS = ("COUNT", "SUM", "MIN", "MAX", "AVG", "LAST")


def _agg_value(func: str, vals: list):
    # NaN counts as null, as it did when these operators ran over pandas
    vals = [v for v in vals if v is not None and v == v]
    if func == "COUNT":
        return len(vals)
    if not vals:
        return None
    if func in ("SUM", "AVG"):
        # batch compiles SUM/AVG over a string column to a null result;
        # a Python sum() over strings would instead TypeError and kill the
        # whole streaming query — mirror the batch null semantics
        nums = [v for v in vals if isinstance(v, (int, float)) and not isinstance(v, bool)]
        if not nums:
            return None
        return sum(nums) if func == "SUM" else sum(nums) / len(nums)
    if func == "MIN":
        return min(vals)
    if func == "MAX":
        return max(vals)
    if func == "LAST":
        return vals[-1]
    raise ValueError(func)


_STATE_FILE = re.compile(r"(\d+)\.json")


class Emitter:
    """A CEP operator stepped once per epoch on the driver.

    ``inputs`` are the columns each input row carries, in order;
    ``columns`` the output row's names.  ``step(rows, state)`` takes the
    epoch's ordered rows and the previous state (None before the first
    epoch) and returns ``(out_rows, state)``; the state must be JSON."""

    def __init__(
        self,
        state_dir: str,
        inputs: list[str],
        columns: list[str],
        step: Callable[[list, object], tuple[list[tuple], object]],
    ) -> None:
        self.state_dir = state_dir
        self.inputs = inputs
        self.columns = columns
        self._step = step
        self._row = Row(*columns)

    def _epochs(self) -> list[int]:
        try:
            names = os.listdir(self.state_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(m.group(1)) for m in map(_STATE_FILE.fullmatch, names) if m
        )

    def _path(self, epoch: int) -> str:
        return os.path.join(self.state_dir, f"{epoch}.json")

    def __call__(self, epoch_id: int, rows: list) -> list[Row]:
        epochs = self._epochs()
        prev = max((e for e in epochs if e < epoch_id), default=None)
        state = None
        if prev is not None:
            with open(self._path(prev)) as fh:
                state = json.load(fh)
        out, state = self._step(rows, state)
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = os.path.join(self.state_dir, f".{epoch_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(state, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._path(epoch_id))
        for e in epochs:
            if e not in (prev, epoch_id):
                os.remove(self._path(e))
        return [self._row(*r) for r in out]


def tumbling_keychange(
    state_dir: str,
    order_col: str,
    group_col: str,
    outs: list[tuple[str | None, str, str]],
) -> Emitter:
    """Emit one row per *run* of equal group keys, ordered by
    ``order_col``, at the moment the key changes; the final open run stays
    in the state (exactly the reference's behaviour — it emits only on
    change).

    outs: ``[(FUNC, in_col, out_name)]`` in output order, FUNC one of
    ``AGG_FUNCS`` or None for the group key itself."""
    inputs = sorted({c for _, c, _ in outs} | {order_col, group_col})
    pos = {c: i for i, c in enumerate(inputs)}
    gpos = pos[group_col]
    agg_cols = sorted({c for f, c, _ in outs if f is not None})

    def step(rows: list, st: dict | None):
        st = st or {"key": None, "vals": {c: [] for c in agg_cols}, "open": False}
        out = []
        for r in rows:
            k = r[gpos]
            if st["open"] and k != st["key"]:
                out.append(
                    tuple(
                        st["key"] if f is None else _agg_value(f, st["vals"][c])
                        for f, c, _ in outs
                    )
                )
                st["vals"] = {c: [] for c in agg_cols}
            st["key"], st["open"] = k, True
            for c in agg_cols:
                st["vals"][c].append(r[pos[c]])
        return out, st

    return Emitter(state_dir, inputs, [o for _, _, o in outs], step)


def sliding_count_window(
    state_dir: str,
    order_col: str,
    interval: int,
    aggs: list[tuple[str, str, str]],
) -> Emitter:
    """WINDOW BY col INTERVAL = n over a stream: a ring buffer of the last
    n rows, ordered by ``order_col`` (the window column), in the state;
    from the n-th arrival onward, one aggregate row per arriving row.

    aggs: ``[(FUNC, in_col, out_name)]`` in output order."""
    inputs = sorted({c for _, c, _ in aggs} | {order_col})
    pos = {c: i for i, c in enumerate(inputs)}

    def step(rows: list, buf: list | None):
        buf = buf or []
        out = []
        for r in rows:
            buf.append(list(r))
            if len(buf) > interval:
                buf.pop(0)
            if len(buf) == interval:
                out.append(
                    tuple(_agg_value(f, [b[pos[c]] for b in buf]) for f, c, _ in aggs)
                )
        return out, buf

    return Emitter(state_dir, inputs, [o for _, _, o in aggs], step)


def misra_gries(
    sdf: DataFrame,
    order_col: str,
    value_col: str,
    k: int = 8,
) -> DataFrame:
    """Streaming heavy-hitter CANDIDATES with bounded state (Misra-Gries
    summary): at most k−1 counters regardless of how many distinct values
    the stream carries. Classic guarantee: every value whose true frequency
    exceeds n/k is present in the summary (whatever the arrival order), and
    each stored count is a lower bound within n/k of the truth.

    Emits the full candidate snapshot after each micro-batch, tagged with a
    monotone ``batch_ord`` — the max-ordinal snapshot summarizes the whole
    stream so far. The intended two-pass exact pattern: stream pass keeps
    the k−1 candidates, then ONE tiny batch pass counts only those
    candidates exactly (semi-join) — heavy hitters over unbounded streams
    with O(k) memory and an order-independent final answer.

    Single state partition by design (matches the reference CEP's global
    arrival order); group by a real key instead of the constant one for a
    distributed variant (per-key guarantees).
    """
    out_schema = T.StructType(
        [
            T.StructField("batch_ord", T.LongType()),
            T.StructField("value", T.StringType()),
            T.StructField("lower", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("payload", T.StringType())])

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st = json.loads(state.get[0]) if state.exists else {"ord": -1, "c": {}}
        counters: dict[str, int] = st["c"]
        batch_list = list(pdfs)  # an iterator is always truthy — materialize
        batch = pd.concat(batch_list, ignore_index=True) if batch_list else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(order_col)
            for v in batch[value_col]:
                v = str(v)
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k - 1:
                    counters[v] = 1
                else:
                    # decrement-all: drop one occurrence of k distinct values
                    for key2 in list(counters):
                        counters[key2] -= 1
                        if counters[key2] == 0:
                            del counters[key2]
        st["ord"] += 1
        state.update((json.dumps(st),))
        if counters:
            yield pd.DataFrame(
                {
                    "batch_ord": st["ord"],
                    "value": list(counters),
                    "lower": list(counters.values()),
                }
            )

    grouped = (
        sdf.select(order_col, value_col).withColumn("__gk", F.lit(0)).groupBy("__gk")
    )
    return grouped.applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def event_time_rollup(
    sdf: DataFrame,
    ts_col: str,
    duration: str,
    keys: tuple[str, ...] = (),
    value_col: str | None = None,
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Event-time window aggregate — a beyond-reference extension (the
    reference CEP has NO event time, only arrival order — SURVEY C5).
    Native Structured Streaming ``window()`` groupBy: state is one row per
    (window, keys); ``watermark`` bounds it for unbounded append-mode
    streams (late rows beyond the bound are dropped). Complete/update-mode
    run-to-completion consumers can omit the watermark.

    ``slide`` < ``duration`` makes the windows overlapping (sliding): each
    event lands in duration/slide windows — Spark expands that fan-out
    before the aggregate, so state stays one row per (window, keys)."""
    w = sdf.withWatermark(ts_col, watermark) if watermark else sdf
    aggs = [F.count("*").alias("n_events")]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value")
        )
    win = (
        F.window(F.col(ts_col), duration, slide)
        if slide
        else F.window(F.col(ts_col), duration)
    )
    return w.groupBy(win, *keys).agg(*aggs)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    right_key: str | None = None,
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition — a
    beyond-reference extension (the reference joins only in batch; its
    streams are single-table — SURVEY §2.10). The classic attribution
    shape: right-side events within ``max_delay`` after the left-side
    event, per key.

    State design at scale: BOTH sides buffer in the state store keyed by
    the equi key; the watermarks plus the interval bound let Spark evict a
    buffered row once no future match can arrive (left rows age out after
    watermark, right rows after watermark + max_delay) — without the time
    bound the state would grow forever. Matches emit as soon as both sides
    arrive (inner join, append mode)."""
    # withWatermark requires TIMESTAMP; tolerate TIMESTAMP_NTZ sources
    # (UTC session timezone makes the cast a pure reinterpretation)
    left = left.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
    right = right.withColumn(right_ts, F.col(right_ts).cast("timestamp"))
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rkey = right_key or key
    cond = (
        (lw[key] == rw[rkey])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner")


def stream_dedup_within_watermark(
    sdf: DataFrame,
    keys: tuple[str, ...],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """State-BOUNDED streaming dedup: first occurrence per key combination
    is emitted; duplicates arriving within the watermark delay are dropped;
    state for a key is EVICTED once the watermark passes it, so memory is
    bounded by keys-per-watermark-window — the scale-correct alternative to
    plain ``dropDuplicates`` on an unbounded stream (which remembers every
    key forever). Consequence of eviction: a duplicate arriving much later
    than the original (beyond the watermark) is treated as new and
    re-emitted — the deliberate bounded-state trade-off."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    keys: tuple[str, ...],
    gap: str = "30 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Sessionization via native ``session_window``: per key, events whose
    gaps stay under ``gap`` merge into one session (half-open — a gap of
    exactly ``gap`` starts a new session). Works on batch DataFrames and
    streams alike; streaming state is one open session per key, closed by
    the watermark. A classic user-modeling / training-data shaping op the
    reference cannot express."""
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("__start"),
    ]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value")
        )
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), *keys)
        .agg(*aggs)
        .drop("session_window")
    )
