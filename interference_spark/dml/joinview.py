"""Incremental materialized JOIN views: a pre-joined table maintained by
joining ONLY the rows appended since the last refresh.

Companion to :mod:`.rollup` (incremental aggregates). The reference has no
view machinery at all; this is a scale extension: a denormalized join of two
append-mostly 100 TB tables must refresh at O(Δ · join cost), not O(table).

Algebra (the classic delta-join identity, inner equi-join):

    V_new = (L_old ∪ ΔL) ⋈ (R_old ∪ ΔR)
          = V_old  ∪  ΔL ⋈ R_new  ∪  L_old ⋈ ΔR

so one refresh joins the left delta against the WHOLE current right side
plus the PREVIOUS left side against the right delta — each new row meets
each old and new partner exactly once, nothing is double-counted.

Deletes and rewrites (tombstone set changed, or an applied part file
vanished via upsert/compaction/threshold) break the append-only premise;
refresh detects them and falls back to a full rebuild, reporting which mode
ran — same honesty contract as rollup refresh.

Commit protocol: delta part files are written into the state directory
first, then ``meta.json`` (which lists the EXACT state files a reader may
see) is swapped atomically.  A crash between the two leaves unlisted orphan
files that readers ignore and the next commit sweeps — never a
half-applied or double-counted view.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame

from ..errors import InvalidParameter
from . import store


def _view_dir(engine, name: str) -> str:
    return os.path.join(engine.warehouse, f"_joinview_{name}")


def _meta_path(engine, name: str) -> str:
    return os.path.join(_view_dir(engine, name), "meta.json")


def _load_meta(engine, name: str) -> dict:
    p = _meta_path(engine, name)
    if not os.path.exists(p):
        raise InvalidParameter(f"join view {name!r} does not exist")
    with open(p) as fh:
        return json.load(fh)


def _write_meta(engine, name: str, meta: dict) -> None:
    p = _meta_path(engine, name)
    tmp = p + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, p)


def _managed(engine, table: str):
    td = engine.catalog.get(table)
    if not td.managed:
        raise InvalidParameter(
            f"join view sources must be managed tables; {table!r} is external"
        )
    return td


def _table_state(td) -> tuple[list[str], list[str]]:
    return (
        [os.path.basename(p) for p in store._parts(td)],
        [os.path.basename(p) for p in store._tombstone_parts(td)],
    )


def _read_parts(engine, td, basenames: list[str]) -> DataFrame:
    schema = td.require_schema()
    if not basenames:
        return engine.spark.createDataFrame([], schema)
    df = engine.spark.read.schema(schema).parquet(
        *[os.path.join(td.path, b) for b in basenames]
    )
    return store.without_tombstones(
        engine.spark, td, df, store._tombstone_parts(td)
    )


def _joined(engine, meta: dict, left_df: DataFrame, right_df: DataFrame) -> DataFrame:
    return left_df.join(right_df, meta["on"], "inner")


def _append_state(engine, name: str, df: DataFrame, meta: dict) -> list[str]:
    """Write df as new state part files; returns their basenames (NOT yet
    listed in meta — the caller commits the listing)."""
    vdir = _view_dir(engine, name)
    tmp = os.path.join(vdir, f"tmp-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(tmp)
    names = []
    for f in glob.glob(os.path.join(tmp, "*.parquet")):
        b = f"v-{uuid.uuid4().hex}.parquet"
        os.rename(f, os.path.join(vdir, b))
        names.append(b)
    shutil.rmtree(tmp, ignore_errors=True)
    return names


def _sweep_orphans(engine, name: str, listed: set[str]) -> None:
    for f in glob.glob(os.path.join(_view_dir(engine, name), "v-*.parquet")):
        if os.path.basename(f) not in listed:
            os.remove(f)


def create(engine, name: str, left: str, right: str, on: list[str]) -> dict:
    """Define an inner equi-join view ``left ⋈ right ON on`` and build it.
    Non-key column names must be disjoint (the view is a plain table)."""
    ltd, rtd = _managed(engine, left), _managed(engine, right)
    lcols = {f.name for f in ltd.require_schema().fields}
    rcols = {f.name for f in rtd.require_schema().fields}
    for k in on:
        if k not in lcols or k not in rcols:
            raise InvalidParameter(f"join key {k!r} missing from a source")
    clash = (lcols & rcols) - set(on)
    if clash:
        raise InvalidParameter(
            f"non-key columns collide between sources: {sorted(clash)}"
        )
    if os.path.exists(_meta_path(engine, name)):
        raise InvalidParameter(f"join view {name!r} already exists")
    os.makedirs(_view_dir(engine, name), exist_ok=True)
    meta = {"left": left, "right": right, "on": list(on)}
    return _refresh(engine, name, meta, initial=True)


def refresh(engine, name: str) -> dict:
    return _refresh(engine, name, _load_meta(engine, name), initial=False)


def _refresh(engine, name: str, meta: dict, initial: bool) -> dict:
    ltd = _managed(engine, meta["left"])
    rtd = _managed(engine, meta["right"])
    lparts, ltombs = _table_state(ltd)
    rparts, rtombs = _table_state(rtd)
    lapplied = set(meta.get("left_parts", ()))
    rapplied = set(meta.get("right_parts", ()))
    needs_rebuild = (
        initial
        or meta.get("left_tombstones", []) != ltombs
        or meta.get("right_tombstones", []) != rtombs
        or any(p not in set(lparts) for p in lapplied)
        or any(p not in set(rparts) for p in rapplied)
    )
    if needs_rebuild:
        # read exactly the LISTED parts, not a second directory scan: a
        # part landing between the listing and the read would enter the
        # state without being marked applied, then re-join as a "delta"
        # on the next refresh — duplicated view rows
        full = _joined(
            engine,
            meta,
            _read_parts(engine, ltd, lparts),
            _read_parts(engine, rtd, rparts),
        )
        names = _append_state(engine, name, full, meta)
        meta.update(
            left_parts=lparts, right_parts=rparts,
            left_tombstones=ltombs, right_tombstones=rtombs,
            state_files=names,
        )
        _write_meta(engine, name, meta)
        _sweep_orphans(engine, name, set(names))
        return {
            "mode": "initial" if initial else "rebuild",
            "files_read": len(lparts) + len(rparts),
        }
    lnew = [p for p in lparts if p not in lapplied]
    rnew = [p for p in rparts if p not in rapplied]
    if not lnew and not rnew:
        return {"mode": "noop", "files_read": 0}
    # ΔL ⋈ R_new  ∪  L_old ⋈ ΔR  (each new×new pair meets exactly once,
    # in the first term). R_new is the LISTED rparts, not a re-scan of
    # the directory — see the rebuild branch comment.
    dl = _read_parts(engine, ltd, lnew)
    dr = _read_parts(engine, rtd, rnew)
    l_old = _read_parts(engine, ltd, sorted(lapplied))
    r_all = _read_parts(engine, rtd, rparts)
    delta = _joined(engine, meta, dl, r_all).unionByName(
        _joined(engine, meta, l_old, dr)
    )
    names = _append_state(engine, name, delta, meta)
    all_files = list(meta.get("state_files", ())) + names
    meta.update(
        left_parts=lparts, right_parts=rparts,
        left_tombstones=ltombs, right_tombstones=rtombs,
        state_files=all_files,
    )
    _write_meta(engine, name, meta)
    _sweep_orphans(engine, name, set(all_files))
    return {"mode": "incremental", "files_read": len(lnew) + len(rnew)}


def read(engine, name: str) -> DataFrame:
    meta = _load_meta(engine, name)
    files = [
        os.path.join(_view_dir(engine, name), b)
        for b in meta.get("state_files", ())
    ]
    if not files:
        ltd = _managed(engine, meta["left"])
        rtd = _managed(engine, meta["right"])
        return _joined(
            engine,
            meta,
            engine.spark.createDataFrame([], ltd.require_schema()),
            engine.spark.createDataFrame([], rtd.require_schema()),
        )
    return engine.spark.read.parquet(*files)


def drop(engine, name: str) -> None:
    shutil.rmtree(_view_dir(engine, name), ignore_errors=True)


class StreamRefreshHandle:
    """Handle over the streaming-refresh queries of a join view."""

    def __init__(self, queries) -> None:
        self._queries = queries

    def process_all_available(self) -> None:
        for q in self._queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self._queries:
            try:
                q.stop()
            except Exception:
                pass


def stream_refresh(engine, name: str) -> StreamRefreshHandle:
    """Keep a join view continuously fresh: a file-source stream over EACH
    source table's directory triggers :func:`refresh` per micro-batch
    (the micro-batch rows themselves are discarded — refresh re-lists
    part files, which is what makes it exactly-once: a trigger that fires
    twice for the same file is a noop the second time). A process-local
    lock serializes the two triggers; refresh from a trigger is identical
    to a manual refresh, delta-join fast path and rebuild fallback
    included."""
    import threading

    meta = _load_meta(engine, name)
    lock = threading.Lock()

    def fire(_bdf, _eid) -> None:
        with lock:
            refresh(engine, name)

    queries = []
    for table in (meta["left"], meta["right"]):
        td = _managed(engine, table)
        src = (
            engine.spark.readStream.schema(td.require_schema())
            .option("maxFilesPerTrigger", "16")
            .parquet(td.path)
        )
        queries.append(
            src.writeStream.foreachBatch(fire)
            .option(
                "checkpointLocation",
                os.path.join(_view_dir(engine, name), f"_ckpt_{table}"),
            )
            .start()
        )
    return StreamRefreshHandle(queries)
