"""The benchmark's workloads, both listed in ``BENCHMARK.json``.

Each workload sets itself up on a fresh Spark session and hands out one
round of operations at a time.  An operation is built (the program's call
that returns a plan or a result), run (the action that brings the result to
the driver) and checked against an answer computed outside the program:
DuckDB for inventory entries, a pure-Python model for ``object_cep``.
``round_seconds`` is a workload's nominal warm-round length on a 4-core
host; a run of ``--seconds`` does ``seconds // round_seconds`` warm rounds
(at least one), a number that does not depend on how fast the run goes.

* ``object_cep`` — object writes beside reads: persist/commit/find on an
  @Id table held at a fixed size, a dialect ``GROUP BY`` over it, and CEP
  ``SELECT STREAM`` queries resumed by ``stream_id`` over an event table.
  Loads ``session``, ``dml``, ``dialect`` and ``streaming``; ``pipeline``
  stays idle.
* ``curation_pipeline`` — ``pipeline`` operators through their inventory
  entries over the generated corpus (``datagen.py``): Python UDF workers,
  py4j-heavy plan building and iterative multi-job loops.  ``dialect`` and
  ``dml`` stay idle.
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import sorted_rows


@dataclass
class Op:
    name: str
    family: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], bool]
    # the one operation the benchmark expects to fail (see ObjectCep)
    known_fault: bool = False
    # parquet bytes of the rows a commit operation writes (write_amp base)
    committed_bytes: int = 0
    # filled in by ``check`` (stream operations)
    stats: dict = field(default_factory=dict)


def collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


class InventoryWorkload:
    """Inventory entries over the generated corpus, checked against the
    entries' DuckDB oracles."""

    uses_corpus = True

    def __init__(self, name: str, round_seconds: float, entries: list[tuple[str, str]]):
        self.name = name
        self.round_seconds = round_seconds
        self.entries = entries
        self.answers = None  # a Future of the DuckDB answers, set by the run

    def oracle_entries(self) -> list[str]:
        return [e for e, _ in self.entries]

    def setup(self, spark, data_dir: str, warehouse: str, seed: int) -> None:
        from interference_spark import inventory

        self.spark, self.data_dir = spark, data_dir
        # the inventory's own engine: tables registered from data_dir
        inventory.engine_for(spark, data_dir)

    def round_ops(self, rnd: int) -> list[Op]:
        from interference_spark import inventory

        ops = []
        for entry, family in self.entries:
            fn = inventory.QUERIES[entry]
            ops.append(
                Op(
                    entry,
                    family,
                    build=lambda fn=fn: fn(self.spark, self.data_dir),
                    run=collect,
                    # ``answers`` is a future that the first check waits on
                    check=lambda out, e=entry: sorted_rows(*out) == self.answers.result()[e],
                )
            )
        return ops


CURATION = InventoryWorkload(
    "curation_pipeline",
    10.0,
    [
        ("dedup_exact", "dedup"),
        ("dedup_minhash_lsh", "dedup"),
        ("dedup_simhash", "dedup"),
        ("text_quality", "text"),
        ("decontaminate_ngrams", "text"),
        ("pii_redact", "text"),
        ("quality_hash_classifier", "text"),
        ("sim_cosine_topk", "similarity"),
        ("sim_lsh_topk", "similarity"),
        ("bpe_train_merges", "tokenizer"),
    ],
)


ACCOUNT = "id long, name string, region string, balance long, version long"
EVENT = "eventId long, eventType long, eventValue long, groupValue string"
WATCH = "id long, note string"
REGIONS = ["north", "south", "east", "west", "central"]
GROUPS = ["g0", "g1", "g2", "g3", "g4"]

STREAMS = {
    "filtered": "select stream e.eventId, e.eventValue from Event e "
    "where e.eventType = 1",
    "tumbling": "select stream sum(e.eventValue), e.groupValue from Event e "
    "group by e.groupValue",
    "sliding": "select stream count(e.eventId), sum(e.eventValue) from Event e "
    "window by e.eventId interval = 20",
}
WINDOW = 20


def _parquet_bytes(rows: list[dict]) -> int:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pylist(rows), buf, compression="zstd")
    return buf.tell()


class ObjectCep:
    """Writes and reads on the same managed tables each round, checked
    against a pure-Python model of the operations applied.

    Per round: one commit of new ids, 5% updates and 1% deletes on the
    ``Account`` @Id table (held at ``ACCOUNTS`` rows); ``find`` by id; a
    dialect ``GROUP BY`` over ``Account``; an append to the @NoCheck
    ``Event`` table, drained by three resumed ``SELECT STREAM`` queries
    (filter, tumbling ``GROUP BY``, sliding ``WINDOW BY``).

    Known fault, kept on purpose: a resumed ``SELECT STREAM`` over the @Id
    table ``Watch`` must deliver only the rows committed since its last
    drain.  ``store.upsert`` rewrites the whole table into new part files on
    every commit, so the file-stream source sees every row as new and the
    stream delivers the whole table again: 120 rows where 10 are owed in
    the first warm round, 130 in the second.  The check fails in every warm
    round.  ``Watch`` takes fixed rows that do not depend on the seed, so
    the failure is the same in every run."""

    name = "object_cep"
    uses_corpus = False
    round_seconds = 7.0
    ACCOUNTS = 1000
    NEW = 10  # 1% new ids per round, balancing the 1% deletes
    UPDATES = 50  # 5%
    DELETES = 10  # 1%
    EVENTS = 200
    WATCH_ROWS = 100
    WATCH_NEW = 10

    def oracle_entries(self) -> list[str]:
        return []

    def setup(self, spark, data_dir, warehouse: str, seed: int) -> None:
        from interference_spark import Engine

        self.seed = seed
        eng = Engine(spark=spark, warehouse=warehouse)
        eng.register_table("Account", ACCOUNT, id_col="id")
        eng.register_table("Event", EVENT, id_col="eventId", nocheck=True)
        eng.register_table("Watch", WATCH, id_col="id")
        self.session = s = eng.session()
        rng = np.random.default_rng([seed, 0])
        self.accounts = {i: self._account(rng, i, 0) for i in range(self.ACCOUNTS)}
        self.next_id = self.ACCOUNTS
        self.events: list[tuple] = []
        self.drained = {k: 0 for k in STREAMS}  # model position per stream
        self.watch_next = self.WATCH_ROWS
        self.watch_drained = 0
        s.persist("Account", [self._row(r) for r in self.accounts.values()])
        s.persist("Event", self._new_events(rng))
        s.persist("Watch", [self._watch(i) for i in range(self.WATCH_ROWS)])
        s.commit()

    # ------------------------------------------------------------ model
    @staticmethod
    def _account(rng, i: int, version: int) -> tuple:
        return (
            i,
            f"acct-{i}-{version}",
            REGIONS[int(rng.integers(0, len(REGIONS)))],
            int(rng.integers(-1000, 100_000)),
            version,
        )

    @staticmethod
    def _row(acc: tuple) -> dict:
        return dict(zip(("id", "name", "region", "balance", "version"), acc))

    @staticmethod
    def _watch(i: int) -> dict:
        return {"id": i, "note": f"watch-{i}"}

    def _new_events(self, rng) -> list[dict]:
        rows = []
        while len(rows) < self.EVENTS:
            key = GROUPS[int(rng.integers(0, len(GROUPS)))]
            for _ in range(int(rng.integers(1, 9))):
                if len(rows) == self.EVENTS:
                    break
                eid = len(self.events)
                ev = (eid, int(rng.integers(0, 3)), int(rng.integers(0, 1000)), key)
                self.events.append(ev)
                rows.append(dict(zip(("eventId", "eventType", "eventValue", "groupValue"), ev)))
        return rows

    def _stream_expect(self, kind: str) -> list[tuple]:
        """Rows the stream owes since its last drain, then advance."""
        start, n = self.drained[kind], len(self.events)
        if kind == "filtered":
            out = [(e[0], e[2]) for e in self.events[start:] if e[1] == 1]
            self.drained[kind] = n
        elif kind == "sliding":
            vals = [e[2] for e in self.events]
            out = [
                (WINDOW, sum(vals[i - WINDOW + 1 : i + 1]))
                for i in range(max(start, WINDOW - 1), n)
            ]
            self.drained[kind] = n
        else:
            # key-change emission: every run of equal keys but the last,
            # open one; ``drained`` counts runs already emitted
            runs: list[list] = []
            for e in self.events:
                if runs and runs[-1][1] == e[3]:
                    runs[-1][0] += e[2]
                else:
                    runs.append([e[2], e[3]])
            closed = [tuple(r) for r in runs[:-1]]
            out = closed[start:]
            self.drained[kind] = len(closed)
        return out

    # ------------------------------------------------------------ rounds
    def round_ops(self, rnd: int) -> list[Op]:
        s = self.session
        rng = np.random.default_rng([self.seed, rnd + 1])
        live = sorted(self.accounts)
        picked = rng.choice(len(live), self.UPDATES + self.DELETES, replace=False)
        updates = [live[i] for i in picked[: self.UPDATES]]
        deletes = [live[i] for i in picked[self.UPDATES :]]
        new_ids = list(range(self.next_id, self.next_id + self.NEW))
        self.next_id += self.NEW
        writes = [
            self._account(rng, i, self.accounts[i][4] + 1) for i in updates
        ] + [self._account(rng, i, 0) for i in new_ids]
        for acc in writes:
            self.accounts[acc[0]] = acc
        for i in deletes:
            del self.accounts[i]
        write_rows = [self._row(a) for a in writes]

        def commit_accounts():
            s.persist("Account", write_rows)
            for i in deletes:
                s.delete("Account", i)
            s.commit()

        ops = [
            Op(
                "account_commit",
                "session",
                build=commit_accounts,
                run=lambda _: None,
                # a commit returns nothing: its effect is checked by the
                # finds and the GROUP BY that follow in the same round
                check=lambda _: True,
                committed_bytes=_parquet_bytes(write_rows),
            )
        ]
        # a new id, an updated one, an untouched one and a deleted one
        untouched = next(i for i in live if i not in updates and i not in deletes)
        find_ids = [new_ids[0], updates[0], untouched, deletes[0]]
        for i in find_ids:
            want = self.accounts.get(i)
            ops.append(
                Op(
                    "find",
                    "session",
                    build=lambda i=i: s.find("Account", i),
                    run=lambda row: None if row is None else tuple(row),
                    check=lambda got, want=want: got == want,
                )
            )
        totals: dict[str, list[int]] = {}
        for acc in self.accounts.values():
            t = totals.setdefault(acc[2], [0, 0])
            t[0] += 1
            t[1] += acc[3]
        want_totals = sorted((k, c, b) for k, (c, b) in totals.items())
        ops.append(
            Op(
                "region_totals",
                "dialect",
                build=lambda: s.execute(
                    "select a.region, count(a.id), sum(a.balance) "
                    "from Account a group by a.region"
                ),
                run=lambda df: sorted(tuple(r) for r in df.collect()),
                check=lambda got: got == want_totals,
            )
        )
        event_rows = self._new_events(rng)

        def append_events():
            s.persist("Event", event_rows)
            s.commit()

        ops.append(
            Op(
                "event_append",
                "session",
                build=append_events,
                run=lambda _: None,
                check=lambda _: True,  # checked by the three streams below
                committed_bytes=_parquet_bytes(event_rows),
            )
        )
        for kind, sql in STREAMS.items():
            want = self._stream_expect(kind)
            ops.append(self._stream_op(f"stream_{kind}", sql, f"ev_{kind}", want))

        watch_rows = [self._watch(i) for i in range(self.watch_next, self.watch_next + self.WATCH_NEW)]
        self.watch_next += self.WATCH_NEW

        def commit_watch():
            s.persist("Watch", watch_rows)
            s.commit()

        ops.append(
            Op(
                "watch_commit",
                "session",
                build=commit_watch,
                run=lambda _: None,
                check=lambda _: True,  # checked by watch_stream
                committed_bytes=_parquet_bytes(watch_rows),
            )
        )
        # rows committed since the last drain; the first drain owes the
        # whole table
        want_watch = [
            (i, f"watch-{i}") for i in range(self.watch_drained, self.watch_next)
        ]
        self.watch_drained = self.watch_next
        op = self._stream_op(
            "watch_stream", "select stream w.id, w.note from Watch w", "watch", want_watch
        )
        op.known_fault = True
        ops.append(op)
        return ops

    def _stream_op(self, name, sql, stream_id, want) -> Op:
        s = self.session

        def drain(sq):
            try:
                return sq, [tuple(r) for r in sq.drain_available()]
            finally:
                sq.stop()

        stats: dict = {}

        def check(out):
            sq, rows = out
            stats.update(
                delivered=len(rows),
                new=len(want),
                microbatches=len(sq._query.recentProgress),
            )
            return rows == want

        return Op(
            name,
            "streaming",
            build=lambda: s.execute(sql, stream_id=stream_id),
            run=drain,
            check=check,
            stats=stats,
        )


WORKLOADS = {w.name: w for w in (ObjectCep(), CURATION)}
