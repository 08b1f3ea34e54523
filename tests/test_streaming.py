"""SELECT STREAM / CEP: snapshot+tail, tumbling key-change, sliding
count-window, PROCESS STREAM (FIXTURES.md §A queries 7-10)."""

import pytest


@pytest.fixture()
def stream_table(engine):
    import uuid

    name = f"Ev{uuid.uuid4().hex[:8]}"
    engine.register_table(
        name,
        "eventId long, eventType long, eventValue long, groupValue string",
        id_col="eventId",
        nocheck=True,
    )
    yield name
    engine.drop_table(name)


def _rows(n, start=0, gv=None):
    return [
        {
            "eventId": i,
            "eventType": i % 3,
            "eventValue": i * 10,
            "groupValue": gv(i) if gv else f"g{i // 4}",
        }
        for i in range(start, start + n)
    ]


def test_stream_snapshot_then_tail(session, engine, stream_table):
    session.persist(stream_table, _rows(8))
    session.commit()
    sq = session.execute(
        f"select stream e.eventId, e.eventValue from {stream_table} e "
        f"where e.eventType = 1"
    )
    try:
        snap = sq.drain_available()
        assert [r["eeventId"] for r in snap] == [1, 4, 7]
        # tail: new committed appends flow into the same queue
        session.persist(stream_table, _rows(6, start=8))
        session.commit()
        tail = sq.drain_available()
        assert [r["eeventId"] for r in tail] == [10, 13]
    finally:
        sq.stop()


def test_stream_requires_managed_and_id(session, engine):
    from interference_spark import errors

    with pytest.raises(errors.InvalidParameter):
        session.execute("select stream r.r_name from region r")


def test_tumbling_keychange(session, engine, stream_table):
    # runs of equal groupValue; emission on change only (last group open)
    session.persist(stream_table, _rows(12))  # groups g0(0-3) g1(4-7) g2(8-11)
    session.commit()
    sq = session.execute(
        f"select stream sum(e.eventValue) s, count(e.eventId) c, e.groupValue "
        f"from {stream_table} e group by e.groupValue"
    )
    try:
        rows = sq.drain_available()
        got = [(r["egroupValue"], r["s"], r["c"]) for r in rows]
        assert got == [("g0", 60, 4), ("g1", 220, 4)]  # g2 stays open
        # key change arrives → g2 closes
        session.persist(
            stream_table,
            [{"eventId": 12, "eventType": 0, "eventValue": 1, "groupValue": "g9"}],
        )
        session.commit()
        more = sq.drain_available()
        assert [(r["egroupValue"], r["s"], r["c"]) for r in more] == [("g2", 380, 4)]
    finally:
        sq.stop()


def test_sliding_count_window_stream(session, engine, stream_table):
    session.persist(stream_table, _rows(6))
    session.commit()
    sq = session.execute(
        f"select stream count(e.eventId) c, sum(e.eventValue) s, max(e.eventId) m "
        f"from {stream_table} e window by e.eventId interval = 3"
    )
    try:
        rows = sq.drain_available()
        got = [(r["c"], r["s"], r["m"]) for r in rows]
        # windows: [0,1,2] [1,2,3] [2,3,4] [3,4,5]
        assert got == [(3, 30, 2), (3, 60, 3), (3, 90, 4), (3, 120, 5)]
        # tail keeps the ring buffer across commits
        session.persist(stream_table, _rows(1, start=6))
        session.commit()
        more = sq.drain_available()
        assert [(r["c"], r["s"], r["m"]) for r in more] == [(3, 150, 6)]
    finally:
        sq.stop()


def test_resumed_drain_runs_one_spark_job(spark, session, engine, stream_table):
    """A resumed drain after one commit is one Spark job — the collect of
    its micro-batch — for a filter, a projection without the @Id, and the
    tumbling and sliding emitters: the order is taken on the driver, and
    the CEP state lives beside the checkpoint, not in a state store."""
    sc = spark.sparkContext._jsc.sc()
    t = stream_table
    queries = {
        "filter": f"select stream e.eventId, e.eventValue from {t} e "
        f"where e.eventType = 1",
        "projection": f"select stream e.eventValue from {t} e",
        "tumbling": f"select stream sum(e.eventValue) s, e.groupValue "
        f"from {t} e group by e.groupValue",
        "sliding": f"select stream count(e.eventId) c, sum(e.eventValue) s "
        f"from {t} e window by e.eventId interval = 3",
    }
    session.persist(t, _rows(12))
    session.commit()
    for kind, sql in queries.items():
        sq = session.execute(sql, stream_id=f"{t}-{kind}")
        try:
            sq.drain_available()
        finally:
            sq.stop()
    session.persist(t, _rows(8, start=12))
    session.commit()
    jobs = {}
    for kind, sql in queries.items():
        first = int(sc.dagScheduler().nextJobId())
        sq = session.execute(sql, stream_id=f"{t}-{kind}")
        try:
            assert sq.drain_available()
        finally:
            sq.stop()
        jobs[kind] = int(sc.dagScheduler().nextJobId()) - first
    assert jobs == dict.fromkeys(queries, 1)


def test_tumbling_resume_closes_the_open_run(session, engine, stream_table):
    """A tumbling stream stopped with an open run and resumed by stream_id
    keeps the run: rows committed later extend it, and the next key change
    closes it with the rows of both sessions."""
    sql = (
        f"select stream sum(e.eventValue) s, count(e.eventId) c, e.groupValue "
        f"from {stream_table} e group by e.groupValue"
    )
    sid = f"{stream_table}-tum"
    session.persist(stream_table, _rows(10))  # g0(0-3) g1(4-7) g2(8-9) open
    session.commit()
    sq = session.execute(sql, stream_id=sid)
    try:
        got = [(r["egroupValue"], r["s"], r["c"]) for r in sq.drain_available()]
    finally:
        sq.stop()
    assert got == [("g0", 60, 4), ("g1", 220, 4)]
    session.persist(stream_table, _rows(2, start=10))  # g2 continues
    session.persist(
        stream_table,
        {"eventId": 12, "eventType": 0, "eventValue": 1, "groupValue": "g9"},
    )
    session.commit()
    sq = session.execute(sql, stream_id=sid)
    try:
        got = [(r["egroupValue"], r["s"], r["c"]) for r in sq.drain_available()]
    finally:
        sq.stop()
    assert got == [("g2", 380, 4)]


def test_sliding_resume_continues_the_ring_buffer(session, engine, stream_table):
    sql = (
        f"select stream count(e.eventId) c, sum(e.eventValue) s, max(e.eventId) m "
        f"from {stream_table} e window by e.eventId interval = 3"
    )
    sid = f"{stream_table}-slide"
    session.persist(stream_table, _rows(4))
    session.commit()
    sq = session.execute(sql, stream_id=sid)
    try:
        got = [(r["c"], r["s"], r["m"]) for r in sq.drain_available()]
    finally:
        sq.stop()
    assert got == [(3, 30, 2), (3, 60, 3)]
    session.persist(stream_table, _rows(2, start=4))
    session.commit()
    sq = session.execute(sql, stream_id=sid)
    try:
        got = [(r["c"], r["s"], r["m"]) for r in sq.drain_available()]
    finally:
        sq.stop()
    assert got == [(3, 90, 4), (3, 120, 5)]


def test_emitter_replay_is_deterministic_and_keeps_two_epochs(tmp_path):
    """Stepping an emitter again with an epoch it already wrote (Spark's
    replay of an uncommitted micro-batch) gives the same rows and the same
    state, and only the newest epoch and the one before it stay on disk."""
    import os

    from interference_spark.streaming.windows import (
        sliding_count_window,
        tumbling_keychange,
    )

    def batches(inputs):
        # five epochs of three rows each, columns in the emitter's order
        vals = {"id": lambda i: i, "k": lambda i: f"k{i // 2}", "v": lambda i: i * 1.5}
        return [
            [tuple(vals[c](i) for c in inputs) for i in range(3 * e, 3 * e + 3)]
            for e in range(5)
        ]

    emitters = {
        "tumbling": tumbling_keychange(
            str(tmp_path / "t"), "id", "k",
            [("SUM", "v", "s"), (None, "k", "key"), ("LAST", "id", "last")],
        ),
        "sliding": sliding_count_window(
            str(tmp_path / "s"), "id", 4, [("AVG", "v", "a"), ("MIN", "k", "lo")]
        ),
    }
    for name, em in emitters.items():
        data = batches(em.inputs)

        def state(epoch):
            with open(os.path.join(em.state_dir, f"{epoch}.json")) as fh:
                return fh.read()

        out = [em(e, rows) for e, rows in enumerate(data)]
        assert sorted(os.listdir(em.state_dir)) == ["3.json", "4.json"], name
        first = state(4)
        assert em(4, data[4]) == out[4] and state(4) == first, name
        assert sorted(os.listdir(em.state_dir)) == ["3.json", "4.json"], name
        assert out[4] and list(out[4][0].asDict()) == em.columns, name
    # empty epochs emit nothing and carry the open run (id 14, key k7)
    tum = emitters["tumbling"]
    assert tum(5, []) == [] and tum(6, []) == []
    assert [tuple(r) for r in tum(7, [(15, "k9", 0.0)])] == [(21.0, "k7", 14)]
    assert sorted(os.listdir(tum.state_dir)) == ["6.json", "7.json"]


def test_emitter_aggregates_count_nan_as_null(tmp_path):
    from interference_spark.streaming.windows import sliding_count_window

    em = sliding_count_window(
        str(tmp_path), "id", 2, [("COUNT", "v", "c"), ("MIN", "v", "lo"), ("SUM", "v", "s")]
    )
    assert em.inputs == ["id", "v"]
    out = em(0, [(0, 1.0), (1, float("nan")), (2, 3.0)])
    assert [tuple(r) for r in out] == [(1, 1.0, 1.0), (1, 3.0, 3.0)]


def test_old_state_store_checkpoint_is_refused(session, engine, stream_table):
    """A CEP stream_id whose checkpoint holds the state-store plan's
    ``state/`` directory but no ``cep/`` state must not resume with empty
    windows; a DISTINCT stream keeps its Spark state and resumes."""
    import os

    from interference_spark import errors

    session.persist(stream_table, _rows(4))
    session.commit()
    sid = f"{stream_table}-old"
    os.makedirs(os.path.join(engine.warehouse, "_checkpoints", sid, "state", "0"))
    with pytest.raises(errors.InvalidParameter, match=sid):
        session.execute(
            f"select stream count(e.eventId) c, e.groupValue "
            f"from {stream_table} e group by e.groupValue",
            stream_id=sid,
        )
    sql = f"select stream distinct e.eventType from {stream_table} e"
    for want in ({0, 1, 2}, set()):
        sq = session.execute(sql, stream_id=f"{stream_table}-distinct")
        try:
            assert {r["eeventType"] for r in sq.drain_available()} == want
        finally:
            sq.stop()


def test_process_stream(session, engine, stream_table):
    def make():
        class DropType2:
            def process(self, row) -> bool:
                return True

            def delete(self) -> bool:
                return True

        return DropType2

    engine.register_processor("DropType2", make())
    session.persist(stream_table, _rows(9))
    session.commit()
    h = session.execute(
        f"process stream {stream_table} e within DropType2 where e.eventType = 2"
    )
    try:
        h.process_all_available()
        assert h.processed == 3 and h.deleted == 3
        left = engine.table(stream_table)
        assert left.count() == 6
        assert all(r["eventType"] != 2 for r in left.collect())
        # continuous: new matching events get consumed too
        session.persist(stream_table, _rows(3, start=9))  # types 0,1,2
        session.commit()
        h.process_all_available()
        assert h.deleted == 4
        assert engine.table(stream_table).count() == 8
    finally:
        h.stop()


def test_stream_resume_by_stream_id(session, engine, stream_table):
    """Named checkpoint = per-session resume position (reference
    Session.streamFramePtr): a restarted stream with the same stream_id
    continues after already-delivered rows instead of replaying."""
    session.persist(stream_table, _rows(6))
    session.commit()
    sq = session.execute(
        f"select stream e.eventId from {stream_table} e", stream_id="resume1"
    )
    try:
        assert [r["eeventId"] for r in sq.drain_available()] == [0, 1, 2, 3, 4, 5]
    finally:
        sq.stop()
    session.persist(stream_table, _rows(4, start=6))
    session.commit()
    sq2 = session.execute(
        f"select stream e.eventId from {stream_table} e", stream_id="resume1"
    )
    try:
        assert [r["eeventId"] for r in sq2.drain_available()] == [6, 7, 8, 9]
    finally:
        sq2.stop()


def test_stream_resume_after_insert_only_commit(session, engine):
    """A resumed SELECT STREAM over an @Id (upsert) table delivers exactly
    the rows an insert-only commit added: the commit publishes them as one
    new part and leaves every existing part in place, so the file source
    sees nothing else new."""
    import uuid

    name = f"W{uuid.uuid4().hex[:8]}"
    engine.register_table(name, "id long, note string", id_col="id")
    sql = f"select stream w.id, w.note from {name} w"
    try:
        session.persist(name, [{"id": i, "note": f"n{i}"} for i in range(6)])
        session.commit()
        sq = session.execute(sql, stream_id=f"resume-{name}")
        try:
            assert sorted(r["wid"] for r in sq.drain_available()) == list(range(6))
        finally:
            sq.stop()
        session.persist(name, [{"id": i, "note": f"n{i}"} for i in range(6, 10)])
        session.commit()
        sq2 = session.execute(sql, stream_id=f"resume-{name}")
        try:
            got = sorted((r["wid"], r["wnote"]) for r in sq2.drain_available())
        finally:
            sq2.stop()
        assert got == [(i, f"n{i}") for i in range(6, 10)]
    finally:
        engine.drop_table(name)


def test_stream_static_join_enriches_tail(engine, session, stream_table):
    """EXTENSION (SURVEY §2.10): stream-static dimension join — both the
    snapshot and later commits get enriched against the static side."""
    import uuid

    dim = f"Dim{uuid.uuid4().hex[:8]}"
    engine.register_table(
        dim, "typeId long, typeName string", id_col="typeId", nocheck=True
    )
    session.persist(dim, [{"typeId": i, "typeName": f"t{i}"} for i in range(3)])
    session.commit()
    session.persist(stream_table, _rows(3))
    session.commit()
    sq = session.execute(
        f"select stream e.eventId, t.typeName from {stream_table} e, {dim} t "
        f"where e.eventType = t.typeId"
    )
    try:
        rows = sq.drain_available()
        assert len(rows) == 3
        assert {r["ttypeName"] for r in rows} == {"t0", "t1", "t2"}
        session.persist(stream_table, _rows(3, start=3))
        session.commit()
        rows2 = sq.drain_available()
        assert len(rows2) == 3
    finally:
        sq.stop()
    engine.drop_table(dim)


def test_stream_distinct_dedups_across_commits(engine, session, stream_table):
    """SELECT STREAM DISTINCT keeps dedup STATE across micro-batches: a
    later commit with already-seen combinations emits nothing."""
    session.persist(stream_table, _rows(3))  # eventTypes 0,1,2
    session.commit()
    sq = session.execute(
        f"select stream distinct e.eventType from {stream_table} e"
    )
    try:
        rows = sq.drain_available()
        assert {r["eeventType"] for r in rows} == {0, 1, 2}
        session.persist(stream_table, _rows(3, start=3))  # same types again
        session.commit()
        assert sq.drain_available() == []
    finally:
        sq.stop()


def test_stream_stream_join_matches_across_batches(spark, tmp_path):
    """A click buffered in micro-batch 1 must join a purchase arriving in
    micro-batch 2 — the state store holds the unmatched side across
    batches (watermark + interval bound its eviction)."""
    import time as _time

    from pyspark.sql import functions as F

    from interference_spark.streaming.windows import stream_stream_interval_join

    src = str(tmp_path / "ssj_src")
    schema = "event_id long, user_id long, kind string, ts timestamp"
    base = _time.mktime((2025, 1, 1, 12, 0, 0, 0, 0, 0))

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def ts(minute):
        import datetime as dt

        return dt.datetime.fromtimestamp(base + 60 * minute)

    # batch 1: one click, one purchase for another user
    write_batch([(1, 100, "click", ts(0)), (2, 200, "purchase", ts(1))])

    sdf = spark.readStream.schema(schema).parquet(src)
    clicks = sdf.filter(F.col("kind") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = sdf.filter(F.col("kind") == "purchase").select(
        F.col("event_id").alias("purch_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purch_ts"),
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id", right_key="p_user_id",
        left_ts="click_ts", right_ts="purch_ts",
        max_delay="1 hour", watermark="2 hours",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_unit")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("ssj_unit").count() == 0  # no same-user match yet
        # batch 2: the matching purchase (in-window) + one out-of-window
        write_batch([(3, 100, "purchase", ts(30)), (4, 100, "purchase", ts(90))])
        q.processAllAvailable()
        got = [
            (r["click_id"], r["purch_id"])
            for r in spark.table("ssj_unit").collect()
        ]
        assert got == [(1, 3)]  # cross-batch match; 90-min purchase excluded
    finally:
        q.stop()


def test_event_time_watermark_drops_late_rows(spark, tmp_path):
    """With a watermark, an event arriving far behind the advanced watermark
    is dropped from append-mode aggregation state — bounded state is the
    100 TB requirement for unbounded streams."""
    import datetime as dt

    from pyspark.sql import functions as F

    from interference_spark.streaming.windows import event_time_rollup

    src = str(tmp_path / "wm_src")
    schema = "event_id long, ts timestamp, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = dt.datetime(2025, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 1: events in hour 10 and hour 13 (advances watermark to 13:00-1h)
    write_batch([(1, ts(5), 1.0), (2, ts(180), 1.0)])
    sdf = spark.readStream.schema(schema).parquet(src)
    agg = event_time_rollup(sdf, "ts", "1 hour", value_col="value", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_unit")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late event for hour 10 — behind watermark (12:00) → dropped;
        # then advance far enough (hour 16) to finalize every earlier window
        write_batch([(3, ts(10), 100.0)])
        q.processAllAvailable()
        write_batch([(4, ts(360), 1.0)])
        q.processAllAvailable()
        rows = {
            (r["window"].start, r["n_events"]): r["sum_value"]
            for r in spark.table("wm_unit").collect()
        }
        hour10 = [v for (start, _), v in rows.items() if start == t0]
        # the late row (value 100) must NOT be in hour-10's finalized sum
        assert hour10 == [1.0]
    finally:
        q.stop()


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark delay
    are dropped; once the watermark passes a key its state is evicted, so a
    much-later duplicate re-emits — bounded state, by design."""
    import datetime as dt

    from interference_spark.streaming.windows import stream_dedup_within_watermark

    src = str(tmp_path / "ddw_src")
    schema = "k long, ts timestamp"
    t0 = dt.datetime(2025, 1, 1, 10, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    write_batch([(1, ts(0))])
    sdf = spark.readStream.schema(schema).parquet(src)
    out = stream_dedup_within_watermark(sdf, ("k",), "ts", watermark="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddw_unit")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([(1, ts(5))])   # duplicate within the watermark → dropped
        q.processAllAvailable()
        assert spark.table("ddw_unit").count() == 1
        # advance the watermark far past k=1's state, then repeat the key
        write_batch([(2, ts(600))])
        q.processAllAvailable()
        write_batch([(1, ts(605))])  # state evicted → treated as new
        q.processAllAvailable()
        ks = sorted(r.k for r in spark.table("ddw_unit").collect())
        assert ks == [1, 1, 2]
    finally:
        q.stop()


def test_stream_into_chained_cep(engine, session, stream_table):
    """stream_into materializes a filtered stream into a managed table;
    a SECOND stream reading that table sees the rows — chained CEP via the
    table-is-a-queue duality."""
    import uuid

    target = f"EvOut{uuid.uuid4().hex[:8]}"
    engine.register_table(
        target, "eeventId long, eeventValue long", id_col="eeventId"
    )
    session.persist(stream_table, _rows(8))
    session.commit()
    h = session.stream_into(
        f"select stream e.eventId, e.eventValue from {stream_table} e "
        f"where e.eventType = 1",
        target,
    )
    sq = session.execute(
        f"select stream t.eeventId, t.eeventValue from {target} t"
    )
    try:
        h.process_all_available()
        rows = sq.drain_available()
        assert [(r["teeventId"], r["teeventValue"]) for r in rows] == [
            (1, 10), (4, 40), (7, 70),
        ]
        # tail: new commits flow source → target → downstream stream
        session.persist(stream_table, _rows(6, start=8))
        session.commit()
        h.process_all_available()
        tail = sq.drain_available()
        assert [r["teeventId"] for r in tail] == [10, 13]
    finally:
        sq.stop()
        h.stop()
        engine.drop_table(target)


def test_stream_into_validation(engine, session, stream_table):
    from interference_spark import errors

    with pytest.raises(errors.InvalidParameter):
        session.stream_into(
            f"select stream sum(e.eventValue) s, e.groupValue "
            f"from {stream_table} e group by e.groupValue",
            "whatever",
        )
    with pytest.raises(errors.InvalidSQLStatement):
        session.stream_into(
            f"select e.eventId from {stream_table} e", "whatever"
        )
    # target schema columns must equal the stream's output columns
    import uuid

    bad_target = f"EvBad{uuid.uuid4().hex[:8]}"
    engine.register_table(bad_target, "wrong_col long", id_col="wrong_col")
    try:
        with pytest.raises(errors.InvalidParameter):
            session.stream_into(
                f"select stream e.eventId from {stream_table} e", bad_target
            )
    finally:
        engine.drop_table(bad_target)


# ---- ADVICE r01 regressions -------------------------------------------------


def test_tumbling_numeric_group_key(session, engine, stream_table):
    """GROUP BY a long column in SELECT STREAM: numeric keys arrive in the
    stateful op as numpy scalars and must survive JSON state round-trips."""
    rows = [
        {"eventId": i, "eventType": t, "eventValue": i, "groupValue": "x"}
        for i, t in enumerate([7, 7, 8, 8, 8, 9])
    ]
    session.persist(stream_table, rows)
    session.commit()
    sq = session.execute(
        f"select stream count(e.eventId) c, e.eventType "
        f"from {stream_table} e group by e.eventType"
    )
    try:
        got = [(r["eeventType"], r["c"]) for r in sq.drain_available()]
        assert got == [(7, 2), (8, 3)]  # 9 stays open
    finally:
        sq.stop()


def test_stream_without_id_in_projection_is_ordered(session, engine, stream_table):
    """@Id projected away: rows must still arrive in @Id order (the hidden
    re-attached order column must not leak to the consumer)."""
    rows = [
        {"eventId": i, "eventType": 0, "eventValue": 100 - i, "groupValue": "g"}
        for i in range(20)
    ]
    session.persist(stream_table, rows)
    session.commit()
    sq = session.execute(
        f"select stream e.eventValue from {stream_table} e"
    )
    try:
        got = sq.drain_available()
        assert [r["eeventValue"] for r in got] == [100 - i for i in range(20)]
        assert got and set(got[0].asDict().keys()) == {"eeventValue"}
    finally:
        sq.stop()


def test_drain_larger_than_queue_capacity(session, engine, stream_table):
    """A snapshot larger than the bounded queue's CAPACITY must drain fully:
    drain_available consumes concurrently with processAllAvailable (a naive
    wait-then-drain deadlocks — the producer blocks on the full queue, the
    consumer blocks on the producer's completion)."""
    from interference_spark.streaming import stream_queue as sqmod

    n = sqmod.CAPACITY + 2_500
    session.persist(stream_table, _rows(n))
    session.commit()
    sq = session.execute(f"select stream e.eventId from {stream_table} e")
    try:
        got = sq.drain_available()
        assert len(got) == n
        assert [r["eeventId"] for r in got[:3]] == [0, 1, 2]
        assert got[-1]["eeventId"] == n - 1
    finally:
        sq.stop()


def test_stream_into_feeds_incremental_rollup(engine, session, stream_table):
    """CDC-style continuous aggregation: stream_into materializes
    micro-batches into a managed table whose part files then feed an
    incremental rollup — each refresh folds only the newly landed files
    (mode 'incremental'), giving a continuously maintained aggregate over
    a live stream with O(new data) refresh cost."""
    import uuid

    from pyspark.sql import functions as F

    target = f"EvAgg{uuid.uuid4().hex[:8]}"
    engine.register_table(
        target, "eeventId long, egroupValue string, eeventValue long",
        id_col="eeventId",
    )
    session.persist(stream_table, _rows(8))
    session.commit()
    h = session.stream_into(
        f"select stream e.eventId, e.groupValue, e.eventValue "
        f"from {stream_table} e",
        target,
    )
    rollup = f"{target}_sum"
    try:
        h.process_all_available()
        st = engine.create_rollup(
            rollup, target, ["egroupValue"],
            {"n": ("count", None), "total": ("sum", "eeventValue")},
        )
        assert st["mode"] == "initial"

        def want():
            return {
                r["egroupValue"]: (r["n"], r["total"])
                for r in engine.table(target)
                .groupBy("egroupValue")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("eeventValue").alias("total"),
                )
                .collect()
            }

        got0 = {
            r["egroupValue"]: (r["n"], r["total"])
            for r in engine.rollup(rollup).collect()
        }
        assert got0 == want()
        # live tail: new commits stream into target; refresh folds ONLY
        # the new part files
        session.persist(stream_table, _rows(6, start=8))
        session.commit()
        h.process_all_available()
        st = engine.refresh_rollup(rollup)
        assert st["mode"] == "incremental"
        got1 = {
            r["egroupValue"]: (r["n"], r["total"])
            for r in engine.rollup(rollup).collect()
        }
        assert got1 == want()
        assert sum(n for n, _ in got1.values()) == 14
    finally:
        h.stop()
        engine.drop_rollup(rollup)
        engine.drop_table(target)


def test_misra_gries_bounded_state_multibatch(spark, engine):
    """MG summary across multiple micro-batches: candidate set stays < k,
    the guaranteed heavy hitter survives churn from a wide tail, and the
    two-pass verify yields the exact order-independent answer."""
    import uuid

    from pyspark.sql import functions as F

    from interference_spark.dml import store
    from interference_spark.streaming.windows import misra_gries

    name = f"HH{uuid.uuid4().hex[:8]}"
    engine.register_table(
        name, "id long, v string", id_col="id", nocheck=True
    )
    td = engine.catalog.get(name)
    # two part files -> two micro-batches (maxFilesPerTrigger=1); 'hot' is
    # 25% overall, tail is 60 distinct cold keys
    rows = [
        {"id": i, "v": "hot" if i % 4 == 0 else f"c{i % 60}"} for i in range(400)
    ]
    store.append_rows(td, rows[:200])
    store.append_rows(td, rows[200:])
    try:
        sdf = (
            spark.readStream.schema(td.require_schema())
            .option("maxFilesPerTrigger", "1")
            .parquet(td.path)
        )
        mg = misra_gries(sdf, "id", "v", k=8)
        qname = f"mg_{uuid.uuid4().hex[:8]}"
        q = (
            mg.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        snap = spark.table(qname).collect()
        ords = {r["batch_ord"] for r in snap}
        assert len(ords) >= 2  # state persisted across micro-batches
        final = [r for r in snap if r["batch_ord"] == max(ords)]
        assert 0 < len(final) <= 7  # bounded by k-1
        cands = {r["value"] for r in final}
        assert "hot" in cands  # freq 25% > n/k=12.5% -> guaranteed present
        # two-pass exact verify == true heavy hitters
        exact = (
            engine.table(name)
            .filter(F.col("v").isin(list(cands)))
            .groupBy("v")
            .count()
            .filter(F.col("count") * 8 >= 400)
            .collect()
        )
        assert {(r["v"], r["count"]) for r in exact} == {("hot", 100)}
    finally:
        engine.drop_table(name)


def test_join_view_stream_refresh(engine):
    """Appends to either side of a join view are picked up by the
    streaming refresher without manual refresh calls."""
    import uuid as _uuid

    ln, rn = f"SL{_uuid.uuid4().hex[:8]}", f"SR{_uuid.uuid4().hex[:8]}"
    engine.register_table(ln, "k long, lv long", id_col="k", nocheck=True)
    engine.register_table(rn, "k long, rv string", id_col="k", nocheck=True)
    s = engine.session()
    h = None
    try:
        s.persist(ln, [{"k": 1, "lv": 10}])
        s.persist(rn, [{"k": 1, "rv": "a"}])
        s.commit()
        engine.create_join_view("sv", ln, rn, ["k"])
        h = engine.stream_refresh_join_view("sv")
        h.process_all_available()
        assert engine.join_view("sv").count() == 1
        s.persist(ln, [{"k": 2, "lv": 20}])   # left append, no match yet
        s.persist(rn, [{"k": 2, "rv": "b"}])  # right append completes it
        s.commit()
        h.process_all_available()
        got = {tuple(r) for r in engine.join_view("sv").collect()}
        assert got == {(1, 10, "a"), (2, 20, "b")}
    finally:
        if h is not None:
            h.stop()
        engine.drop_join_view("sv")
        engine.drop_table(ln)
        engine.drop_table(rn)
