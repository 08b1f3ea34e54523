"""Object/DML surface: persist (append + upsert), find, delete, purge,
commit/rollback visibility, @Threshold retention, tombstones, PROCESS."""

import pytest

from interference_spark.dml import store
from interference_spark import errors


@pytest.fixture()
def fresh(engine):
    """A fresh managed table per test."""
    import uuid

    name = f"T{uuid.uuid4().hex[:8]}"
    engine.register_table(name, "id long, val long, tag string", id_col="id")
    yield name
    engine.drop_table(name)


def test_persist_commit_visibility(session, engine, fresh):
    session.persist(fresh, {"id": 1, "val": 10, "tag": "a"})
    assert engine.table(fresh).count() == 0  # staged, not visible
    session.commit()
    assert engine.table(fresh).count() == 1


def test_rollback_discards(session, engine, fresh):
    session.persist(fresh, {"id": 1, "val": 10, "tag": "a"})
    session.rollback()
    session.commit()
    assert engine.table(fresh).count() == 0


def test_persist_upsert_by_id(session, engine, fresh):
    session.persist(fresh, [{"id": 1, "val": 10, "tag": "a"},
                            {"id": 2, "val": 20, "tag": "b"}])
    session.commit()
    session.persist(fresh, {"id": 1, "val": 99, "tag": "a2"})  # update
    session.persist(fresh, {"id": 3, "val": 30, "tag": "c"})   # insert
    session.commit()
    rows = {r["id"]: (r["val"], r["tag"]) for r in engine.table(fresh).collect()}
    assert rows == {1: (99, "a2"), 2: (20, "b"), 3: (30, "c")}


def test_find_by_id(session, engine, fresh):
    session.persist(fresh, [{"id": i, "val": i * 2, "tag": "x"} for i in range(5)])
    session.commit()
    row = session.find(fresh, 3)
    assert row["val"] == 6
    assert session.find(fresh, 999) is None


def test_delete_and_purge(session, engine, fresh):
    session.persist(fresh, [{"id": i, "val": i, "tag": "x"} for i in range(4)])
    session.commit()
    session.delete(fresh, 1)
    assert engine.table(fresh).count() == 4  # staged delete
    session.commit()
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == [0, 2, 3]
    session.purge(fresh, 2)  # immediate
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == [0, 3]


def test_nocheck_blind_append(spark, engine):
    engine.register_table("RingNC", "id long, v long", id_col="id", nocheck=True)
    try:
        s = engine.session()
        s.persist("RingNC", [{"id": 1, "v": 1}, {"id": 1, "v": 2}])  # dup id OK
        s.commit()
        assert engine.table("RingNC").count() == 2  # no upsert dedup
    finally:
        engine.drop_table("RingNC")


def test_threshold_retention(spark, engine):
    engine.register_table("RingT", "id long, v long", id_col="id",
                          nocheck=True, threshold=10)
    try:
        s = engine.session()
        s.persist("RingT", [{"id": i, "v": i} for i in range(25)])
        s.commit()
        ids = sorted(r["id"] for r in engine.table("RingT").collect())
        assert ids == list(range(15, 25))  # newest 10 by id
    finally:
        engine.drop_table("RingT")


def test_tombstones_hide_rows(spark, engine, fresh):
    s = engine.session()
    s.persist(fresh, [{"id": i, "val": i, "tag": "x"} for i in range(6)])
    s.commit()
    td = engine.catalog.get(fresh)
    dead = spark.createDataFrame([(2,), (4,)], "id long")
    store.add_tombstones(spark, td, dead)
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == [0, 1, 3, 5]
    store.compact(spark, td)
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == [0, 1, 3, 5]
    assert not store._tombstone_parts(td)


def test_persist_to_external_rejected(session):
    with pytest.raises(errors.InvalidParameter):
        session.persist("region", {"r_regionkey": 99, "r_name": "X"})


def _drop_tag_b():
    # defined in function scope → cloudpickle ships the class by value,
    # so Python workers don't need the test module importable
    class DropTagB:
        def process(self, row) -> bool:
            return True

        def delete(self) -> bool:
            return True

    return DropTagB


def _count_only():
    class CountOnly:
        def process(self, row) -> bool:
            return True

        def delete(self) -> bool:
            return False

    return CountOnly


def test_process_within_deletes(session, engine, fresh):
    session.persist(fresh, [
        {"id": i, "val": i, "tag": "b" if i % 2 else "a"} for i in range(10)
    ])
    session.commit()
    engine.register_processor("DropTagB", _drop_tag_b())
    res = session.execute(f"process {fresh} t within DropTagB where t.tag = 'b'")
    assert res.processed == 5 and res.deleted == 5
    remaining = engine.table(fresh)
    assert remaining.count() == 5
    assert all(r["tag"] == "a" for r in remaining.collect())


def test_process_without_delete(session, engine, fresh):
    session.persist(fresh, [{"id": i, "val": i, "tag": "a"} for i in range(4)])
    session.commit()
    engine.register_processor("CountOnly", _count_only())
    res = session.execute(f"process {fresh} t within CountOnly")
    assert res.processed == 4 and res.deleted == 0
    assert engine.table(fresh).count() == 4


def test_process_unknown_processor(session, engine, fresh):
    with pytest.raises(errors.InvalidParameter):
        session.execute(f"process {fresh} t within NoSuchProcessor")


def test_with_unique_id_is_unique(spark):
    from interference_spark.dml.ids import with_unique_id

    df = with_unique_id(spark.range(0, 5000).repartition(8), "uid")
    assert df.select("uid").distinct().count() == 5000


def test_with_sequential_id_is_dense(spark):
    from interference_spark.dml.ids import with_sequential_id

    df = with_sequential_id(spark.range(0, 1000).repartition(8), "sid", start=1)
    got = sorted(r.sid for r in df.collect())
    assert got == list(range(1, 1001))


def test_targeted_upsert_rewrites_only_affected_parts(spark, tmp_path):
    """A DataFrame upsert (located scan): parts whose id range the upsert
    does not touch must keep their original file, byte for byte."""
    import os

    from interference_spark import Engine
    from interference_spark.dml import store

    eng = Engine(spark=spark, warehouse=str(tmp_path / "wh"))
    td = eng.register_table("kv", "id long, val long", id_col="id")
    for start in (0, 100, 200):  # 3 id-clustered parts, one file each
        store.append_rows(td, [{"id": i, "val": i} for i in range(start, start + 100)])
    before = {f: os.path.getmtime(f) for f in store._parts(td)}
    assert len(before) == 3
    new = spark.createDataFrame([(250, -1), (300, -2)], "id long, val long")
    store.upsert(spark, td, new)
    after = set(store._parts(td))
    untouched = {f for f, m in before.items() if f in after}
    # the two parts not containing id 250 survive physically
    assert len(untouched) == 2
    rows = {(r.id, r.val) for r in eng.table("kv").collect()}
    assert (250, -1) in rows and (300, -2) in rows and (250, 250) not in rows
    assert len(rows) == 301


def test_persist_null_id_rejected(engine):
    """@Id is mandatory and non-null (manual 'Persistent operations'): a
    null id could never be found or updated again."""
    from interference_spark import errors

    engine.register_table("nn_t", "id long, v string", id_col="id")
    s = engine.session()
    try:
        with pytest.raises(errors.NotNullViolation):
            s.persist("nn_t", {"v": "no-id"})
        with pytest.raises(errors.NotNullViolation):
            s.persist("nn_t", [{"id": 1, "v": "ok"}, {"id": None, "v": "bad"}])
        # nothing staged from the failed batches
        s.persist("nn_t", {"id": 7, "v": "good"})
        s.commit()
        assert [r.id for r in engine.table("nn_t").collect()] == [7]
    finally:
        s.close()


def test_persist_df_null_id_rejected(engine, spark):
    from interference_spark import errors

    engine.register_table("nn_df_t", "id long, v long", id_col="id")
    s = engine.session()
    try:
        bad = spark.createDataFrame([(1, 10), (None, 20)], "id long, v long")
        with pytest.raises(errors.NotNullViolation):
            s.persist_df("nn_df_t", bad)
        assert engine.table("nn_df_t").count() == 0
        s.persist_df("nn_df_t", spark.createDataFrame([(1, 10)], "id long, v long"))
        assert engine.table("nn_df_t").count() == 1
    finally:
        s.close()


# ---- ADVICE r01 regressions -------------------------------------------------


def test_persist_then_delete_same_txn(session, engine, fresh):
    """Staged ops replay in staging order (reference applies transactional
    ops in order): persist(x); delete(x.id); commit → row gone."""
    session.persist(fresh, {"id": 1, "val": 10, "tag": "a"})
    session.delete(fresh, 1)
    session.commit()
    assert engine.table(fresh).count() == 0


def test_delete_then_persist_same_txn(session, engine, fresh):
    session.persist(fresh, {"id": 1, "val": 10, "tag": "old"})
    session.commit()
    session.delete(fresh, 1)
    session.persist(fresh, {"id": 1, "val": 99, "tag": "new"})
    session.commit()
    rows = engine.table(fresh).collect()
    assert len(rows) == 1 and rows[0]["tag"] == "new"


def test_delete_leaves_other_parts_untouched(session, engine, fresh):
    """Commit-time deletes are tombstone-routed: a small delete on a
    multi-part table must not rewrite ANY existing part file (at 100 TB a
    10-row delete must never rewrite the table)."""
    import hashlib
    import os

    td = engine.catalog.get(fresh)
    # three direct appends → three id-clustered part files (the MERGE path
    # now sizes its output to ~128 MB parts, so repeated small commits
    # correctly collapse to ONE part — build the multi-part layout via the
    # blind-append path instead, as a partitioned ingest would)
    for start in (0, 10, 20):
        store.append_rows(
            td,
            [{"id": start + i, "val": start + i, "tag": "x"} for i in range(10)],
        )
    parts_before = {
        p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in store._parts(td)
    }
    assert len(parts_before) >= 2
    session.delete(fresh, 5)
    session.delete(fresh, 15)
    session.commit()
    parts_after = {
        p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in store._parts(td)
    }
    assert parts_after == parts_before  # byte-identical, nothing rewritten
    assert os.path.isdir(store._tombstone_dir(td))
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == sorted(
        set(range(30)) - {5, 15}
    )
    # re-inserting a tombstoned id must resurrect the row (upsert compacts)
    session.persist(fresh, {"id": 5, "val": 555, "tag": "back"})
    session.commit()
    rows = {r["id"]: r["val"] for r in engine.table(fresh).collect()}
    assert rows[5] == 555 and 15 not in rows


def test_commit_and_find_job_budget(spark, session, engine, fresh):
    """Spark jobs per step, counted over the DAG scheduler's job ids: an
    insert-only commit of ids above every part's id range runs none (footer
    statistics rule the parts out; the staged batch becomes a part by
    rename), an update commit at most two (the broadcast batch ids and the
    one MERGE write), and a find on a table with tombstones at most two
    (the tombstone broadcast and the lookup: no schema inference, no
    distinct)."""
    sc = spark.sparkContext._jsc.sc()

    def jobs(step):
        first = int(sc.dagScheduler().nextJobId())
        out = step()
        return int(sc.dagScheduler().nextJobId()) - first, out

    def commit(ids, val):
        session.persist(fresh, [{"id": i, "val": val, "tag": "x"} for i in ids])
        session.commit()

    commit(range(100), 0)
    session.delete(fresh, 7)
    session.commit()
    assert jobs(lambda: commit(range(100, 110), 1))[0] == 0
    assert jobs(lambda: commit([3, 200], 2))[0] <= 2
    n, row = jobs(lambda: session.find(fresh, 3))
    assert n <= 2 and (row["id"], row["val"]) == (3, 2)
    rows = {r["id"]: r["val"] for r in engine.table(fresh).collect()}
    assert rows == {
        **{i: 0 for i in range(100) if i not in (3, 7)},
        **{i: 1 for i in range(100, 110)},
        3: 2,
        200: 2,
    }


def test_tombstone_scan_is_one_partition(spark, session, engine, fresh):
    """Commit-time deletes write one small tombstone file each; a read packs
    them into one partition, so it runs as many tasks after four delete
    commits as after one."""
    sc = spark.sparkContext._jsc.sc()
    td = engine.catalog.get(fresh)

    def tasks_of_read():
        first = int(sc.dagScheduler().nextJobId())
        rows = store.read_managed(spark, td).collect()
        end = int(sc.dagScheduler().nextJobId())
        sc.listenerBus().waitUntilEmpty()
        stages = set()
        for jid in range(first, end):
            ids = sc.statusStore().job(jid).stageIds()
            stages.update(int(ids.apply(i)) for i in range(ids.length()))
        n = 0
        for sid in stages:
            st = sc.statusStore().lastStageAttempt(sid)
            if st.status().toString() != "SKIPPED":
                n += int(st.numTasks())
        return n, sorted(r["id"] for r in rows)

    session.persist(fresh, [{"id": i, "val": i, "tag": "x"} for i in range(20)])
    session.commit()
    session.delete(fresh, 0)
    session.commit()
    one, ids = tasks_of_read()
    assert ids == list(range(1, 20))
    for i in (1, 2, 3):
        session.delete(fresh, i)
        session.commit()
    assert len(store._tombstone_parts(td)) == 4
    assert tasks_of_read() == (one, list(range(4, 20)))


def test_upsert_rewrites_only_the_tombstone_files_holding_its_ids(
    spark, session, engine, fresh
):
    """Re-inserting deleted ids, from driver rows and from a DataFrame,
    rewrites only the tombstone files that hold them: the rows come back,
    the other tombstone file stays, and a snapshot taken before the
    re-inserts still hides the deleted rows (the retired tombstone files
    are archived)."""
    td = engine.catalog.get(fresh)
    session.persist(fresh, [{"id": i, "val": i, "tag": "x"} for i in range(10)])
    session.commit()
    for i in (2, 5, 50):  # one tombstone file each; no part holds id 50
        session.delete(fresh, i)
        session.commit()
    tombs = store._tombstone_parts(td)
    assert len(tombs) == 3
    sid = engine.snapshot_table(fresh)
    session.persist(fresh, {"id": 50, "val": -50, "tag": "rows"})
    session.commit()
    session.persist_df(
        fresh, spark.createDataFrame([(2, -2, "df")], "id long, val long, tag string")
    )
    left = store._tombstone_parts(td)
    assert len(left) == 1 and left[0] in tombs  # the file holding 5
    rows = {r["id"]: r["val"] for r in engine.table(fresh).collect()}
    assert rows == {**{i: i for i in range(10) if i != 5}, 2: -2, 50: -50}
    asof = {r["id"] for r in engine.read_table_snapshot(fresh, sid).collect()}
    assert asof == set(range(10)) - {2, 5}
    engine.drop_table_snapshot(fresh, sid)


def test_footer_pruning_counts_unknowns_as_may_hold(tmp_path):
    """``store._may_hold`` rules a file out only on footer min/max: each
    batch id is tested against each row group's range, and a file without
    statistics, with floating-point ids or without the id column, or ids
    that do not compare with the statistics, count as "may hold"."""
    import types

    import pyarrow as pa
    import pyarrow.parquet as pq

    td = types.SimpleNamespace(id_col="id")

    def write(name, table, **kw):
        path = str(tmp_path / name)
        pq.write_table(table, path, **kw)
        return path

    ints = pa.table({"id": list(range(10)) + list(range(100, 110))})
    two_groups = write("ints.parquet", ints, row_group_size=10)
    assert pq.read_metadata(two_groups).num_row_groups == 2
    held = lambda path, ids: store._may_hold(td, path, ids)  # noqa: E731
    assert held(two_groups, [5]) and held(two_groups, [50, 105])
    assert not held(two_groups, [50]) and not held(two_groups, [-1, 200])
    assert not held(two_groups, [])
    assert held(two_groups, ["a"])  # ids that do not compare with ints
    assert held(two_groups, None)  # ids that do not compare with each other
    assert held(write("nostats.parquet", ints, write_statistics=False), [50])
    floats = pa.table({"id": [0.0, 1.0]})
    assert held(write("floats.parquet", floats), [50.0])
    assert held(write("noid.parquet", pa.table({"x": [1]})), [50])
    strs = write("strs.parquet", pa.table({"id": ["a", "c", "f"]}))
    assert held(strs, ["b"]) and not held(strs, ["m"])


def test_tombstone_compaction_trigger(session, engine, fresh):
    """Tombstone files past MAX_TOMBSTONE_FILES trigger a physical compact:
    the anti-join build side stays bounded."""
    td = engine.catalog.get(fresh)
    n = store.MAX_TOMBSTONE_FILES + 2
    session.persist(
        fresh, [{"id": i, "val": i, "tag": "x"} for i in range(n + 5)]
    )
    session.commit()
    for i in range(n):  # one tombstone file per commit
        session.delete(fresh, i)
        session.commit()
    # compaction fired at the MAX_TOMBSTONE_FILES-th delete and cleared the
    # backlog; only the post-compaction deletes' files may remain
    remaining = store._tombstone_parts(td)
    assert len(remaining) == n - store.MAX_TOMBSTONE_FILES
    assert sorted(r["id"] for r in engine.table(fresh).collect()) == list(
        range(n, n + 5)
    )


def test_process_string_id(session, engine):
    """PROCESS on a table whose @Id is a string — the __id output field must
    carry the table's own id DataType, not a hardcoded LongType."""

    def make():
        class DropB:
            def process(self, row) -> bool:
                return True

            def delete(self) -> bool:
                return True

        return DropB

    engine.register_table("strid_t", "id string, v long", id_col="id")
    try:
        session.persist(
            "strid_t",
            [{"id": f"k{i}", "v": i} for i in range(6)],
        )
        session.commit()
        engine.register_processor("DropVOdd", make())
        res = session.execute(
            "process strid_t t within DropVOdd where t.v > 3"
        )
        assert res.processed == 2 and res.deleted == 2
        left = sorted(r["id"] for r in engine.table("strid_t").collect())
        assert left == ["k0", "k1", "k2", "k3"]
    finally:
        engine.drop_table("strid_t")


def test_reregister_different_options_raises(engine):
    """Re-registration is a no-op only when the FULL definition matches —
    nocheck/threshold/indexes/partition_cols included."""
    from interference_spark.errors import InvalidTableDescription

    engine.register_table("rr_t", "id long, v long", id_col="id")
    try:
        # identical definition → idempotent no-op
        engine.register_table("rr_t", "id long, v long", id_col="id")
        with pytest.raises(InvalidTableDescription):
            engine.register_table("rr_t", "id long, v long", id_col="id", nocheck=True)
        with pytest.raises(InvalidTableDescription):
            engine.register_table("rr_t", "id long, v long", id_col="id", threshold=100)
        with pytest.raises(InvalidTableDescription):
            engine.register_table(
                "rr_t", "id long, v long", id_col="id", partition_cols=("v",)
            )
    finally:
        engine.drop_table("rr_t")


def test_cluster_table_disjoint_file_stats(engine, spark):
    """OPTIMIZE...CLUSTER BY: after clustering on id, per-file [min,max] id
    ranges are pairwise disjoint (=> parquet stats skip whole files for
    point/range predicates) and content is unchanged."""
    import pyarrow.parquet as pq

    from interference_spark.dml import store

    td = engine.register_table(
        "clus", "id long, v long", id_col="id", nocheck=True
    )
    try:
        # four appends, each spanning the whole id domain -> every file
        # overlaps every other before clustering
        for k in range(4):
            store.append_rows(
                td, [{"id": i * 4 + k, "v": i} for i in range(500)]
            )
        before = sorted(r["id"] for r in engine.table("clus").collect())

        def ranges():
            out = []
            for f in store._parts(td):
                md = pq.read_metadata(f)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(0)
                    assert col.path_in_schema == "id"
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
                out.append((min(mins), max(maxs)))
            return sorted(out)

        pre = ranges()
        overlaps = sum(
            1
            for i in range(len(pre))
            for j in range(i + 1, len(pre))
            if pre[i][1] >= pre[j][0] and pre[j][1] >= pre[i][0]
        )
        assert overlaps > 0  # the un-clustered layout really does overlap

        store.cluster_table(spark, td, ("id",), n_parts=4)
        post = ranges()
        assert len(post) >= 2
        for (lo1, hi1), (lo2, hi2) in zip(post, post[1:]):
            assert hi1 < lo2  # pairwise disjoint, strictly ordered
        after = sorted(r["id"] for r in engine.table("clus").collect())
        assert after == before
    finally:
        engine.drop_table("clus")


def test_add_column_schema_evolution(engine, spark):
    """ALTER TABLE ADD COLUMN is metadata-only: old part files are not
    rewritten (byte-identical), old rows read the new column as null, new
    rows carry it, and the widened schema survives an engine restart."""
    from interference_spark import Engine
    from interference_spark.dml import store
    from interference_spark.errors import InvalidTableDescription

    td = engine.register_table(
        "evo", "id long, v long", id_col="id", nocheck=True
    )
    try:
        store.append_rows(td, [{"id": 1, "v": 10}, {"id": 2, "v": 20}])
        old_parts = {
            p: open(p, "rb").read() for p in store._parts(td)
        }
        td2 = engine.add_column("evo", "tag string")
        assert [f.name for f in td2.require_schema().fields] == ["id", "v", "tag"]
        # no rewrite
        assert {p: open(p, "rb").read() for p in store._parts(td2)} == old_parts
        # old rows: null tag; new rows carry it
        store.append_rows(td2, [{"id": 3, "v": 30, "tag": "x"}])
        got = {r["id"]: (r["v"], r["tag"]) for r in engine.table("evo").collect()}
        assert got == {1: (10, None), 2: (20, None), 3: (30, "x")}
        # durable across engine restart on the same warehouse
        eng2 = Engine(spark=spark, warehouse=engine.warehouse)
        assert [
            f.name for f in eng2.catalog.get("evo").require_schema().fields
        ] == ["id", "v", "tag"]
        # validations
        import pytest as _pytest

        with _pytest.raises(InvalidTableDescription):
            engine.add_column("evo", "v long")  # duplicate
        with _pytest.raises(InvalidTableDescription):
            engine.add_column("nation", "x long")  # external
    finally:
        engine.drop_table("evo")


def test_alter_table_system_statement(engine, session):
    from interference_spark.dml import store
    from interference_spark.errors import InvalidSQLStatement

    td = engine.register_table(
        "evo2", "id long, v long", id_col="id", nocheck=True
    )
    try:
        store.append_rows(td, [{"id": 1, "v": 10}])
        res = session.execute("ALTER TABLE evo2 ADD COLUMN note string")
        assert "note" in res.message
        assert [f.name for f in engine.catalog.get("evo2").require_schema().fields] == [
            "id", "v", "note",
        ]
        import pytest as _pytest

        with _pytest.raises(InvalidSQLStatement):
            session.execute("ALTER TABLE evo2 DROP COLUMN v")
    finally:
        engine.drop_table("evo2")


def test_vacuum_removes_crash_debris(engine, spark):
    import os

    from interference_spark.dml import store

    td = engine.register_table(
        "vac", "id long, v long", id_col="id", nocheck=True
    )
    try:
        store.append_rows(td, [{"id": 1, "v": 1}])
        # simulate a writer that died between write and rename
        os.makedirs(td.path + ".tmp-deadbeef", exist_ok=True)
        open(os.path.join(td.path + ".tmp-deadbeef", "part-x.parquet"), "wb").close()
        open(os.path.join(td.path, ".part-dead.parquet.tmp"), "wb").close()
        os.makedirs(os.path.join(td.path, "_tombstones"), exist_ok=True)
        open(os.path.join(td.path, "_tombstones", ".ts-dead.parquet.tmp"), "wb").close()
        before = engine.table("vac").count()  # debris is invisible to reads
        assert before == 1
        assert store.vacuum(td) == 3
        assert not os.path.exists(td.path + ".tmp-deadbeef")
        assert engine.table("vac").count() == 1
        assert store.vacuum(td) == 0  # idempotent
    finally:
        engine.drop_table("vac")


def test_upsert_does_not_grow_part_count(session, engine, fresh):
    """Repeated MERGE commits must keep the table's file count sized to its
    bytes (~128 MB target parts), not to the plan's task count — without
    output sizing every upsert multiplied the file count and commit latency
    grew 1.5 s → 4.2 s between two identical upserts."""
    from interference_spark.dml import store

    td = engine.catalog.get(fresh)
    for trial in range(4):
        session.persist(
            fresh,
            [{"id": i, "val": trial * 100 + i, "tag": "t"} for i in range(50)],
        )
        session.commit()
        assert len(store._parts(td)) == 1, f"trial {trial} grew the table"
    rows = {r["id"]: r["val"] for r in engine.table(fresh).collect()}
    assert rows == {i: 300 + i for i in range(50)}


def test_lock_advisory_row_and_table(session, engine, fresh):
    """D7 session.lock: mutual exclusion between sessions, no-op re-lock,
    release on commit AND rollback, vacuum clears crash leftovers."""
    import os

    from interference_spark import errors

    other = engine.session()
    session.persist(fresh, {"id": 1, "val": 1, "tag": "x"})
    session.commit()

    session.lock(fresh, 1)
    session.lock(fresh, 1)  # re-lock by holder: no-op
    with pytest.raises(errors.UnableToLockTableForProcess):
        other.lock(fresh, 1)
    other.lock(fresh, 2)  # different row: fine
    other.rollback()  # releases row 2

    session.persist(fresh, {"id": 1, "val": 99, "tag": "y"})
    session.commit()  # applies AND releases row 1
    other.lock(fresh, 1)  # now acquirable
    other.rollback()

    # whole-table lock
    session.lock(fresh)
    with pytest.raises(errors.UnableToLockTableForProcess):
        other.lock(fresh)
    session.rollback()
    other.lock(fresh)
    other.rollback()

    # crashed-writer leftovers → vacuum
    session.lock(fresh, 7)
    td = engine.catalog.get(fresh)
    assert store.vacuum(td) >= 1
    session._locks.clear()  # the file is gone; drop the stale handle
    other.lock(fresh, 7)
    other.rollback()

    # external tables cannot be locked
    with pytest.raises(errors.InvalidParameter):
        session.lock("region")


def test_table_manifest_digests(spark, engine, fresh):
    """Manifest rows match an independent pyarrow/hashlib recomputation and
    cover exactly the live parts."""
    import hashlib
    import os

    from interference_spark.dml import store

    td = engine.catalog.get(fresh)
    for start in (0, 10):
        store.append_rows(
            td, [{"id": start + i, "val": i, "tag": "m"} for i in range(10)]
        )
    got = {r["file"]: r for r in store.table_manifest(spark, td).collect()}
    parts = store._parts(td)
    assert set(got) == {os.path.basename(p) for p in parts}
    for p in parts:
        b = open(p, "rb").read()
        r = got[os.path.basename(p)]
        assert r["n_bytes"] == len(b)
        assert r["digest"] == hashlib.md5(b).hexdigest()
        assert r["n_rows"] == 10


def test_zorder_tightens_stats_in_all_dimensions(engine, spark):
    """ZORDER BY (x, y): after clustering, every file's [min,max] range is
    a small fraction of the global domain on BOTH columns — which
    single-column clustering cannot give for the second column."""
    import pyarrow.parquet as pq

    from interference_spark.dml import store

    td = engine.register_table(
        "zo", "id long, x long, y long", id_col="id", nocheck=True
    )
    try:
        # x and y independent, both spanning [0, 256)
        rows = [
            {"id": i, "x": (i * 17) % 256, "y": (i * 101) % 256}
            for i in range(8192)
        ]
        for s in range(0, 8192, 2048):
            store.append_rows(td, rows[s : s + 2048])
        before = sorted((r["id"], r["x"], r["y"]) for r in engine.table("zo").collect())

        store.cluster_table_zorder(spark, td, ("x", "y"), n_parts=16)

        def spans(col_idx):
            out = []
            for f in store._parts(td):
                md = pq.read_metadata(f)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    c = md.row_group(rg).column(col_idx)
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
                out.append(max(maxs) - min(mins))
            return out

        parts = store._parts(td)
        assert len(parts) == 16
        x_spans, y_spans = spans(1), spans(2)
        # 16 files over a 2-D 256x256 domain: most files are ~tile-sized in
        # BOTH dims; a few straddle a high-order curve bit and span wider
        # (inherent to z-order). Assert the distribution, not the max:
        # average well under half the domain per dim, and ≥3/4 of files at
        # most half. Unclustered files span ~the full 255 in both dims.
        for sp in (x_spans, y_spans):
            assert sum(sp) / len(sp) <= 128, sp
            assert sum(1 for s in sp if s <= 128) >= 12, sp
        after = sorted((r["id"], r["x"], r["y"]) for r in engine.table("zo").collect())
        assert after == before  # content preserved
    finally:
        engine.drop_table("zo")


def test_targeted_upsert_in_warehouse_with_spaces(spark, tmp_path):
    """input_file_name() returns percent-encoded URIs; the targeted MERGE
    must still locate affected parts when the warehouse path needs
    encoding — a miss would silently produce duplicate @Id rows."""
    from interference_spark import Engine
    from interference_spark.dml import store

    eng = Engine(spark=spark, warehouse=str(tmp_path / "ware house ü"))
    td = eng.register_table("kvs", "id long, val long", id_col="id")
    for start in (0, 100, 200):
        store.append_rows(td, [{"id": i, "val": i} for i in range(start, start + 100)])
    new = spark.createDataFrame([(150, -1)], "id long, val long")
    store.upsert(spark, td, new)
    rows = eng.table("kvs").filter("id = 150").collect()
    assert [(r["id"], r["val"]) for r in rows] == [(150, -1)]  # ONE row, updated
    assert eng.table("kvs").count() == 300


def test_snapshot_time_travel_survives_rewrites(session, engine, fresh):
    """A snapshot keeps returning the AS-OF contents across upsert
    rewrites, compaction, and deletes; appends after the snapshot are
    invisible to it; dropping the snapshot reclaims archived files."""
    import glob
    import os

    td = engine.catalog.get(fresh)
    session.persist(fresh, [{"id": i, "val": i, "tag": "a"} for i in range(10)])
    session.commit()
    sid = engine.snapshot_table(fresh)
    asof = {(r.id, r.val) for r in engine.read_table_snapshot(fresh, sid).collect()}
    assert asof == {(i, i) for i in range(10)}

    # append after snapshot → invisible to the snapshot, visible live
    session.persist(fresh, [{"id": 100, "val": 100, "tag": "b"}])
    session.commit()
    # upsert rewrite of existing rows + delete + compaction
    session.persist(fresh, [{"id": 3, "val": -3, "tag": "c"}])
    session.commit()
    session.execute(f"select t.id from {fresh} t")  # sanity: still queryable
    store.compact(engine.spark, td)
    store.overwrite(td, engine.table(fresh))  # full rewrite

    live = {(r.id, r.val) for r in engine.table(fresh).collect()}
    assert (3, -3) in live and (100, 100) in live
    again = {(r.id, r.val) for r in engine.read_table_snapshot(fresh, sid).collect()}
    assert again == asof, "snapshot must be immutable across rewrites"

    # second snapshot sees the new state
    sid2 = engine.snapshot_table(fresh)
    now = {(r.id, r.val) for r in engine.read_table_snapshot(fresh, sid2).collect()}
    assert now == live

    archive = os.path.join(td.path, "_archive", "*.parquet")
    assert glob.glob(archive), "rewrites must archive pinned files"
    engine.drop_table_snapshot(fresh, sid)
    engine.drop_table_snapshot(fresh, sid2)
    assert not glob.glob(archive), "dropping all snapshots reclaims archive"
    with pytest.raises(errors.SnapshotUnavailable):
        engine.read_table_snapshot(fresh, sid)


def test_snapshot_delete_tombstones_visibility(session, engine, fresh):
    """Deletes after a snapshot (tombstone path) don't affect the
    snapshot; a snapshot taken after the delete excludes the row even
    though the part file still physically contains it."""
    session.persist(fresh, [{"id": i, "val": i, "tag": "a"} for i in range(5)])
    session.commit()
    s1 = engine.snapshot_table(fresh)
    session.delete(fresh, 2)
    session.commit()
    s2 = engine.snapshot_table(fresh)
    ids1 = {r.id for r in engine.read_table_snapshot(fresh, s1).collect()}
    ids2 = {r.id for r in engine.read_table_snapshot(fresh, s2).collect()}
    assert ids1 == {0, 1, 2, 3, 4}
    assert ids2 == {0, 1, 3, 4}


def test_snapshot_system_statements(session, engine, fresh):
    session.persist(fresh, [{"id": 1, "val": 1, "tag": "x"}])
    session.commit()
    res = session.execute(f"SNAPSHOT TABLE {fresh}")
    assert "snapshot 1" in res.message
    assert engine.table_snapshots(fresh)[0]["id"] == 1
    res = session.execute(f"DROP SNAPSHOT {fresh} 1")
    assert "dropped" in res.message
    assert engine.table_snapshots(fresh) == []


def test_snapshot_changes_cdc_diff(session, engine, fresh):
    """table_changes classifies insert/update/delete between snapshots and
    drops unchanged rows; compaction between the snapshots must not
    surface phantom churn."""
    session.persist(fresh, [{"id": i, "val": i, "tag": "a"} for i in range(6)])
    session.commit()
    s1 = engine.snapshot_table(fresh)
    session.persist(fresh, [{"id": 9, "val": 90, "tag": "n"}])   # insert
    session.persist(fresh, [{"id": 2, "val": -2, "tag": "a"}])   # update
    session.commit()
    session.delete(fresh, 4)                                      # delete
    session.commit()
    td = engine.catalog.get(fresh)
    store.compact(engine.spark, td)  # rewrite between the snapshots
    s2 = engine.snapshot_table(fresh)
    got = {
        (r[0], r["op"]) for r in engine.table_changes(fresh, s1, s2).collect()
    }
    assert got == {(9, "insert"), (2, "update"), (4, "delete")}
    engine.drop_table_snapshot(fresh, s1)
    engine.drop_table_snapshot(fresh, s2)


def test_join_view_incremental_matches_full_recompute(session, engine):
    """Delta-join refresh: appends to either side refresh at O(delta) and
    the view always equals a from-scratch join; rewrites/deletes trigger
    the rebuild fallback and stay correct."""
    import uuid as _uuid

    ln = f"L{_uuid.uuid4().hex[:8]}"
    rn = f"R{_uuid.uuid4().hex[:8]}"
    # nocheck → blind append (the append-only premise of the delta join);
    # id-merge persist rewrites part files, which correctly forces rebuild
    engine.register_table(ln, "k long, lv long", id_col="k", nocheck=True)
    engine.register_table(rn, "k long, rv string", id_col="k", nocheck=True)
    try:
        session.persist(ln, [{"k": i, "lv": i * 10} for i in range(5)])
        session.persist(rn, [{"k": i, "rv": f"r{i}"} for i in range(3)])
        session.commit()
        res = engine.create_join_view("v1", ln, rn, ["k"])
        assert res["mode"] == "initial"

        def expected():
            return {
                tuple(r)
                for r in engine.table(ln).join(engine.table(rn), "k").collect()
            }

        def got():
            return {tuple(r) for r in engine.join_view("v1").collect()}

        assert got() == expected() and len(got()) == 3

        # appends on both sides, including a new x new match (k=7)
        session.persist(ln, [{"k": 7, "lv": 70}])
        session.persist(rn, [{"k": 3, "rv": "r3"}, {"k": 7, "rv": "r7"}])
        session.commit()
        res = engine.refresh_join_view("v1")
        assert res["mode"] == "incremental"
        assert got() == expected() and len(got()) == 5
        assert engine.refresh_join_view("v1")["mode"] == "noop"

        # delete on the right side → rebuild fallback
        session.delete(rn, 0)
        session.commit()
        res = engine.refresh_join_view("v1")
        assert res["mode"] == "rebuild"
        assert got() == expected() and len(got()) == 4

        # append another left row (duplicate key under nocheck): the
        # incremental path must join it against the full right side
        session.persist(ln, [{"k": 1, "lv": -1}])
        session.commit()
        res = engine.refresh_join_view("v1")
        assert res["mode"] == "incremental"
        assert got() == expected()
        assert (1, -1, "r1") in got()
        # physical rewrite (compaction applies left tombstones) → rebuild
        session.delete(ln, 0)
        session.commit()
        store.compact(engine.spark, engine.catalog.get(ln))
        res = engine.refresh_join_view("v1")
        assert res["mode"] == "rebuild"
        assert got() == expected()
    finally:
        engine.drop_join_view("v1")
        engine.drop_table(ln)
        engine.drop_table(rn)


def test_snapshot_ids_never_recycled(session, engine, fresh):
    """Dropping the newest snapshot must not let its id be re-issued for a
    different table state (stale consumer ids must raise, not resolve)."""
    session.persist(fresh, [{"id": 1, "val": 1, "tag": "a"}])
    session.commit()
    s1 = engine.snapshot_table(fresh)
    s2 = engine.snapshot_table(fresh)
    engine.drop_table_snapshot(fresh, s2)
    session.persist(fresh, [{"id": 2, "val": 2, "tag": "b"}])
    session.commit()
    s3 = engine.snapshot_table(fresh)
    assert s3 > s2, "ids must be monotonic, never recycled"
    with pytest.raises(errors.SnapshotUnavailable):
        engine.read_table_snapshot(fresh, s2)
    engine.drop_table_snapshot(fresh, s1)
    engine.drop_table_snapshot(fresh, s3)
