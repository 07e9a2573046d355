"""CDC snapshot materialization (operators/cdc.py): latest row per key,
delete tombstones dropped — end-to-end through the real Avro convert path
and directly over constructed envelope DataFrames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.operators import cdc
from muninn_avro_to_parquet_spark.sources import avro_io, avro_source
from tests.conftest import CDC_SCHEMA


def _change(uuid, tx_id, lsn, change_type, rid, name, deleted=False):
    return {
        "uuid": uuid,
        "read_timestamp": tx_id,
        "sort_keys": [],
        "source_metadata": {
            "schema": "public",
            "table": "accounts",
            "is_deleted": deleted,
            "change_type": change_type,
            "tx_id": tx_id,
            "lsn": lsn,
            "primary_keys": ["id"],
        },
        "payload": {
            "id": rid,
            "name": name,
            "age": 30,
            "balance": (10**29).to_bytes(16, "big", signed=True),
            "score": 1.0,
            "active": True,
            "created_at": 1_700_000_000_000_000,
            "updated_at": 1_700_000_000_000,
            "birth_date": 8000,
            "tags": [],
            "attrs": {},
        },
    }


def test_cdc_snapshot_end_to_end(spark, tmp_path):
    """insert → update → delete / re-insert sequences through the real
    Avro codec + distributed decode, then snapshot."""
    base = tmp_path / "avro" / "accounts"
    base.mkdir(parents=True)
    recs = [
        # key 1: insert then update — snapshot keeps the update
        _change("a", 100, "0/1", "INSERT", 1, "one_v1"),
        _change("b", 101, "0/2", "UPDATE", 1, "one_v2"),
        # key 2: insert then delete — vanishes from the snapshot
        _change("c", 100, "0/3", "INSERT", 2, "two_v1"),
        _change("d", 102, "0/4", "DELETE", 2, "two_v1", deleted=True),
        # key 3: insert, delete, re-insert — resurrected row survives
        _change("e", 100, "0/5", "INSERT", 3, "three_v1"),
        _change("f", 101, "0/6", "DELETE", 3, "three_v1", deleted=True),
        _change("g", 103, "0/7", "INSERT", 3, "three_v2"),
        # same tx, lsn breaks the tie (update wins over the earlier lsn)
        _change("h", 104, "0/8", "INSERT", 4, "four_v1"),
        _change("i", 104, "0/9", "UPDATE", 4, "four_v2"),
    ]
    path = str(base / "f.avro")
    avro_io.write_file(path, CDC_SCHEMA, recs)

    df = avro_source.read_avro(spark, [path])
    snap = cdc.cdc_latest_snapshot(df, ["id"])
    state = {r["id"]: r["name"] for r in snap.collect()}
    assert state == {1: "one_v2", 3: "three_v2", 4: "four_v2"}

    # tombstones kept on request
    with_dead = cdc.cdc_latest_snapshot(df, ["id"], drop_deletes=False)
    assert {r["id"] for r in with_dead.collect()} == {1, 2, 3, 4}


def test_latest_per_key_null_order_and_ties(spark):
    df = spark.createDataFrame(
        [
            (1, None, 10, "oldest-null"),
            (1, 5, 11, "mid"),
            (1, 9, 12, "latest"),
            (2, None, 13, "only-null"),
        ],
        ["k", "ver", "seq", "tag"],
    )
    got = {
        r["k"]: r["tag"]
        for r in cdc.latest_per_key(df, ["k"], ["ver", "seq"]).collect()
    }
    # NULL order values sort oldest; a key with only NULL versions still
    # keeps its row (never silently dropped)
    assert got == {1: "latest", 2: "only-null"}


def test_snapshot_incremental_composition(spark, tmp_path):
    """latest(old_snapshot ∪ new_changes) == latest(all_changes) — the
    property that makes per-partition incremental compaction correct."""
    base = tmp_path / "avro"
    (base / "t").mkdir(parents=True)
    day1 = [
        _change("a", 100, "0/1", "INSERT", 1, "v1"),
        _change("b", 101, "0/2", "UPDATE", 1, "v2"),
        _change("c", 100, "0/3", "INSERT", 2, "x1"),
    ]
    day2 = [
        _change("d", 200, "0/4", "UPDATE", 1, "v3"),
        _change("e", 201, "0/5", "DELETE", 2, "x1", deleted=True),
    ]
    p1, p2 = str(base / "t" / "d1.avro"), str(base / "t" / "d2.avro")
    avro_io.write_file(p1, CDC_SCHEMA, day1)
    avro_io.write_file(p2, CDC_SCHEMA, day2)

    full = cdc.cdc_latest_snapshot(avro_source.read_avro(spark, [p1, p2]), ["id"])
    snap1 = cdc.cdc_latest_snapshot(
        avro_source.read_avro(spark, [p1]), ["id"], drop_deletes=False
    )
    incr = cdc.cdc_latest_snapshot(
        snap1.unionByName(
            avro_source.read_avro(spark, [p2]).select(*snap1.columns)
        ),
        ["id"],
    )
    assert sorted(r["id"] for r in full.collect()) == [1]
    assert {(r["id"], r["name"]) for r in incr.collect()} == {
        (r["id"], r["name"]) for r in full.collect()
    }


def _batch(spark, rows):
    """rows: (id, name, tx_id, lsn, deleted)"""
    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark import schema as S

    sch = T.StructType(
        [
            T.StructField("source_metadata", S.SOURCE_METADATA_TYPE, True),
            T.StructField("id", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
        ]
    )
    data = [
        (
            ("public", "t", d, "DELETE" if d else "UPDATE", tx, str(lsn), ["id"]),
            i,
            n,
        )
        for (i, n, tx, lsn, d) in rows
    ]
    return spark.createDataFrame(data, sch)


def test_materialize_snapshot_upsert_delete_idempotent(spark, tmp_path):
    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "tbl")
    assert C.read_snapshot(spark, tdir) is None

    b1 = _batch(spark, [(1, "a", 10, 1, False), (2, "b", 10, 2, False)])
    r1 = C.materialize_snapshot(spark, tdir, b1, ["id"])
    assert (r1.version, r1.rows) == (1, 2)

    # batch 2: update id=1, delete id=2, insert id=3
    b2 = _batch(
        spark,
        [(1, "a2", 20, 1, False), (2, "b", 20, 2, True), (3, "c", 20, 3, False)],
    )
    r2 = C.materialize_snapshot(spark, tdir, b2, ["id"])
    state = {
        r["id"]: r["name"] for r in C.read_snapshot(spark, tdir).collect()
    }
    assert r2.version == 2 and state == {1: "a2", 3: "c"}

    # re-applying batch 2 is a no-op on the state (at-least-once safe)
    r3 = C.materialize_snapshot(spark, tdir, b2, ["id"])
    state3 = {
        r["id"]: r["name"] for r in C.read_snapshot(spark, tdir).collect()
    }
    assert r3.version == 3 and state3 == state

    # keep_versions=2: v1 pruned after v3, v2 still readable
    import os

    assert not os.path.exists(f"{tdir}/v1")
    assert os.path.exists(f"{tdir}/v2")
    assert C.current_version(tdir) == 3


def test_materialize_snapshot_out_of_order_batch(spark, tmp_path):
    """A late-arriving batch with OLDER tx_ids cannot regress the state:
    the envelope order decides the winner, not arrival order."""
    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "tbl2")
    C.materialize_snapshot(spark, tdir, _batch(spark, [(1, "new", 30, 1, False)]), ["id"])
    C.materialize_snapshot(spark, tdir, _batch(spark, [(1, "stale", 10, 1, False)]), ["id"])
    state = {r["id"]: r["name"] for r in C.read_snapshot(spark, tdir).collect()}
    assert state == {1: "new"}


def test_materialize_snapshot_counts_rows_without_a_reread(spark, tmp_path):
    """``SnapshotResult.rows`` comes from an ``Observation`` on the
    version write, not from reading the new version back: a
    materialization over a previous snapshot runs 3 Spark jobs, and the
    read-back count added 3 more."""
    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "jobs")
    C.materialize_snapshot(spark, tdir, _batch(spark, [(1, "a", 10, 1, False)]), ["id"])
    b2 = _batch(spark, [(1, "a2", 20, 1, False), (2, "b", 20, 2, False)])
    sc = spark.sparkContext
    group = "materialize-snapshot-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = C.materialize_snapshot(spark, tdir, b2, ["id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert (result.version, result.rows) == (2, 2)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def test_snapshot_time_travel_and_evolution(spark, tmp_path):
    """Retained versions are readable as-of (time travel); a later batch
    with a NEW payload column evolves the schema — pre-existing rows
    carry NULL for it, like the conversion layer's drift merge."""
    import pytest
    from pyspark.sql import functions as F

    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "tt")
    C.materialize_snapshot(spark, tdir, _batch(spark, [(1, "a", 10, 1, False)]), ["id"])
    b2 = _batch(spark, [(2, "b", 20, 1, False)]).withColumn("email", F.lit("b@x.io"))
    C.materialize_snapshot(spark, tdir, b2, ["id"])

    # time travel: v1 has the old schema and only id=1
    v1 = C.read_snapshot(spark, tdir, version=1)
    assert [r["id"] for r in v1.collect()] == [1]
    assert "email" not in v1.columns

    # current: evolved schema, NULL backfill for the old row
    cur = {r["id"]: r for r in C.read_snapshot(spark, tdir).collect()}
    assert cur[1]["email"] is None and cur[2]["email"] == "b@x.io"

    with pytest.raises(FileNotFoundError):
        C.read_snapshot(spark, tdir, version=99)


def test_snapshot_concurrent_writer_detected(spark, tmp_path):
    """A pointer that moves while a materialization runs must abort the
    commit (publishing would silently drop the concurrent changes)."""
    import pytest

    from muninn_avro_to_parquet_spark import fs
    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "cc")
    C.materialize_snapshot(spark, tdir, _batch(spark, [(1, "a", 10, 1, False)]), ["id"])

    # simulate a racing writer: materialize reads the pointer three times
    # (previous-state read, v_prev, commit check) — let the COMMIT CHECK
    # observe a pointer another writer moved
    real_read_text = fs.read_text
    calls = {"n": 0}

    def racing_read_text(path):
        if path.endswith("_CURRENT"):
            calls["n"] += 1
            if calls["n"] >= 3:
                return "v7\n"  # the other writer got there first
        return real_read_text(path)

    import unittest.mock as mock

    with mock.patch.object(fs, "read_text", side_effect=racing_read_text):
        with pytest.raises(RuntimeError, match="concurrent materialization"):
            C.materialize_snapshot(
                spark, tdir, _batch(spark, [(2, "b", 20, 1, False)]), ["id"]
            )


def test_snapshot_diff_between_versions(spark, tmp_path):
    """Diff of two materialized versions reports exactly the added,
    removed, and changed keys — unchanged keys drop out, and the envelope
    (which advances every materialization) is excluded by default."""
    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "tbl")
    # v1: ids 1 (a), 2 (b), 3 (c)
    C.materialize_snapshot(
        spark,
        tdir,
        _batch(spark, [(1, "a", 10, 1, False), (2, "b", 10, 2, False), (3, "c", 10, 3, False)]),
        ["id"],
    )
    # v2: id 2 renamed, id 3 deleted, id 4 added, id 1 untouched
    C.materialize_snapshot(
        spark,
        tdir,
        _batch(spark, [(2, "B2", 20, 1, False), (3, "c", 20, 2, True), (4, "d", 20, 3, False)]),
        ["id"],
    )
    diff = C.snapshot_diff(spark, tdir, ["id"], v_from=1, v_to=2)
    got = {r["id"]: r for r in diff.collect()}
    assert set(got) == {2, 3, 4}
    assert got[2]["change_type"] == "changed"
    assert (got[2]["old_name"], got[2]["new_name"]) == ("b", "B2")
    assert got[3]["change_type"] == "removed"
    assert got[3]["new_name"] is None
    assert got[4]["change_type"] == "added"
    assert got[4]["old_name"] is None


def test_dataframe_diff_null_safe_compare(spark):
    """NULL-to-NULL payloads compare equal (unchanged, not 'changed');
    NULL-to-value flips to 'changed' — the eqNullSafe contract."""
    from muninn_avro_to_parquet_spark.operators import cdc as C

    old = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    new = spark.createDataFrame([(1, None), (2, "x")], "id long, v string")
    got = {r["id"]: r for r in C.dataframe_diff(old, new, ["id"]).collect()}
    assert set(got) == {2}
    assert got[2]["change_type"] == "changed"


def test_merge_upsert_truth_table(spark):
    """All four MERGE branches in one pass: matched-update, matched-delete,
    source-only insert, target-only untouched — plus the two contract
    corners: a delete for an absent key is a no-op, and inserted rows get
    NULL for target-only columns."""
    from muninn_avro_to_parquet_spark.operators import cdc as C

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, name string, extra int",
    )
    source = spark.createDataFrame(
        [
            (1, "A", False),   # matched update
            (2, "b", True),    # matched delete
            (4, "d", False),   # not matched insert
            (9, "z", True),    # delete for absent key: no-op
        ],
        "id long, name string, is_del boolean",
    )
    got = {
        r["id"]: r
        for r in C.merge_upsert(
            target, source, ["id"], update_cols=["name"], delete_col="is_del"
        ).collect()
    }
    assert set(got) == {1, 3, 4}
    assert got[1]["name"] == "A" and got[1]["extra"] == 10
    assert got[3]["name"] == "c" and got[3]["extra"] == 30
    assert got[4]["name"] == "d" and got[4]["extra"] is None


def test_merge_upsert_no_insert_and_validation(spark):
    """insert=False drops source-only rows; unknown update_cols raise."""
    import pytest as _pytest

    from muninn_avro_to_parquet_spark.operators import cdc as C

    target = spark.createDataFrame([(1, "a")], "id long, name string")
    source = spark.createDataFrame([(1, "A"), (2, "b")], "id long, name string")
    got = C.merge_upsert(target, source, ["id"], insert=False).collect()
    assert [(r["id"], r["name"]) for r in got] == [(1, "A")]
    with _pytest.raises(ValueError, match="absent from source"):
        C.merge_upsert(target, source, ["id"], update_cols=["missing"])


def test_vacuum_snapshots_orphans_and_retention(spark, tmp_path):
    """Vacuum eats (a) a complete version stranded ABOVE the pointer by a
    lost optimistic-commit race and (b) a crashed _SUCCESS-less write —
    but only past the retention window; published versions survive, and
    keep_versions collects a stranded below-window published dir."""
    import os

    from muninn_avro_to_parquet_spark.operators import cdc as C

    tdir = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 1, False)], "id long, name string, tx long, is_del boolean"
    ).select(
        F.struct(
            F.col("tx").alias("tx_id"),
            F.lit("0").alias("lsn"),
            F.col("is_del").alias("is_deleted"),
            F.lit("UPDATE").alias("change_type"),
        ).alias("source_metadata"),
        "id",
        "name",
    )
    C.materialize_snapshot(spark, tdir, df, ["id"])     # v1 (current)
    C.materialize_snapshot(spark, tdir, df, ["id"])     # v2 (current)
    # orphan ABOVE the pointer, complete with _SUCCESS (lost CAS race)
    os.makedirs(f"{tdir}/v9")
    open(f"{tdir}/v9/_SUCCESS", "w").close()
    open(f"{tdir}/v9/part-0.parquet", "w").close()
    # crashed write: no _SUCCESS
    os.makedirs(f"{tdir}/v3")
    open(f"{tdir}/v3/part-0.parquet", "w").close()
    # unrelated dir must never match
    os.makedirs(f"{tdir}/not_a_version")

    now = os.path.getmtime(f"{tdir}/v9/part-0.parquet")
    # inside retention: nothing deleted (could be in-flight)
    assert C.vacuum_snapshots(tdir, retention_seconds=3600, _now=now) == []
    # past retention, dry-run first: both orphans listed, nothing deleted
    listed = C.vacuum_snapshots(
        tdir, retention_seconds=0, dry_run=True, _now=now + 10
    )
    assert sorted(p.rsplit("/", 1)[-1] for p in listed) == ["v3", "v9"]
    assert os.path.isdir(f"{tdir}/v9")
    # real run
    C.vacuum_snapshots(tdir, retention_seconds=0, _now=now + 10)
    assert not os.path.exists(f"{tdir}/v9") and not os.path.exists(f"{tdir}/v3")
    # published current + previous survive; keep_versions=1 strands v1
    assert os.path.isdir(f"{tdir}/v1") and os.path.isdir(f"{tdir}/v2")
    gone = C.vacuum_snapshots(
        tdir, retention_seconds=0, keep_versions=1, _now=now + 10
    )
    assert [p.rsplit("/", 1)[-1] for p in gone] == ["v1"]
    assert C.read_snapshot(spark, tdir).count() == 1
