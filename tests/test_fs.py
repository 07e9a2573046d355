"""Filesystem-seam tests: the ingest path (listing, header reads, block
decode, streaming checkpoint) driven through ``file://`` URIs — the exact
code path an object store takes (URI parse → pyarrow.fs → filesystem API),
minus the network."""

from __future__ import annotations

import os

import pytest

from muninn_avro_to_parquet_spark import convert, fs
from muninn_avro_to_parquet_spark.sources import avro_io, avro_source
from muninn_avro_to_parquet_spark.streaming.file_stream import StreamingConverter
from tests.conftest import CDC_SCHEMA


def _recs(ids):
    return [
        {
            "uuid": f"u{i}",
            "read_timestamp": i,
            "sort_keys": [],
            "source_metadata": {
                "schema": "public",
                "table": "customers",
                "is_deleted": False,
                "change_type": "INSERT",
                "tx_id": 100 + i,
                "lsn": f"0/{i}",
                "primary_keys": ["id"],
            },
            "payload": {
                "id": i,
                "name": f"name{i}",
                "age": 20 + i,
                "balance": ((i + 1) * 10**29).to_bytes(16, "big", signed=True),
                "score": i * 1.5,
                "active": i % 2 == 0,
                "created_at": 1_700_000_000_000_000 + i,
                "updated_at": 1_700_000_000_000 + i,
                "birth_date": 8000 + i,
                "tags": [f"t{i}"],
                "attrs": {"a": str(i)},
            },
        }
        for i in ids
    ]


def _fixture_tree(tmp_path, tables=("customers",), files_per_table=2):
    for t in tables:
        base = tmp_path / "avro" / t
        base.mkdir(parents=True, exist_ok=True)
        for fi in range(files_per_table):
            avro_io.write_file(
                str(base / f"f{fi}.avro"),
                CDC_SCHEMA,
                _recs(range(fi * 3, fi * 3 + 3)),
                codec=("null", "deflate", "snappy", "bzip2", "xz")[fi % 5],
            )


def test_glob_files_uri_matches_local(tmp_path):
    _fixture_tree(tmp_path, tables=("customers", "orders"))
    local = fs.glob_files(str(tmp_path / "avro" / "**" / "*.avro"))
    via_uri = fs.glob_files(f"file://{tmp_path}/avro/**/*.avro")
    assert len(local) == 4
    assert [u.removeprefix("file://") for u in via_uri] == local
    # single-segment wildcard stays within one directory level
    one_level = fs.glob_files(f"file://{tmp_path}/avro/customers/*.avro")
    assert [u.removeprefix("file://") for u in one_level] == fs.glob_files(
        str(tmp_path / "avro" / "customers" / "*.avro")
    )


def test_glob_files_uri_no_match_and_literal(tmp_path):
    _fixture_tree(tmp_path)
    assert fs.glob_files(f"file://{tmp_path}/nosuch/**/*.avro") == []
    literal = f"file://{tmp_path}/avro/customers/f0.avro"
    assert fs.glob_files(literal) == [literal]
    assert fs.glob_files(f"file://{tmp_path}/avro/customers/nope.avro") == []


def test_header_and_block_reads_through_uri(tmp_path):
    _fixture_tree(tmp_path)
    local = str(tmp_path / "avro" / "customers" / "f1.avro")  # deflate file
    uri = f"file://{local}"
    assert avro_io.read_schema(uri) == avro_io.read_schema(local)
    assert list(avro_io.iter_records(uri)) == list(avro_io.iter_records(local))
    assert fs.file_size(uri) == os.path.getsize(local)
    # split planning stats through the seam too
    splits = avro_source.plan_splits([uri])
    assert splits == [(uri, 0, os.path.getsize(local))]


def test_write_file_through_uri(tmp_path):
    path = str(tmp_path / "out.avro")
    avro_io.write_file(f"file://{path}", CDC_SCHEMA, _recs(range(4)), codec="deflate")
    assert [r["payload"]["id"] for r in avro_io.iter_records(path)] == [0, 1, 2, 3]


def test_convert_end_to_end_through_uri(spark, tmp_path):
    """convert() with a file:// glob AND a file:// output prefix — listing,
    drift probing, executor-side decode of every block codec (null,
    deflate, snappy, bzip2, xz), and the parquet write all resolve through
    the seam (VERDICT r3 'done' criterion)."""
    _fixture_tree(tmp_path, files_per_table=5)
    out = f"file://{tmp_path}/out"
    res = convert.convert(
        spark,
        f"file://{tmp_path}/avro/**/*.avro",
        out,
        ingestion_date="2026-01-01",
    )
    assert res.tables == {"customers": 15}
    got = spark.read.parquet(f"{tmp_path}/out/customers")
    assert got.count() == 15
    assert set(r.id for r in got.select("id").collect()) == set(range(15))


def test_streaming_converter_uri_checkpoint_restart(spark, tmp_path):
    """StreamingConverter with URI pattern + URI checkpoint: acknowledged
    files survive a restart (no replay), new files still convert — the
    ledger lives behind the seam as one object per ack."""
    _fixture_tree(tmp_path, files_per_table=1)
    pattern = f"file://{tmp_path}/avro/**/*.avro"
    ckpt = f"file://{tmp_path}/ckpt"
    out = f"file://{tmp_path}/out"
    conv = StreamingConverter(spark, pattern, out, ckpt, "1h")
    r1 = conv.poll_once(ingestion_date="2026-01-01")
    assert r1.tables == {"customers": 3} and len(r1.new_files) == 1

    # restart: nothing new → empty batch, no replay
    conv2 = StreamingConverter(spark, pattern, out, ckpt, "1h")
    r2 = conv2.poll_once(ingestion_date="2026-01-01")
    assert r2.new_files == [] and r2.tables == {}

    # drop a new file; only it converts
    avro_io.write_file(
        str(tmp_path / "avro" / "customers" / "g0.avro"), CDC_SCHEMA, _recs([100])
    )
    r3 = conv2.poll_once(ingestion_date="2026-01-01")
    assert len(r3.new_files) == 1 and r3.tables == {"customers": 1}
    total = spark.read.parquet(f"{tmp_path}/out/customers").count()
    assert total == 4

    # drain flag round-trips through the seam
    conv2.request_drain()
    assert conv2.drain_requested
    conv3 = StreamingConverter(spark, pattern, out, ckpt, "1h")
    assert not conv3.drain_requested


def test_split_reads_through_uri(tmp_path):
    """Range reads (the executor-side split path: seek to sync, decode a
    byte range) must work on a file-like from the seam, not just builtin
    open — disjoint ranges over a file:// URI decode every record exactly
    once."""
    path = str(tmp_path / "split.avro")
    recs = _recs(range(200))
    avro_io.write_file(path, CDC_SCHEMA, recs, codec="deflate")
    uri = f"file://{path}"
    size = fs.file_size(uri)
    mid = size // 2
    a = list(avro_io.iter_records_range(uri, 0, mid))
    b = list(avro_io.iter_records_range(uri, mid, size))
    assert [r["payload"]["id"] for r in a] + [r["payload"]["id"] for r in b] == list(
        range(200)
    )


def test_glob_files_uri_property(tmp_path):
    """Randomized trees: URI globbing must agree with stdlib glob for
    every pattern shape the ingest path uses."""
    import random

    rng = random.Random(7)
    names = ["a", "b", "c_1", "d-2"]
    for i in range(20):
        depth = rng.randint(1, 3)
        parts = [rng.choice(names) for _ in range(depth)]
        d = tmp_path.joinpath(*parts)
        d.mkdir(parents=True, exist_ok=True)
        suffix = rng.choice([".avro", ".txt", ".avro.tmp"])
        (d / f"f{i}{suffix}").write_bytes(b"x")
    for pat in ["**/*.avro", "*/f*.avro", "a/**/*.txt", "**/f1?.avro", "[ab]/*.avro"]:
        local = fs.glob_files(str(tmp_path / pat))
        via_uri = [
            u.removeprefix("file://") for u in fs.glob_files(f"file://{tmp_path}/{pat}")
        ]
        assert via_uri == local, pat


def test_uri_ledger_chunks_never_overwrite_across_restarts(spark, tmp_path):
    """Regression: a restarted converter must continue the ack-chunk
    sequence past existing objects — restarting from zero would overwrite
    chunk 1 and replay its files."""
    _fixture_tree(tmp_path, files_per_table=1)
    pattern = f"file://{tmp_path}/avro/**/*.avro"
    ckpt = f"file://{tmp_path}/ckpt"
    out = f"file://{tmp_path}/out"
    StreamingConverter(spark, pattern, out, ckpt, "1h").poll_once(
        ingestion_date="2026-01-01"
    )
    for gen in range(2):  # two restarts, one new file each
        avro_io.write_file(
            str(tmp_path / "avro" / "customers" / f"g{gen}.avro"),
            CDC_SCHEMA,
            _recs([100 + gen]),
        )
        conv = StreamingConverter(spark, pattern, out, ckpt, "1h")
        r = conv.poll_once(ingestion_date="2026-01-01")
        assert len(r.new_files) == 1, r.new_files
    chunks = fs.list_files(f"{ckpt}/processed_files.log.d")
    assert len(chunks) == 3  # one per acknowledgment, none overwritten
    # a fresh converter sees every acked file: nothing replays
    final = StreamingConverter(spark, pattern, out, ckpt, "1h").poll_once(
        ingestion_date="2026-01-01"
    )
    assert final.new_files == []


def test_glob_authority_wildcard_rejected_path_wildcard_allowed(monkeypatch):
    """ADVICE r4: a wildcard in the FIRST PATH SEGMENT of an
    empty-authority URI (file:///data*/x.avro) is a legal glob, not an
    authority wildcard; only wildcards before the authority-ending slash
    (s3://bucket*/...) are rejected."""
    import pytest
    from pyarrow.fs import FileInfo, FileType

    with pytest.raises(ValueError, match="authority"):
        fs.glob_files("s3://bucket*/data/x.avro")
    with pytest.raises(ValueError, match="authority"):
        fs.glob_files("s3://buck?t")  # no authority-ending slash at all

    # first-path-segment wildcard: must enumerate from the filesystem
    # ROOT, not raise. Fake the filesystem so the test doesn't walk "/".
    seen = {}

    class FakeFS:
        def get_file_info(self, selector):
            seen["base"] = selector.base_dir
            return [
                FileInfo("/data1/x.avro", FileType.File),
                FileInfo("/data1/y.avro", FileType.File),
                FileInfo("/other/x.avro", FileType.File),
                FileInfo("/data1", FileType.Directory),
            ]

    def fake_resolve(uri):
        seen["base_uri"] = uri
        return FakeFS(), "/"

    monkeypatch.setattr(fs, "resolve", fake_resolve)
    out = fs.glob_files("file:///data*/x.avro")
    assert seen["base_uri"] == "file:///"
    assert seen["base"] == "/"
    assert out == ["file:///data1/x.avro"]


@pytest.fixture()
def mock_scheme():
    """An in-memory pyarrow filesystem mounted at mock:// — a second,
    non-local FileSystem implementation behind the same seam, so the URI
    code paths (ledger chunks, globbing, byte I/O) are proven against
    more than LocalFileSystem (VERDICT r4 #4)."""
    from pyarrow.fs import _MockFileSystem

    mockfs = _MockFileSystem()
    fs.register_filesystem("mock", mockfs)
    yield mockfs
    fs.unregister_filesystem("mock")


def test_fs_primitives_over_mock_scheme(mock_scheme):
    """makedirs / write / read / size / exists / list / glob / delete over
    a registered non-file scheme behave exactly as over file://."""
    base = "mock://bkt/data"
    fs.makedirs(f"{base}/sub")
    fs.write_text(f"{base}/sub/a.log", "hello\n")
    fs.write_text(f"{base}/sub/b.log", "world\n")
    assert fs.exists(f"{base}/sub/a.log")
    assert not fs.exists(f"{base}/sub/zzz.log")
    assert fs.read_text(f"{base}/sub/a.log") == "hello\n"
    assert fs.file_size(f"{base}/sub/b.log") == 6
    assert sorted(fs.list_files(f"{base}/sub")) == [
        f"{base}/sub/a.log", f"{base}/sub/b.log",
    ]
    assert fs.glob_files(f"{base}/**/*.log") == [
        f"{base}/sub/a.log", f"{base}/sub/b.log",
    ]
    assert fs.glob_files(f"{base}/sub/a.log") == [f"{base}/sub/a.log"]
    fs.delete_file(f"{base}/sub/a.log")
    assert not fs.exists(f"{base}/sub/a.log")
    # avro byte I/O through the same seam: write + split-read a real OCF
    avro_io.write_file(f"{base}/f.avro", CDC_SCHEMA, _recs(range(7)), codec="deflate")
    assert [r["payload"]["id"] for r in avro_io.iter_records(f"{base}/f.avro")] == list(range(7))


def test_streaming_checkpoint_over_mock_scheme(spark, tmp_path, mock_scheme):
    """The object-store ledger protocol (immutable ack chunks, restart
    recovery, no replay) over a non-file scheme: checkpoint state lives
    entirely in mock://, input/output stay local (executors cannot see a
    driver-registered in-memory filesystem)."""
    _fixture_tree(tmp_path, files_per_table=1)
    pattern = f"{tmp_path}/avro/**/*.avro"
    ckpt = "mock://ckpts/job1"
    out = str(tmp_path / "out")

    r1 = StreamingConverter(spark, pattern, out, ckpt, "1h").poll_once(
        ingestion_date="2026-01-01"
    )
    assert len(r1.new_files) == 1
    # restart: new converter instance, same mock checkpoint — no replay
    avro_io.write_file(
        str(tmp_path / "avro" / "customers" / "g0.avro"), CDC_SCHEMA, _recs([50])
    )
    r2 = StreamingConverter(spark, pattern, out, ckpt, "1h").poll_once(
        ingestion_date="2026-01-01"
    )
    assert len(r2.new_files) == 1 and r2.new_files[0].endswith("g0.avro")
    chunks = fs.list_files("mock://ckpts/job1/processed_files.log.d")
    assert len(chunks) == 2  # one immutable chunk per ack, distinct names
    r3 = StreamingConverter(spark, pattern, out, ckpt, "1h").poll_once(
        ingestion_date="2026-01-01"
    )
    assert r3.new_files == []


def test_write_avro_roundtrip(spark, tmp_path):
    """Distributed Avro sink: per-partition OCF files through the fs seam,
    readable back by the engine's own codec with every mapped type intact
    (timestamps → micros, decimals → two's-complement bytes, nested
    array/map/struct, nullable unions)."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources import avro_sink

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("ok", T.BooleanType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("amount", T.DecimalType(10, 2), True),
            T.StructField("tags", T.ArrayType(T.IntegerType(), False), True),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), False), True),
            T.StructField(
                "nested",
                T.StructType([T.StructField("x", T.LongType(), True)]),
                True,
            ),
        ]
    )
    rows = [
        (
            1, "alpha", 1.5, True,
            datetime.datetime(2026, 1, 2, 3, 4, 5, 123456),
            datetime.date(2026, 1, 2),
            decimal.Decimal("12345.67"),
            [1, 2, 3], {"a": 1}, (7,),
        ),
        (2, None, None, None, None, None, decimal.Decimal("-0.01"), None, None, None),
    ]
    df = spark.createDataFrame(rows, schema).repartition(2)
    out = f"file://{tmp_path}/avro_out"
    manifest = avro_sink.write_avro(df, out, codec="deflate")
    assert sum(n for _, n in manifest) == 2
    assert all(p.startswith("file://") and p.endswith(".avro") for p, _ in manifest)

    got = []
    for p, _ in manifest:
        _, recs = avro_io.read_file(p)
        got.extend(recs)
    got.sort(key=lambda r: r["id"])
    r1, r2 = got
    assert r1["name"] == "alpha" and r1["ok"] is True and r1["score"] == 1.5
    # timestamp-micros / date / decimal come back as their base encodings
    assert r1["ts"] == int(
        datetime.datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    assert r1["day"] == (datetime.date(2026, 1, 2) - datetime.date(1970, 1, 1)).days
    assert int.from_bytes(r1["amount"], "big", signed=True) == 1234567
    assert r1["tags"] == [1, 2, 3] and r1["attrs"] == {"a": 1}
    assert r1["nested"] == {"x": 7}
    assert r2["name"] is None and r2["tags"] is None and r2["nested"] is None
    assert int.from_bytes(r2["amount"], "big", signed=True) == -1


def test_write_avro_read_generic_roundtrip(spark, tmp_path):
    """Full distributed circle: DataFrame → avro_sink.write_avro →
    read_avro_generic → same typed values. Scalars, timestamps, dates and
    decimals come back as their Spark types (containers follow the §1.3
    mapper contract and are exercised in the driver-side test above)."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources import avro_sink

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("amount", T.DecimalType(12, 2), True),
        ]
    )
    rows = [
        (
            i,
            None if i % 5 == 0 else f"n{i}",
            i * 0.5,
            datetime.datetime(2026, 1, 1) + datetime.timedelta(minutes=i),
            datetime.date(2026, 1, 1) + datetime.timedelta(days=i),
            decimal.Decimal(i * 7) / 100,
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = f"{tmp_path}/ge_out"
    manifest = avro_sink.write_avro(df, out, codec="bzip2")
    assert sum(n for _, n in manifest) == 200

    back = avro_source.read_avro_generic(spark, [p for p, _ in manifest])
    got = {r["id"]: r for r in back.collect()}
    assert len(got) == 200
    for i, (id_, name, score, ts, day, amount) in enumerate(rows):
        g = got[id_]
        assert g["name"] == name and g["score"] == score
        assert g["ts"] == ts and g["day"] == day
        assert g["amount"] == amount.quantize(decimal.Decimal("0.01"))
        assert g["_source_file"].endswith(".avro")


def test_write_avro_empty_dataframe(spark, tmp_path):
    """An empty DataFrame writes no files and returns an empty manifest —
    no zero-record containers littering the output directory."""
    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources import avro_sink

    df = spark.createDataFrame([], T.StructType([T.StructField("id", T.LongType())]))
    out = str(tmp_path / "empty_out")
    assert avro_sink.write_avro(df, out) == []
    assert fs.list_files(out) == []


def _ten_file_paths(tmp_path):
    """``_fixture_tree`` with 10 files (3 rows each, mixed codecs); file
    ``f`` holds ids ``3f .. 3f+2``."""
    _fixture_tree(tmp_path, files_per_table=10)
    return [str(tmp_path / "avro" / "customers" / f"f{fi}.avro") for fi in range(10)]


def _noop_jobs_and_tasks(spark, df, group):
    """(jobs, tasks over their stages) of a noop write of ``df``."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = sum(
        st.getStageInfo(sid).numTasks for j in jobs for sid in st.getJobInfo(j).stageIds
    )
    return len(jobs), tasks


def test_python_codec_reads_run_one_job_without_exchange(spark, tmp_path):
    """The three Python-side reads (CDC ``read_avro`` and
    ``read_avro_generic`` under ``engine=python``, ``read_parquet_fs``)
    hand out their splits through ``fs.map_in_tasks``: one MapInArrow,
    no Exchange, and a noop write is exactly one job whose stages run
    one task per share of the split list."""
    from muninn_avro_to_parquet_spark.plans.explain import operator_counts
    from muninn_avro_to_parquet_spark.sources import parquet_fs

    paths = _ten_file_paths(tmp_path)
    target = 2 * spark.sparkContext.defaultParallelism
    avro_tasks = min(len(avro_source.plan_splits(paths, target_tasks=target)), target)
    pq_dir = str(tmp_path / "pq")
    parquet_fs.write_parquet_fs(spark.range(100).repartition(5), pq_dir)
    pq_tasks = min(5, spark.sparkContext.defaultParallelism)
    reads = {
        "read_avro": (avro_source.read_avro(spark, paths, engine="python"), avro_tasks),
        "read_avro_generic": (
            avro_source.read_avro_generic(spark, paths, engine="python"),
            avro_tasks,
        ),
        "read_parquet_fs": (parquet_fs.read_parquet_fs(spark, pq_dir), pq_tasks),
    }
    for name, (df, tasks) in reads.items():
        counts = operator_counts(df._jdf.queryExecution().executedPlan().toString())
        assert (counts["Exchange"], counts["MapInArrow"]) == (0, 1), (name, counts)
        assert _noop_jobs_and_tasks(spark, df, f"map-in-tasks-{name}") == (1, tasks), name


def test_python_codec_read_every_row_once(spark, tmp_path):
    """10 small files under ``engine=python``: every row exactly once,
    tagged with the file it came from, over min(splits, 2 per core)
    partitions."""
    paths = _ten_file_paths(tmp_path)
    df = avro_source.read_avro(spark, paths, engine="python")
    target = 2 * spark.sparkContext.defaultParallelism
    splits = avro_source.plan_splits(paths, target_tasks=target)
    assert df.rdd.getNumPartitions() == min(len(splits), target)
    got = sorted((r["id"], r["_source_file"]) for r in df.select("id", "_source_file").collect())
    assert got == [(i, paths[i // 3]) for i in range(30)]


def test_map_in_tasks_round_robin_exactly_once(spark):
    """A list whose pickled closure passes PySpark's broadcast threshold
    still reaches every task: each item comes back exactly once, from
    the task ``t`` whose share ``items[t::n]`` holds it. An empty list
    gives an empty frame."""
    import collections
    import pickle

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    items = [f"item-{k:06d}" for k in range(200_000)]
    assert len(pickle.dumps(items)) > sc._jvm.PythonUtils.getBroadcastThreshold(sc._jsc)
    n = 2 * sc.defaultParallelism

    def echo(share):
        import pyarrow as pa

        yield pa.RecordBatch.from_pydict({"item": share}, schema=pa.schema([("item", pa.string())]))

    df = fs.map_in_tasks(spark, items, n, echo, "item string")
    assert df.rdd.getNumPartitions() == n
    got = df.select("item", F.spark_partition_id().alias("t")).toArrow()
    seen = got.column("item").to_pylist()
    assert len(seen) == len(items) and collections.Counter(seen) == collections.Counter(items)
    shares = {t: set(items[t::n]) for t in range(n)}
    assert all(i in shares[t] for i, t in zip(seen, got.column("t").to_pylist()))
    assert fs.map_in_tasks(spark, [], 1, echo, "item string").count() == 0
