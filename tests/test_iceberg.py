"""Pure-Python Iceberg v2: Avro OCF round-trips, snapshot commits,
copy-on-write partition deletes, time travel, metadata-only planning,
and the full lineage kill/resume protocol on table_format='iceberg'
without jars (VERDICT r4 Next #6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from opentopodata_spark import config, iceberg, lineage
from opentopodata_spark.operators import elevation, extract


# ---------------------------------------------------------------------------
# Avro object container files
# ---------------------------------------------------------------------------

def test_avro_ocf_roundtrip(tmp_path):
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "maybe", "type": ["null", "long"], "default": None},
            {"name": "flag", "type": "boolean"},
            {"name": "x", "type": "double"},
            {"name": "raw", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "nested", "type": {
                "type": "record", "name": "inner", "fields": [
                    {"name": "a", "type": "int"},
                    {"name": "b", "type": ["null", "string"],
                     "default": None},
                ]}},
        ]}
    records = [
        {"i": -(2 ** 40), "s": "héllo \"quoted\"", "maybe": None,
         "flag": True, "x": 3.5, "raw": b"\x00\xff", "arr": [1, -2, 3],
         "m": {"k1": "v1", "k2": "v2"},
         "nested": {"a": -7, "b": "deep"}},
        {"i": 0, "s": "", "maybe": 42, "flag": False, "x": -0.0,
         "raw": b"", "arr": [], "m": {},
         "nested": {"a": 0, "b": None}},
    ]
    p = str(tmp_path / "t.avro")
    n = iceberg.write_ocf(p, schema, records)
    assert n == os.path.getsize(p)
    schema2, got = iceberg.read_ocf(p)
    assert schema2 == schema
    assert got == records
    # empty file round-trips too
    p2 = str(tmp_path / "empty.avro")
    iceberg.write_ocf(p2, schema, [])
    assert iceberg.read_ocf(p2)[1] == []


def test_avro_varint_extremes(tmp_path):
    schema = {"type": "record", "name": "v", "fields": [
        {"name": "n", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**62, -(2**62), 2**63 - 1,
            -(2**63)]
    p = str(tmp_path / "v.avro")
    iceberg.write_ocf(p, schema, [{"n": v} for v in vals])
    _, got = iceberg.read_ocf(p)
    assert [r["n"] for r in got] == vals


# ---------------------------------------------------------------------------
# table commits / planning / time travel
# ---------------------------------------------------------------------------

@pytest.fixture()
def docs_df(spark):
    rows = [(f"d{i:03d}", f"text {i}", i % 4) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id string, text string, pb int")


def test_create_append_read(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    assert iceberg.table_exists(loc)
    assert t.current_snapshot_id() is None
    assert iceberg.read_table(spark, loc).count() == 0

    s1 = iceberg.append_dataframe(t, docs_df)
    assert t.current_snapshot_id() == s1
    got = iceberg.read_table(spark, loc)
    assert got.count() == 40
    assert set(got.columns) == {"doc_id", "text", "pb"}
    assert t.record_count() == 40                  # metadata-only
    assert t.partition_values() == {0, 1, 2, 3}    # metadata-only

    # second append: prior manifests carried, not rewritten
    s2 = iceberg.append_dataframe(
        t, docs_df.withColumn("doc_id", F.concat(F.lit("x"), "doc_id")))
    assert s2 != s1
    assert iceberg.read_table(spark, loc).count() == 80
    assert t.record_count() == 80
    assert [s["summary"]["operation"] for s in t.snapshots()] == [
        "append", "append"]

    # metadata files exist and the json parses as Iceberg v2
    with open(os.path.join(loc, "metadata", "version-hint.text")) as f:
        v = int(f.read())
    with open(os.path.join(loc, "metadata", f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == s2
    assert len(meta["snapshots"]) == 2
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"


def test_delete_partition_and_time_travel(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    s1 = iceberg.append_dataframe(t, docs_df)
    s2 = iceberg.append_dataframe(
        t, docs_df.withColumn("doc_id", F.concat(F.lit("x"), "doc_id")))
    s3 = t.delete_partition(1)

    now = iceberg.read_table(spark, loc)
    assert now.count() == 60
    assert now.where(F.col("pb") == 1).count() == 0
    assert t.partition_values() == {0, 2, 3}

    # time travel by snapshot id
    assert iceberg.read_table(spark, loc, snapshot_id=s1).count() == 40
    assert iceberg.read_table(spark, loc, snapshot_id=s2).count() == 80
    old = iceberg.read_table(spark, loc, snapshot_id=s2)
    assert old.where(F.col("pb") == 1).count() == 20

    # time travel by timestamp
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    ts2 = snaps[s2]["timestamp-ms"]
    assert t.snapshot_as_of(ts2) == s2
    assert t.snapshot_as_of(snaps[s1]["timestamp-ms"] - 1) is None
    assert iceberg.read_table(spark, loc, as_of_ms=ts2).count() == 80

    # delete summary recorded; deleted files stay on disk for old snaps
    assert [s["summary"]["operation"] for s in t.snapshots()] == [
        "append", "append", "delete"]
    assert t._snapshot(s3)["parent-snapshot-id"] == s2


def test_unpartitioned_table(spark, tmp_path):
    df = pytest.importorskip("pyspark").sql.SparkSession.builder.getOrCreate()\
        .createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    loc = str(tmp_path / "flat")
    t = iceberg.IcebergTable.create(loc, df.schema)
    iceberg.append_dataframe(t, df)
    got = iceberg.read_table(spark, loc)
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="unpartitioned"):
        t.delete_partition(1)


def test_nested_schema_maps_to_iceberg_types(spark, tmp_path):
    # the input_hint documents shape: spans array<struct<...>>
    df = spark.createDataFrame(
        [("d1", [("text", "hi", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    loc = str(tmp_path / "docs")
    t = iceberg.IcebergTable.create(loc, df.schema)
    sch = t.meta["schemas"][0]
    spans = next(f for f in sch["fields"] if f["name"] == "spans")
    assert spans["type"]["type"] == "list"
    assert spans["type"]["element"]["type"] == "struct"
    names = [f["name"] for f in spans["type"]["element"]["fields"]]
    assert names == ["kind", "text", "media_ref", "offset"]
    ids = [f["id"] for f in sch["fields"]] + [
        spans["type"]["element-id"]] + [
        f["id"] for f in spans["type"]["element"]["fields"]]
    assert len(set(ids)) == len(ids)  # unique field ids, spec rule
    iceberg.append_dataframe(t, df)
    got = iceberg.read_table(spark, loc)
    assert got.collect()[0].spans[0].text == "hi"


def test_refusals(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError, match="version-hint"):
        iceberg.IcebergTable(loc)
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    with pytest.raises(FileExistsError):
        iceberg.IcebergTable.create(loc, docs_df.schema)
    with pytest.raises(ValueError, match="not in schema"):
        iceberg.IcebergTable.create(
            str(tmp_path / "t2"), docs_df.schema, partition_col="nope")
    with pytest.raises(ValueError, match="'doc_id' has type string"):
        iceberg.IcebergTable.create(
            str(tmp_path / "t3"), docs_df.schema, partition_col="doc_id")
    with pytest.raises(ValueError, match="no snapshot"):
        t._snapshot(12345)
    with pytest.raises(ValueError, match="empty table"):
        t.delete_partition(0)
    # merge-on-read delete files: a delete manifest in the manifest list,
    # or a delete file inside a data manifest, is refused, never scanned
    t.append_files([iceberg.DataFileInfo(str(tmp_path / "f.parquet"), 0, 3, 9)])
    ml_path = t._snapshot(None)["manifest-list"]
    ml_schema, manifests = iceberg.read_ocf(ml_path)
    m_path = manifests[0]["manifest_path"]
    m_schema, entries = iceberg.read_ocf(m_path)
    assert t.record_count() == 3
    iceberg.write_ocf(ml_path, ml_schema, [{**manifests[0], "content": 1}])
    with pytest.raises(ValueError, match="delete files"):
        t.live_entries()
    iceberg.write_ocf(ml_path, ml_schema, manifests)
    iceberg.write_ocf(m_path, m_schema, [
        {**entries[0], "data_file": {**entries[0]["data_file"], "content": 2}}])
    with pytest.raises(ValueError, match="delete files"):
        t.record_count()


# ---------------------------------------------------------------------------
# the lineage resume protocol on real Iceberg metadata (no jars)
# ---------------------------------------------------------------------------

N_BUCKETS = 8


@pytest.fixture(scope="module")
def resolver(spark, datasets):
    ordered = config.resolve_dataset_names("multi_eudem_etopo1", datasets)
    return elevation.ElevationResolver(spark, ordered, "bilinear")


@pytest.fixture(scope="module")
def points(spark, documents_path):
    return (
        extract.with_point_id(
            extract.extract_points(spark.read.parquet(documents_path))
        )
        .where(F.col("loc_error").isNull())
        .select("point_id", "lat", "lon")
    )


def _run(spark, resolver, points, out_dir):
    return lineage.resumable_resolve(
        spark, resolver, points, out_dir, n_buckets=N_BUCKETS,
        table_format="iceberg",
    )


def test_iceberg_full_run_then_noop_resume(spark, resolver, points, tmp_path):
    out = str(tmp_path / "run1")
    tables = lineage.tables_for(spark, out, "iceberg")
    assert isinstance(tables, lineage.PyIcebergTables)  # no catalog conf

    stats = _run(spark, resolver, points, out)
    assert stats["completed_before"] == 0
    assert stats["processed"] == N_BUCKETS
    got = iceberg.read_table(spark, os.path.join(out, "data"))
    assert got.count() == points.count()

    again = _run(spark, resolver, points, out)
    assert again["completed_before"] == N_BUCKETS
    assert again["processed"] == 0
    assert iceberg.read_table(
        spark, os.path.join(out, "data")).count() == points.count()
    # both tables are real Iceberg: snapshots + avro manifests on disk
    for sub in ("data", "lineage"):
        t = iceberg.IcebergTable(os.path.join(out, sub))
        assert t.current_snapshot_id() is not None
        assert all(os.path.exists(s["manifest-list"])
                   for s in t.snapshots())
    assert lineage.verify_lineage(spark, out, table_format="iceberg")


def test_iceberg_crash_recovery_and_oneshot_equality(
        spark, resolver, points, tmp_path):
    out = str(tmp_path / "run2")
    # phase 1: bucket 3's data lands but its lineage write never happens
    # (crash between the two appends)
    most = points.where(lineage.bucket_col(n_buckets=N_BUCKETS) != 3)
    s1 = _run(spark, resolver, most, out)
    assert s1["processed"] == N_BUCKETS - 1
    tables = lineage.tables_for(spark, out, "iceberg")
    orphan = resolver.resolve(
        points.where(lineage.bucket_col(n_buckets=N_BUCKETS) == 3)
    ).withColumn("_bucket", lineage.bucket_col(n_buckets=N_BUCKETS))
    tables.append_data(orphan)          # data written ...
    #                                    ... lineage never written: crash
    assert tables.data_buckets(spark) == set(range(N_BUCKETS))

    resumed = _run(spark, resolver, points, out)
    assert resumed["completed_before"] == N_BUCKETS - 1
    assert resumed["orphans_dropped"] == 1   # metadata-only detection
    assert resumed["processed"] == 1

    oneshot = str(tmp_path / "oneshot")
    _run(spark, resolver, points, oneshot)
    a = iceberg.read_table(spark, os.path.join(out, "data"))
    b = iceberg.read_table(spark, os.path.join(oneshot, "data"))
    assert a.count() == b.count() == points.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert lineage.verify_lineage(spark, out, table_format="iceberg")

    # the orphan drop is visible as a delete snapshot in table history,
    # and time-traveling to just before it still sees the orphan rows
    t = iceberg.IcebergTable(os.path.join(out, "data"))
    ops = [s["summary"]["operation"] for s in t.snapshots()]
    assert "delete" in ops
    del_snap = next(s for s in t.snapshots()
                    if s["summary"]["operation"] == "delete")
    before = iceberg.read_table(
        spark, os.path.join(out, "data"),
        snapshot_id=del_snap["parent-snapshot-id"])
    assert before.count() == points.count()  # orphan rows still visible


# ---------------------------------------------------------------------------
# CLI (jobs/iceberg.py)
# ---------------------------------------------------------------------------

def test_cli_info_history_files_export(spark, docs_df, tmp_path):
    from opentopodata_spark.jobs import iceberg as cli

    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    s1 = iceberg.append_dataframe(t, docs_df)
    t.delete_partition(2)

    info = cli.run(cli.build_parser().parse_args(["info", "--table", loc]))
    assert info["live_rows"] == 30 and info["partition_col"] == "pb"
    assert info["partitions"] == [0, 1, 3]
    assert info["columns"] == ["doc_id", "text", "pb"]
    assert info["n_snapshots"] == 2

    hist = cli.run(cli.build_parser().parse_args(
        ["history", "--table", loc]))
    assert [h["operation"] for h in hist["history"]] == [
        "append", "delete"]
    assert hist["history"][1]["parent"] == s1

    cur = cli.run(cli.build_parser().parse_args(["files", "--table", loc]))
    old = cli.run(cli.build_parser().parse_args(
        ["files", "--table", loc, "--snapshot", str(s1)]))
    assert cur["n_files"] < old["n_files"]

    out = str(tmp_path / "export.parquet")
    exp = cli.run(cli.build_parser().parse_args(
        ["export", "--table", loc, "--out", out,
         "--snapshot", str(s1), "--cores", "4"]))
    assert exp["rows"] == 40  # time-traveled to before the delete
    assert spark.read.parquet(out).count() == 40


def test_compact_and_expire(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    s1 = iceberg.append_dataframe(t, docs_df.repartition(6))
    s2 = iceberg.append_dataframe(
        t, docs_df.withColumn("doc_id", F.concat(F.lit("x"), "doc_id"))
        .repartition(6))
    files_before = len(t.live_files())
    assert files_before > 4  # genuinely fragmented

    before = {tuple(r) for r in iceberg.read_table(spark, loc).collect()}
    out = iceberg.rewrite_data_files(spark, t, target_mb=64)
    assert out["files_after"] < files_before
    assert out["rows"] == 80
    after = {tuple(r) for r in iceberg.read_table(spark, loc).collect()}
    assert after == before  # content identical, fewer files
    assert t.snapshots()[-1]["summary"]["operation"] == "replace"
    # pre-compaction snapshots still readable (files not yet collected)
    assert iceberg.read_table(spark, loc, snapshot_id=s2).count() == 80
    assert iceberg.read_table(spark, loc, snapshot_id=s1).count() == 40

    # expire everything but the current snapshot; old data files vanish
    n_data_before = len(iceberg._list_parquet(
        os.path.join(loc, "data")))
    res = iceberg.expire_snapshots(t, keep_last=1)
    assert res["expired"] == 2
    assert res["data_files_deleted"] > 0
    n_data_after = len(iceberg._list_parquet(os.path.join(loc, "data")))
    assert n_data_after < n_data_before
    # current snapshot unharmed; expired ids refuse
    assert iceberg.read_table(spark, loc).count() == 80
    t2 = iceberg.IcebergTable(loc)
    assert len(t2.snapshots()) == 1
    with pytest.raises(ValueError, match="no snapshot"):
        iceberg.read_table(spark, loc, snapshot_id=s1)
    # CLI spellings
    from opentopodata_spark.jobs import iceberg as cli

    info = cli.run(cli.build_parser().parse_args(["info", "--table", loc]))
    assert info["live_rows"] == 80 and info["n_snapshots"] == 1
    res2 = cli.run(cli.build_parser().parse_args(
        ["expire", "--table", loc, "--keep-last", "5"]))
    assert res2["expired"] == 0


def test_rollback_and_partition_pruned_read(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    s1 = iceberg.append_dataframe(t, docs_df)
    s2 = iceberg.append_dataframe(
        t, docs_df.withColumn("doc_id", F.concat(F.lit("x"), "doc_id")))

    # metadata partition pruning: the planned file list shrinks BEFORE
    # Spark sees a path
    all_files = t.live_files()
    pb1_files = t.live_files(partition_value=1)
    assert 0 < len(pb1_files) < len(all_files)
    pruned = iceberg.read_table(spark, loc, partition_value=1)
    assert pruned.count() == 20
    assert pruned.where(F.col("pb") != 1).count() == 0

    # rollback: current pointer returns to s1; s2 remains readable
    iceberg.rollback_to_snapshot(t, s1)
    assert t.current_snapshot_id() == s1
    assert iceberg.read_table(spark, loc).count() == 40
    assert iceberg.read_table(spark, loc, snapshot_id=s2).count() == 80
    # appending after rollback branches from s1
    s3 = iceberg.append_dataframe(
        t, docs_df.withColumn("doc_id", F.concat(F.lit("y"), "doc_id")))
    assert t._snapshot(s3)["parent-snapshot-id"] == s1
    assert iceberg.read_table(spark, loc).count() == 80
    with pytest.raises(ValueError, match="no snapshot"):
        iceberg.rollback_to_snapshot(t, 424242)


def test_concurrent_commit_second_writer_raises(spark, docs_df, tmp_path):
    """Two handles opened at the same version both append: the second
    commit must refuse instead of replacing the first one's snapshot."""
    loc = str(tmp_path / "tbl")
    iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    first = iceberg.IcebergTable(loc)
    second = iceberg.IcebergTable(loc)
    s1 = iceberg.append_dataframe(first, docs_df)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        iceberg.append_dataframe(second, docs_df)
    t = iceberg.IcebergTable(loc)
    assert [s["snapshot-id"] for s in t.snapshots()] == [s1]
    assert t.current_snapshot_id() == s1
    assert iceberg.read_table(spark, loc).count() == 40


def test_schema_evolution_add_column(spark, docs_df, tmp_path):
    loc = str(tmp_path / "tbl")
    t = iceberg.IcebergTable.create(loc, docs_df.schema, partition_col="pb")
    iceberg.append_dataframe(t, docs_df)
    evolved = docs_df.withColumn(
        "doc_id", F.concat(F.lit("x"), "doc_id")
    ).withColumn("lang", F.lit("en")).withColumn(
        "score", (F.length("text") * 1.5))
    iceberg.append_dataframe(t, evolved)

    # new schema committed: new schema-id, fresh sequential field ids
    t2 = iceberg.IcebergTable(loc)
    assert len(t2.meta["schemas"]) == 2
    cur = next(s for s in t2.meta["schemas"]
               if s["schema-id"] == t2.meta["current-schema-id"])
    names = [f["name"] for f in cur["fields"]]
    assert names == ["doc_id", "text", "pb", "lang", "score"]
    ids = [f["id"] for f in cur["fields"]]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert t2.meta["last-column-id"] == max(ids)
    assert t2.snapshots()[-1]["schema-id"] == cur["schema-id"]

    # old files read with nulls for the added columns
    got = iceberg.read_table(spark, loc)
    assert got.count() == 80
    assert set(got.columns) == set(names)
    assert got.where(F.col("lang").isNull()).count() == 40
    assert got.where(F.col("score").isNotNull()).count() == 40
    # an empty read takes the CURRENT schema, not the first one
    empty = iceberg.read_table(spark, loc, partition_value=99)
    assert empty.count() == 0 and empty.columns == names

    # refusals: dropped column / changed type
    with pytest.raises(ValueError, match="lacks columns"):
        iceberg.append_dataframe(t2, evolved.drop("text"))
    with pytest.raises(ValueError, match="type"):
        iceberg.append_dataframe(
            t2, evolved.withColumn("score", F.lit("not a double")))
