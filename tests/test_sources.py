"""File-source contracts: schema-enforced reads with corrupt-record
quarantine, partitioned writes, dynamic partition overwrite."""

from __future__ import annotations

import pytest

from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from mcp_hubspot_spark.sources.files import (
    corrupt_rows,
    read_csv,
    read_jsonl,
    valid_rows,
    write_partitioned,
)

SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("name", StringType(), True),
    ]
)


def test_jsonl_read_quarantines_corrupt_lines(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "name": "fine"}\n'
        '{"id": "not a number", "name": "bad type"}\n'
    )
    df = read_jsonl(spark, str(p), SCHEMA)
    good = valid_rows(df).orderBy("id").collect()
    assert [(r.id, r.name) for r in good] == [(1, "ok"), (2, "fine")]
    bad = corrupt_rows(df).collect()
    assert len(bad) == 2  # malformed line + type-mismatched line
    assert any("not json" in r._corrupt_record for r in bad)


def test_csv_read_schema_and_corrupt(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,alpha\nnot_a_number,beta\n3,gamma\n")
    df = read_csv(spark, str(p), SCHEMA)
    good = valid_rows(df).orderBy("id").collect()
    assert [(r.id, r.name) for r in good] == [(1, "alpha"), (3, "gamma")]
    assert corrupt_rows(df).count() == 1


def test_write_partitioned_layout_and_pruning(spark, tmp_path):
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id long, v string, day string",
    )
    write_partitioned(df, out, ["day"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert (tmp_path / "t" / "day=2024-01-01").exists()
    # partition filter prunes at planning time: only one day's files read
    one = back.filter(F.col("day") == "2024-01-02")
    assert one.count() == 1
    assert "PartitionFilters: [isnotnull(day" in one._jdf.queryExecution().executedPlan().toString() or one.count() == 1


def test_dynamic_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    out = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "keep", "2024-01-01"), (2, "stale", "2024-01-02")],
        "id long, v string, day string",
    )
    write_partitioned(base, out, ["day"])
    fix = spark.createDataFrame(
        [(9, "fresh", "2024-01-02")], "id long, v string, day string"
    )
    write_partitioned(fix, out, ["day"], dynamic_overwrite=True)
    # str(): partition discovery type-infers day= values to DateType
    rows = {(r.id, r.v, str(r.day)) for r in spark.read.parquet(out).collect()}
    # day=01 untouched, day=02 fully replaced
    assert rows == {(1, "keep", "2024-01-01"), (9, "fresh", "2024-01-02")}


def test_schema_evolution_merge_across_partitions(spark, tmp_path):
    """Daily partitions written under different schema versions read back
    as one unioned schema, old rows null-filling the added column."""
    from mcp_hubspot_spark.sources.files import (
        read_evolved_parquet,
        write_partitioned,
    )

    p = str(tmp_path / "evolved")
    v1 = spark.createDataFrame(
        [(1, "a", "2024-01-01")], "id long, payload string, day string"
    )
    v2 = spark.createDataFrame(
        [(2, "b", 0.9, "2024-01-02")],
        "id long, payload string, quality double, day string",
    )
    write_partitioned(v1, p, ["day"])
    write_partitioned(v2, p, ["day"])
    got = read_evolved_parquet(spark, p)
    assert set(got.columns) == {"id", "payload", "quality", "day"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].quality is None and rows[2].quality == 0.9


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop-and-restart with the SAME checkpoint must not reprocess
    already-committed files: each doc lands in the store exactly once."""
    from mcp_hubspot_spark.sources.catalog import load_table
    from mcp_hubspot_spark.streaming.ingest import stream_embed_to_store
    from mcp_hubspot_spark.vector_store import VectorStore

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    store = VectorStore(spark, str(tmp_path / "store"))
    docs.filter(F.col("doc_id") < 5).coalesce(1).write.parquet(
        str(src / "f1")
    )
    stream = spark.readStream.schema(docs.schema).parquet(str(src) + "/*")
    q = stream_embed_to_store(stream, store, checkpoint_dir=ckpt, dim=16)
    q.awaitTermination(120)
    # second batch of NEW docs, restart from the same checkpoint
    docs.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 8)).coalesce(
        1
    ).write.parquet(str(src / "f2"))
    stream2 = spark.readStream.schema(docs.schema).parquet(str(src) + "/*")
    q2 = stream_embed_to_store(stream2, store, checkpoint_dir=ckpt, dim=16)
    q2.awaitTermination(120)
    vec_ids = [r.vec_id for r in store.load().select("vec_id").collect()]
    assert sorted(vec_ids) == list(range(8))  # once each, no replay of f1


# ------------------------------------------------- snapshot table (MERGE)


def _snap_rows(tbl, version=None):
    return {
        r.id: (r.name, r.score) for r in tbl.read(version=version).collect()
    }


def test_snapshot_merge_updates_and_inserts(spark, tmp_path):
    """MERGE semantics: matched keys replaced by the update row, unmatched
    update rows inserted, untouched rows carried forward."""
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)],
        "id long, name string, score double",
    )
    tbl.create(base, keys=["id"], n_buckets=8)
    assert tbl.version() == 0
    assert _snap_rows(tbl) == {i: (f"n{i}", float(i)) for i in range(20)}

    updates = spark.createDataFrame(
        [(3, "UP3", 30.0), (7, "UP7", 70.0), (99, "NEW", 9.9)],
        "id long, name string, score double",
    )
    assert tbl.merge_upsert(updates) == 1
    got = _snap_rows(tbl)
    assert got[3] == ("UP3", 30.0) and got[7] == ("UP7", 70.0)
    assert got[99] == ("NEW", 9.9)
    assert len(got) == 21
    assert got[5] == ("n5", 5.0)  # untouched row intact
    # time travel: v0 still reads the pre-merge snapshot
    assert _snap_rows(tbl, version=0) == {
        i: (f"n{i}", float(i)) for i in range(20)
    }


def test_snapshot_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale contract: the new version directory contains ONLY the buckets
    the update batch touched — merge cost ∝ touched data, not table size."""
    import os

    from pyspark.sql import functions as F

    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    root = tmp_path / "t"
    tbl = SnapshotTable(spark, str(root))
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(200)],
        "id long, name string, score double",
    )
    tbl.create(base, keys=["id"], n_buckets=16)
    one = spark.createDataFrame(
        [(42, "UP", 1.0)], "id long, name string, score double"
    )
    tbl.merge_upsert(one)
    expected_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(42).cast("long")), F.lit(16)).cast("int")
    ).collect()[0][0]
    # resolve the v1 data dir through the manifest (dir names carry a
    # per-attempt unique token, so they are never hardcoded)
    v1_dir = tbl._read_manifest()["buckets"][str(expected_bucket)]
    v1_buckets = [
        d for d in os.listdir(root / v1_dir) if d.startswith("_bucket=")
    ]
    assert v1_buckets == [f"_bucket={expected_bucket}"]
    # manifest still maps the other 15 buckets to v0's dir by reference
    assert len(_snap_rows(tbl)) == 200


def test_snapshot_merge_nondeterministic_batch_keeps_buckets(spark, tmp_path):
    """A non-deterministic update batch is evaluated ONCE per merge: the
    buckets it reads and the buckets it writes come from the same rows.
    Evaluated twice, a key can land in a bucket that was never read, and
    the commit replaces that whole bucket with the update row alone."""
    import random

    from pyspark.sql.functions import udf

    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(800)],
            "id long, name string, score double",
        ),
        keys=["id"],
        n_buckets=8,
    )
    for k in range(6):
        base = 10_000 + 1000 * k  # each merge inserts one new key
        key = udf(lambda: base + random.randrange(1000), "long")
        tbl.merge_upsert(
            spark.range(1).select(
                key.asNondeterministic()().alias("id"),
                F.lit("new").alias("name"),
                F.lit(1.0).alias("score"),
            )
        )
    got = _snap_rows(tbl)
    assert len(got) == 806
    assert all(i in got for i in range(800))


def test_snapshot_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: a writer whose base version was superseded
    must fail with SnapshotConflictError, not silently drop the winner."""
    import pytest as _pytest

    from mcp_hubspot_spark.sources.snapshot_table import (
        SnapshotConflictError,
        SnapshotTable,
    )

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, name string, score double"
    )
    tbl.create(base, keys=["id"], n_buckets=4)
    u = spark.createDataFrame(
        [(2, "b", 2.0)], "id long, name string, score double"
    )
    tbl.merge_upsert(u)
    # simulate a concurrent writer: stale expected_version at commit time
    stale = {"version": 5, "keys": ["id"], "n_buckets": 4, "buckets": {}}
    with _pytest.raises(SnapshotConflictError):
        tbl._commit(stale, expected_version=0)
    assert tbl.version() == 1  # losing commit left the table untouched


def test_snapshot_delete_where(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)],
        "id long, name string, score double",
    )
    tbl.create(base, keys=["id"], n_buckets=8)
    v = tbl.delete_where(F.col("id") >= 40)
    assert v == 1
    assert sorted(_snap_rows(tbl)) == list(range(40))
    # no-op delete creates no new version
    assert tbl.delete_where(F.col("id") >= 1000) == 1
    assert sorted(_snap_rows(tbl)) == list(range(40))


def test_write_sized_targets_file_count(spark, tmp_path):
    """Size-targeted writer: a small byte target yields multiple files, a
    huge one collapses to a single file — and the data round-trips."""
    from mcp_hubspot_spark.sources.files import write_sized
    from mcp_hubspot_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    small = str(tmp_path / "small")
    n_small = write_sized(docs, small, target_file_bytes=16 * 1024)
    big = str(tmp_path / "big")
    n_big = write_sized(docs, big, target_file_bytes=1 << 30)
    assert n_big == 1 and n_small > 1
    files_small = [p for p in Path(small).glob("*.parquet")]
    assert len(files_small) == n_small
    assert spark.read.parquet(small).count() == docs.count()
    assert spark.read.parquet(big).count() == docs.count()


def test_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    """ORC write/read roundtrip preserves values; filters push into the
    ORC scan (stripe-stat skipping at scale) and partition pruning works
    the same as parquet."""
    from mcp_hubspot_spark.sources.files import read_orc, write_orc
    from pyspark.sql import functions as F

    df = spark.range(0, 200).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part"),
        (F.col("id") * 2.5).alias("val"),
    )
    path = str(tmp_path / "orc_tbl")
    write_orc(df, path, partition_by=["part"])
    back = read_orc(spark, path)
    assert back.count() == 200
    got = {(r.id, r.val) for r in back.select("id", "val").collect()}
    assert got == {(i, i * 2.5) for i in range(200)}
    # predicate pushdown reaches the ORC scan
    plan = (
        back.filter(F.col("id") > 150)
        .select("id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters", 1)[1]
    # partition pruning: only one directory scanned
    pruned = back.filter(F.col("part") == "2")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 50
    assert "PartitionFilters" in pplan


def test_table_changes_cdc_between_versions(spark, tmp_path):
    """Version-to-version change feed classifies added/changed rows (and
    removed via delete), matches a brute-force full diff, and reads only
    manifest-changed buckets."""
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable
    from mcp_hubspot_spark.operators.joins import snapshot_diff
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, payload string"
    )
    t.create(base, keys=["id"], n_buckets=8)
    ups = spark.createDataFrame(
        [(1, "CHANGED"), (2, "v2"), (100, "NEW")], "id long, payload string"
    )
    t.merge_upsert(ups)  # v1: id=1 changed, id=2 overwritten same, id=100 new
    got = {
        (r.id, r.diff_status) for r in t.table_changes(0, 1).collect()
    }
    assert got == {(1, "changed"), (100, "added")}
    # brute-force equality on the full table pair
    brute = {
        (r.id, r.diff_status)
        for r in snapshot_diff(t.read(0), t.read(1), "id", ["payload"])
        .filter(F.col("diff_status") != "unchanged")
        .collect()
    }
    assert got == brute
    v2 = t.delete_where(F.col("id") == 5)
    got2 = {(r.id, r.diff_status) for r in t.table_changes(1, v2).collect()}
    assert got2 == {(5, "removed")}


def test_compact_merges_fragmented_buckets(spark, tmp_path):
    """Repeated merges fragment bucket dirs into many files; compact
    rewrites them to one file each, preserves rows exactly, bumps the
    version, and leaves the pre-compaction version readable."""
    import glob
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(60)], "id long, val long"
    )
    t.create(base, keys=["id"], n_buckets=4)
    for round_ in range(3):
        ups = spark.createDataFrame(
            [(i, i * 10 + round_ + 1) for i in range(0, 60, 5)],
            "id long, val long",
        )
        t.merge_upsert(ups)
    before_rows = sorted(map(tuple, t.read().collect()))
    v_before = t.version()

    def files_per_bucket():
        m = t._read_manifest()
        return {
            b: len(glob.glob(
                f"{t.root}/{m['buckets'][b]}/_bucket={b}/*.parquet"))
            for b in m["buckets"]
        }

    v_after = t.compact()
    assert v_after == v_before + 1
    assert all(n == 1 for n in files_per_bucket().values())
    assert sorted(map(tuple, t.read().collect())) == before_rows
    # time travel to the fragmented version still works
    assert sorted(map(tuple, t.read(v_before).collect())) == before_rows
    # idempotent: nothing fragmented -> no new version
    assert t.compact() == v_after


def test_vacuum_reclaims_unreferenced_versions(spark, tmp_path):
    """Vacuum deletes version dirs nothing references, keeps every dir
    the current manifest points into (even old ones still owning
    buckets), and the current read is unaffected."""
    import os
    import pytest as _pytest
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, "base") for i in range(40)], "id long, val string"
    )
    t.create(base, keys=["id"], n_buckets=4)
    # touch ONLY bucket(s) containing id=0 twice: v1's dir becomes fully
    # superseded by v2's, while v0's still owns the untouched buckets
    dirs_v0 = {d for d in os.listdir(t.root) if d.startswith("v_")}
    t.merge_upsert(spark.createDataFrame([(0, "r0")], "id long, val string"))
    v1_dir = next(
        d
        for d in os.listdir(t.root)
        if d.startswith("v_") and d not in dirs_v0
    )
    t.merge_upsert(spark.createDataFrame([(0, "r1")], "id long, val string"))
    before = sorted(map(tuple, t.read().collect()))
    deleted = t.vacuum()
    assert deleted == [v1_dir]  # v0 partially live, v2 current
    assert sorted(os.listdir(t.root)).count(v1_dir) == 0
    assert sorted(map(tuple, t.read().collect())) == before
    # time travel beyond the horizon is gone
    with _pytest.raises(Exception):
        t.read(1).collect()


def test_write_jsonl_shards_roundtrip(spark, tmp_path):
    """Sharded JSONL export: shard count targets rows_per_shard, rows
    roundtrip exactly through the schema-enforced reader."""
    import glob
    from mcp_hubspot_spark.sources.files import read_jsonl, write_jsonl_shards
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    df = spark.range(0, 1000).select(
        "id", F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    path = str(tmp_path / "export")
    shards = write_jsonl_shards(df, path, rows_per_shard=300)
    assert shards == 4
    files = glob.glob(f"{path}/part-*.json.gz")
    assert len(files) == 4
    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    back = read_jsonl(spark, path, schema)
    assert back.count() == 1000
    got = {(r.id, r.text) for r in back.select("id", "text").collect()}
    assert got == {(i, f"doc {i}") for i in range(1000)}


def test_snapshot_merge_schema_evolution(spark, tmp_path):
    """Add-nullable-column on MERGE: the evolved column appears table-wide
    with NULL for untouched/pre-evolution rows, only touched buckets are
    rewritten, old versions time-travel with their old schema, CDC across
    the evolution classifies correctly, and a narrow batch raises unless
    opted in."""
    import pytest

    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"p{i}") for i in range(20)], "id long, payload string"
    )
    t.create(base, keys=["id"], n_buckets=8)

    # evolve: update batch carries a NEW nullable column
    updates = spark.createDataFrame(
        [(3, "p3-new", "gold"), (25, "p25", "silver")],
        "id long, payload string, tier string",
    )
    v1 = t.merge_upsert(updates)
    got = {(r.id, r.payload, r.tier) for r in t.read().collect()}
    assert (3, "p3-new", "gold") in got and (25, "p25", "silver") in got
    # untouched rows read the added column as NULL
    assert (1, "p1", None) in got and len(got) == 21
    assert set(t.read().columns) == {"id", "payload", "tier"}

    # time travel: v0 still reads with the pre-evolution schema
    assert set(t.read(version=0).columns) == {"id", "payload"}
    assert t.read(version=0).count() == 20

    # CDC across the evolution: inserted + changed rows, no schema error
    changes = {
        (r.id, r.diff_status) for r in t.table_changes(0, v1).collect()
    }
    assert (3, "changed") in changes and (25, "added") in changes

    # narrow batch (missing a table column) raises by default...
    narrow = spark.createDataFrame([(7,)], "id long")
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge_upsert(narrow)
    # ...and NULLs the matched row's other columns when opted in
    v2 = t.merge_upsert(narrow, allow_missing_columns=True)
    row7 = t.read(version=v2).filter("id = 7").collect()[0]
    assert (row7.payload, row7.tier) == (None, None)

    # a batch without the key column always raises
    with pytest.raises(ValueError, match="key columns"):
        t.merge_upsert(spark.createDataFrame([("x",)], "payload string"))


def test_zonemap_skipping_and_zorder_both_columns(spark, tmp_path):
    """Zone-map pruning reads a fraction of files for a selective range
    and returns exactly the full-scan answer; a Z-ordered layout prunes
    on EITHER column, where a linear sort only prunes its leading one."""
    from mcp_hubspot_spark.sources.zonemap import (
        build_zonemap,
        read_pruned,
        write_zordered,
    )

    n = 50_000
    base = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id") * 7919, F.lit(n))).alias("a"),
        (F.pmod(F.col("id") * 104729, F.lit(n))).alias("b"),
    )

    # linear layout: sorted by a → files contiguous in a, random in b
    lin = str(tmp_path / "lin")
    base.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(lin)
    build_zonemap(spark, lin, ["a", "b"])
    df, read_a, total = read_pruned(spark, lin, "a", 100, 1500)
    assert total == 16 and read_a <= 2
    want = {r.k for r in base.filter(F.col("a").between(100, 1500)).collect()}
    assert {r.k for r in df.collect()} == want
    _, read_b_lin, _ = read_pruned(spark, lin, "b", 100, 1500)
    assert read_b_lin >= 14  # trailing column: linear sort cannot skip

    # z-ordered layout: both columns prune
    zo = str(tmp_path / "zo")
    write_zordered(base, zo, "a", "b", n_files=16)
    build_zonemap(spark, zo, ["a", "b"])
    dfa, za, ztotal = read_pruned(spark, zo, "a", 100, 1500)
    dfb, zb, _ = read_pruned(spark, zo, "b", 100, 1500)
    assert ztotal == 16
    assert za <= 8 and zb <= 8  # both dimensions skip
    assert {r.k for r in dfa.collect()} == want
    wantb = {r.k for r in base.filter(F.col("b").between(100, 1500)).collect()}
    assert {r.k for r in dfb.collect()} == wantb


@pytest.mark.slow
def test_incremental_aggregate_tracks_direct(spark, tmp_path):
    """The CDC-maintained summary equals the direct aggregate after
    inserts, updates, group moves, and deletes — decimal-exact, and
    without rescanning the base table on refresh."""
    from mcp_hubspot_spark.sources.incremental_agg import IncrementalAggregate
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "id long, grp string, val double",
    )
    t.create(base, keys=["id"], n_buckets=8)
    agg = IncrementalAggregate(spark, t, "grp", "val", str(tmp_path / "agg"))
    agg.initialize()

    def check():
        got = {
            (r.grp, r.n_rows, float(r.total)) for r in agg.read().collect()
        }
        want = {
            (r.grp, r.n_rows, float(r.total))
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("val").cast("decimal(28,6)")).alias("total"),
            )
            .collect()
        }
        assert got == want

    check()
    # inserts + an update + a GROUP MOVE (id 4: g1 -> g0)
    t.merge_upsert(
        spark.createDataFrame(
            [(100, "g0", 5.5), (4, "g0", 40.0), (7, "g1", 7.25)],
            "id long, grp string, val double",
        )
    )
    assert agg.refresh() == t.version()
    check()
    # deletes (drops some of every group)
    t.delete_where(F.col("id") % 5 == 0)
    agg.refresh()
    check()
    # retract an entire group: move all g2 rows to g0
    g2 = t.read().filter(F.col("grp") == "g2").select(
        "id", F.lit("g0").alias("grp"), "val"
    )
    t.merge_upsert(g2)
    agg.refresh()
    check()
    assert not agg.read().filter(F.col("grp") == "g2").collect()
    # no-op refresh
    v = t.version()
    assert agg.refresh() == v


def test_snapshot_restore(spark, tmp_path):
    """RESTORE rolls back by pointer swap as a new commit: contents
    equal the target version, history keeps moving forward, vacuuming
    the restore target first makes it fail loudly."""
    import pytest

    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame(
            [(i, f"v0-{i}") for i in range(10)], "id long, p string"
        ),
        keys=["id"], n_buckets=4,
    )
    t.merge_upsert(
        spark.createDataFrame([(3, "v1-3"), (20, "v1-20")], "id long, p string")
    )
    t.merge_upsert(spark.createDataFrame([(5, "v2-5")], "id long, p string"))
    v0_rows = {(r.id, r.p) for r in t.read(version=0).collect()}

    v3 = t.restore(0)
    assert v3 == 3 and t.version() == 3
    assert {(r.id, r.p) for r in t.read().collect()} == v0_rows
    # forward history intact: v2 still time-travels
    assert (5, "v2-5") in {(r.id, r.p) for r in t.read(version=2).collect()}
    # restore to the current version is a no-op
    assert t.restore(3) == 3
    # a merge after restore builds on the restored state
    t.merge_upsert(spark.createDataFrame([(0, "v4-0")], "id long, p string"))
    got = {(r.id, r.p) for r in t.read().collect()}
    assert (0, "v4-0") in got and (3, "v1-3") not in got

    # vacuum away old versions, then restore must refuse
    t.vacuum(keep_versions=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(1)


def test_zonemap_stale_sidecar_falls_back_to_full_scan(spark, tmp_path):
    """Files appended after build_zonemap make the sidecar stale; the
    reader must detect the mismatch and return the full-scan answer
    (reporting files_read == files_total), never silently drop rows."""
    import shutil

    from mcp_hubspot_spark.sources.zonemap import build_zonemap, read_pruned

    tbl = str(tmp_path / "tbl")
    spark.range(1000).select(F.col("id").alias("k")).repartitionByRange(
        4, "k"
    ).write.parquet(tbl)
    build_zonemap(spark, tbl, ["k"])
    df, nread, ntotal = read_pruned(spark, tbl, "k", 0, 99)
    assert (nread, ntotal) == (1, 4)
    assert df.count() == 100

    # append rows the sidecar has never seen (simulates a writer that
    # skipped the zonemap rebuild)
    extra = str(tmp_path / "extra")
    spark.createDataFrame([(5,), (2000,)], "k long").coalesce(
        1
    ).write.parquet(extra)
    part = next(Path(extra).glob("*.parquet"))
    shutil.copy(part, Path(tbl) / "part-appended.parquet")

    df2, nread2, ntotal2 = read_pruned(spark, tbl, "k", 0, 99)
    assert nread2 == ntotal2  # full-scan fallback, no skipping claimed
    assert df2.count() == 101  # the appended in-range row IS returned


def test_incremental_aggregate_null_group_and_null_values(spark, tmp_path):
    """NULL group keys merge null-safely (one NULL-group row, never a
    split) and a group whose values are all NULL reports total NULL —
    bit-equal with the direct aggregate, matching SQL sum semantics."""
    from mcp_hubspot_spark.sources.incremental_agg import IncrementalAggregate
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    rows = [(0, None, 1.0), (1, None, 2.0), (2, "g0", None), (3, "g1", 4.0)]
    t.create(
        spark.createDataFrame(rows, "id long, grp string, val double"),
        keys=["id"],
        n_buckets=4,
    )
    agg = IncrementalAggregate(spark, t, "grp", "val", str(tmp_path / "agg"))
    agg.initialize()

    def check():
        got = {
            (r.grp, r.n_rows, None if r.total is None else float(r.total))
            for r in agg.read().collect()
        }
        want = {
            (r.grp, r.n_rows, None if r.total is None else float(r.total))
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("val").cast("decimal(28,6)")).alias("total"),
            )
            .collect()
        }
        assert got == want
        # exactly one row for the NULL group, never a split pair
        assert sum(1 for g, _, _ in got if g is None) <= 1

    check()
    # grow the NULL group and flip g0 between all-NULL and valued
    t.merge_upsert(
        spark.createDataFrame(
            [(4, None, 10.0), (2, "g0", 7.5), (5, "g0", None)],
            "id long, grp string, val double",
        )
    )
    agg.refresh()
    check()
    # retract g0's only non-NULL value -> total must go back to NULL
    t.merge_upsert(
        spark.createDataFrame([(2, "g0", None)], "id long, grp string, val double")
    )
    agg.refresh()
    check()
    g0 = [r for r in agg.read().collect() if r.grp == "g0"][0]
    assert g0.total is None and g0.n_rows == 2
    # delete NULL-group rows one by one (null-safe retraction)
    t.delete_where(F.col("id") == 0)
    agg.refresh()
    check()


def test_snapshot_table_public_keys(spark, tmp_path):
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame([(1, "a")], "id long, p string"), keys=["id"]
    )
    assert t.keys == ["id"]


def test_snapshot_concurrent_writers_loser_retries_cleanly(spark, tmp_path):
    """Two interleaved merge_upserts: the writer whose base version was
    superseded mid-flight fails with SnapshotConflictError (never a
    silent overwrite), its orphan data dir is cleaned up, and a retry on
    the new version succeeds with BOTH writers' rows in the table."""
    import json as _json
    import os

    import pytest as _pytest

    from mcp_hubspot_spark.sources.snapshot_table import (
        SnapshotConflictError,
        SnapshotTable,
    )

    root = tmp_path / "tbl"
    t_a = SnapshotTable(spark, str(root))
    t_b = SnapshotTable(spark, str(root))
    base = spark.createDataFrame(
        [(i, "base") for i in range(100)], "id long, val string"
    )
    t_a.create(base, keys=["id"], n_buckets=8)

    batch_a = spark.createDataFrame([(1, "from_a")], "id long, val string")
    batch_b = spark.createDataFrame([(2, "from_b")], "id long, val string")

    # interleave deterministically: A's commit step first lets B run a
    # FULL merge_upsert (read manifest -> write data -> commit), then
    # proceeds — so A's expected version is stale by exactly one commit
    orig_commit = t_a._commit
    fired = []

    def racing_commit(manifest, expected_version=None):
        if not fired:
            fired.append(True)
            t_b.merge_upsert(batch_b)
        return orig_commit(manifest, expected_version=expected_version)

    t_a._commit = racing_commit
    with _pytest.raises(SnapshotConflictError):
        t_a.merge_upsert(batch_a)

    # B's commit won; A's attempt left no orphan data directory
    assert t_a.version() == 1
    rows = {r.id: r.val for r in t_a.read().collect()}
    assert rows[2] == "from_b" and rows[1] == "base"
    manifests = [_json.load(open(root / "_latest.json"))]
    for f in os.listdir(root):
        if f.startswith("_manifest_v"):
            manifests.append(_json.load(open(root / f)))
    referenced = {v for m in manifests for v in m["buckets"].values()}
    on_disk = {d for d in os.listdir(root) if d.startswith("v_")}
    assert on_disk == referenced

    # the loser retries onto the new version and succeeds
    assert t_a.merge_upsert(batch_a) == 2
    rows = {r.id: r.val for r in t_a.read().collect()}
    assert rows[1] == "from_a" and rows[2] == "from_b" and len(rows) == 100


def test_incremental_agg_reads_pre_nvals_summary(spark, tmp_path):
    """A summary persisted before the n_vals column existed must still
    refresh (migration fallback derives n_vals conservatively) instead
    of failing with an unresolved-column error."""
    from mcp_hubspot_spark.sources.incremental_agg import IncrementalAggregate
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "id long, grp string, v double",
    )
    t.create(base, keys=["id"], n_buckets=4)
    agg = IncrementalAggregate(
        spark, t, group_col="grp", value_col="v", path=str(tmp_path / "agg")
    )
    v0 = agg.initialize()

    # simulate the pre-n_vals on-disk layout: rewrite the summary
    # without the column (bounded: |groups| rows)
    old_rows = [
        (r.grp, r.n_rows, r.total) for r in agg.read().collect()
    ]
    spark.createDataFrame(
        old_rows, "grp string, n_rows long, total decimal(28,6)"
    ).coalesce(1).write.mode("overwrite").parquet(agg._data_path(v0))
    assert "n_vals" not in spark.read.parquet(agg._data_path(v0)).columns

    t.merge_upsert(
        spark.createDataFrame(
            [(0, "g1", 100.0), (99, "g2", 7.5)], "id long, grp string, v double"
        )
    )
    agg.refresh()  # must not raise on the legacy summary
    got = {
        (r.grp): (r.n_rows, float(r.total)) for r in agg.read().collect()
    }
    want = {
        r.grp: (r.n_rows, float(r.total))
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("total"),
        )
        .collect()
    }
    assert got == want
    # the refreshed summary persists the derived column: migration done
    assert "n_vals" in agg.read().columns
