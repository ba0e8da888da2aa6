"""Lake schema evolution (sources/lake.py): RENAME/DROP as
metadata-only commits via id-based column mapping (physical names are
stable, so stats/blooms/partition layouts and every already-written
byte keep working), and lossless TYPE WIDENING (int-chain→long,
float→double, int→double) that changes only the manifest schema —
Spark 4's parquet reader upcasts narrow files to the wider read
schema. Time travel, CDF, and MERGE must all stay correct across the
evolution boundary."""

import os

import pytest
from pyspark.sql import functions as F

import ndvi_etl_pipeline_spark.sources.lake as L
from ndvi_etl_pipeline_spark.sources.lake import (
    lake_alter_constraints,
    lake_compact,
    lake_delete,
    lake_drop_column,
    lake_merge,
    lake_read,
    lake_read_cdf,
    lake_rename_column,
    lake_write,
)


@pytest.fixture(autouse=True)
def small_interval(monkeypatch):
    """Checkpoint every 4 commits (see test_lake_metadata.py) — the
    evolution mechanics are interval-independent; this just exercises
    mapping tables THROUGH checkpoints cheaply."""
    monkeypatch.setattr(L, "LAKE_CHECKPOINT_INTERVAL", 4)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def test_rename_is_metadata_only_and_reads_back(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]), t)
    files_before = {e["path"] for e in L._read_manifest(t, 0)["files"]}
    v = lake_rename_column(t, "v", "label")
    m = L._read_manifest(t, v)
    assert {e["path"] for e in m["files"]} == files_before  # zero rewrites
    assert m["op"] == "rename_column"
    got = {r.k: r.label for r in lake_read(spark, t).collect()}
    assert got == {1: "a", 2: "b"}
    # time travel BEFORE the rename still shows the old name
    old = lake_read(spark, t, version=0)
    assert old.columns == ["k", "v"]
    assert {r.k: r.v for r in old.collect()} == {1: "a", 2: "b"}


def test_rename_then_append_and_stats_prune_on_physical(spark, tmp_path):
    """Appends after a rename write under the stable physical name;
    predicates on the NEW logical name must still prune files via the
    stats/blooms keyed by the physical name — across both pre- and
    post-rename files."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, f"a{i}") for i in range(5)]).coalesce(1), t)
    lake_rename_column(t, "k", "id")
    lake_write(
        _df(spark, [(i, f"b{i}") for i in range(100, 105)],
            "id int, v string").coalesce(1),
        t,
    )
    m = L._read_manifest(t, L._latest_version(t))
    pw = L._phys_where([("id", ">=", 100)], m)
    kept = [e for e in m["files"] if L._file_may_match(e, pw, ())]
    assert len(kept) == 1  # the pre-rename file pruned via physical stats
    got = sorted(
        r.id for r in lake_read(spark, t, where=[("id", ">=", 100)]).collect()
    )
    assert got == [100, 101, 102, 103, 104]
    got_all = sorted(r.id for r in lake_read(spark, t).collect())
    assert got_all == [0, 1, 2, 3, 4, 100, 101, 102, 103, 104]


def test_drop_column_hides_bytes_and_fresh_readd(spark, tmp_path):
    """Dropped columns leave the scan schema (old bytes unread);
    re-adding the same name allocates a fresh physical name, so the
    old values must NOT resurrect."""
    t = str(tmp_path / "t")
    lake_write(
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, x double"),
        t,
    )
    lake_drop_column(t, "x")
    assert lake_read(spark, t).columns == ["k", "v"]
    # re-add `x` via an evolving append: old rows read NULL, never 10.0
    lake_write(
        _df(spark, [(3, "c", 99.0)], "k int, v string, x double"), t
    )
    got = {r.k: r.x for r in lake_read(spark, t).collect()}
    assert got == {1: None, 2: None, 3: 99.0}
    m = L._read_manifest(t, L._latest_version(t))
    phys = L._mapping_physical(m)
    assert phys["x"].startswith("col-")  # fresh physical name
    # time travel to before the drop still shows the original values
    v0 = {r.k: r.x for r in lake_read(spark, t, version=0).collect()}
    assert v0 == {1: 10.0, 2: 20.0}


def test_drop_refuses_partition_bloom_constrained(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(
        _df(spark, [(1, "a", "k1")], "k int, part string, key string"),
        t,
        partition_by=("part",),
        bloom_cols=("key",),
    )
    lake_alter_constraints(spark, t, add_not_null=("k",))
    with pytest.raises(ValueError, match="partition"):
        lake_drop_column(t, "part")
    with pytest.raises(ValueError, match="bloom"):
        lake_drop_column(t, "key")
    with pytest.raises(ValueError, match="constraint"):
        lake_drop_column(t, "k")
    t2 = str(tmp_path / "t2")
    lake_write(_df(spark, [(1,)], "k int"), t2)
    with pytest.raises(ValueError, match="only column"):
        lake_drop_column(t2, "k")


def test_rename_constrained_column_rewrites_not_null(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    lake_alter_constraints(spark, t, add_not_null=("v",))
    lake_rename_column(t, "v", "label")
    m = L._read_manifest(t, L._latest_version(t))
    assert m["constraints"]["not_null"] == ["label"]
    with pytest.raises(ValueError, match="violate"):
        lake_write(_df(spark, [(9, None)], "k int, label string"), t)
    # CHECK-referenced columns refuse the rename
    lake_alter_constraints(spark, t, add_checks={"pos": "k >= 0"})
    with pytest.raises(ValueError, match="CHECK"):
        lake_rename_column(t, "k", "id")


def test_type_widening_append_and_read(spark, tmp_path):
    """An append with a WIDER type promotes the table schema (old
    narrow files upcast on read); an append NARROWER than the table
    upcasts the incoming rows; lossy changes refuse."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, 1.5)], "k int, x float"), t)
    lake_write(_df(spark, [(2**40, 2.5)], "k long, x double"), t)  # widens
    df = lake_read(spark, t)
    assert dict(df.dtypes) == {"k": "bigint", "x": "double"}
    got = sorted((r.k, r.x) for r in df.collect())
    assert got == [(1, 1.5), (2**40, 2.5)]
    # narrower incoming: upcast, schema unchanged
    lake_write(_df(spark, [(7, 7.5)], "k int, x float"), t)
    df = lake_read(spark, t)
    assert dict(df.dtypes) == {"k": "bigint", "x": "double"}
    assert df.count() == 3
    # lossy: refuse
    with pytest.raises(ValueError, match="type"):
        lake_write(_df(spark, [("s", 1.0)], "k string, x double"), t)
    # int → double allowed (the incoming int column upcasts into the
    # table's double)
    lake_write(_df(spark, [(8, 8)], "k int, x int"), t)
    assert dict(lake_read(spark, t).dtypes) == {"k": "bigint", "x": "double"}
    # long → double is lossy (>2^53): refuse
    t2 = str(tmp_path / "t2")
    lake_write(_df(spark, [(2**60,)], "big long"), t2)
    with pytest.raises(ValueError, match="type"):
        lake_write(_df(spark, [(1.5,)], "big double"), t2)


def test_merge_accepts_widened_updates(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, 10), (2, 20)], "k int, x int"), t)
    lake_merge(
        spark, _df(spark, [(2, 2**35), (3, 30)], "k int, x long"), t, ("k",)
    )
    df = lake_read(spark, t)
    assert dict(df.dtypes)["x"] == "bigint"
    got = {r.k: r.x for r in df.collect()}
    assert got == {1: 10, 2: 2**35, 3: 30}


def test_cdf_across_rename_and_widen(spark, tmp_path):
    """A CDF range spanning a rename (and a widen) reads every event
    under the TO-version logical schema — pre-rename inserts surface
    under the new name, physical scan names resolve via the to-version
    mapping."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)  # v0
    lake_write(_df(spark, [(2, "b")]), t)  # v1
    lake_rename_column(t, "v", "label")  # v2
    lake_write(_df(spark, [(3, "c")], "k int, label string"), t)  # v3
    lake_delete(spark, t, F.col("k") == 1, strategy="dv")  # v4
    feed = lake_read_cdf(spark, t, from_version=0)
    rows = sorted(
        (r._commit_version, r._change_type, r.k, r.label)
        for r in feed.collect()
    )
    assert rows == [
        (1, "insert", 2, "b"),
        (3, "insert", 3, "c"),
        (4, "delete", 1, "a"),
    ]


def test_time_travel_and_compact_across_evolution(spark, tmp_path):
    """Compaction of a mapped table rewrites files in PHYSICAL space:
    reads (current and time-traveled) stay correct; dropping history
    via restore-style reads keeps each version's own schema."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, f"r{i}") for i in range(4)]).coalesce(1), t)
    lake_rename_column(t, "v", "name")
    lake_write(
        _df(spark, [(10, "z")], "k int, name string").coalesce(1), t
    )
    v_before = L._latest_version(t)
    lake_compact(spark, t, num_files=1)
    df = lake_read(spark, t)
    assert df.columns == ["k", "name"]
    assert df.count() == 5
    assert len(L._read_manifest(t, L._latest_version(t))["files"]) == 1
    # post-compaction files were written under physical names: the
    # mapping must still resolve (physical stable across the rewrite)
    assert lake_read(spark, t, where=[("name", "==", "z")]).count() == 1
    old = lake_read(spark, t, version=v_before - 2)
    assert old.columns == ["k", "v"]  # pre-rename snapshot keeps its name


def test_checkpoint_roundtrips_mapping_tables(spark, tmp_path):
    """Checkpoint/reconstruction fidelity for mapped + widened tables:
    the scalar state (schema, mapping) rides in every delta record, so
    a checkpointed reconstruction equals pure replay."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    lake_rename_column(t, "v", "label")
    for i in range(L.LAKE_CHECKPOINT_INTERVAL):
        lake_write(
            _df(spark, [(i + 10, f"x{i}")], "k int, label string").coalesce(1), t
        )
    L._SNAP_CACHE.clear()
    L._CKPT_CACHE.clear()
    v = L._latest_version(t)
    m = L._read_manifest(t, v)
    assert m["column_mapping"]["cols"][1]["name"] == "label"
    assert m["column_mapping"]["cols"][1]["physical"] == "v"
    assert lake_read(spark, t).count() == 1 + L.LAKE_CHECKPOINT_INTERVAL
