"""Packed single-long DV keying (sources/lake.py:_dv_pack_base):
exactness of the (file, ordinal) -> one-64-bit-key encoding, plan
shape (single-key anti-join, pos folded into the key), parity across
the three keying modes, and every fallback arm.

Why this exists: a BroadcastHashJoin keyed on ONE long probes Spark's
LongHashedRelation fast path; two long keys force UnsafeHashedRelation
(per-probe UnsafeRow projection + byte compare), measured ~10x slower
per row at 60 M rows. The packing must
never trade that speed for correctness — these tests pin the verified
fallbacks, the bounded caches behind them, and the driver-side maps
built as local relations (`arrow_kernels.local_df`), which plan no job."""

import pyspark.sql.functions as F

import ndvi_etl_pipeline_spark.sources.lake as L
from ndvi_etl_pipeline_spark.sources.lake import (
    lake_delete,
    lake_read,
    lake_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _anti_lines(df):
    return [l for l in _plan(df).splitlines() if "Join LeftAnti" in l]


def test_packed_keying_default_plan_and_rows(spark, tmp_path):
    """Default ('auto') DV keying packs: the anti-join keys on the
    single __dv_k long (shiftleft/OR visible in the plan), no
    two-column (__dv_h, __dv_pos) key pair, rows exact, broadcast
    hint kept."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(100)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_k" in plan and "shiftleft" in plan
    assert "__dv_h" not in plan  # the 2-key form never materializes
    anti = _anti_lines(df)
    assert anti and all("strategy=broadcast" in l for l in anti)
    assert sorted(r.k for r in df.collect()) == list(range(1, 100, 2))


def test_packed_vs_hash2_vs_decoded_parity(spark, tmp_path):
    """All three keying modes return the identical visible row set on
    a multi-file table with two chained DV deletes."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(300)]).coalesce(3), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    want = sorted(k for k in range(300) if k % 2 and k % 3)
    got = {}
    for mode in ("auto", "hash2", "decoded"):
        spark.conf.set(L.DV_KEYING_CONF, mode)
        try:
            got[mode] = sorted(r.k for r in lake_read(spark, t).collect())
        finally:
            spark.conf.unset(L.DV_KEYING_CONF)
    assert got["auto"] == got["hash2"] == got["decoded"] == want
    # and the modes really took different key paths
    spark.conf.set(L.DV_KEYING_CONF, "hash2")
    try:
        p2 = _plan(lake_read(spark, t))
        assert "__dv_h" in p2 and "__dv_k" not in p2
    finally:
        spark.conf.unset(L.DV_KEYING_CONF)


def test_pack_falls_back_when_hash_bits_collide(spark, tmp_path, monkeypatch):
    """When the ordinal width leaves too few hash bits for the entry
    set's truncated hashes to stay distinct (forced here by pretending
    every file holds 2^62 rows -> ONE hash bit for three files, a
    pigeonhole-guaranteed collision), packing must refuse and the read
    must take the two-column hash keying — rows exact either way."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(90)]).coalesce(3), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    monkeypatch.setattr(L, "_dv_posbits", lambda path, rels: 62)
    L._DV_PACK.clear()
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_h" in plan and "__dv_k" not in plan
    assert sorted(r.k for r in df.collect()) == list(range(1, 90, 2))
    L._DV_PACK.clear()


def test_pack_falls_back_when_footers_unreadable(spark, tmp_path, monkeypatch):
    """_dv_posbits=None (unreadable footer) disables packing but not
    the read."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(40)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 4 == 0, strategy="dv")
    monkeypatch.setattr(L, "_dv_posbits", lambda path, rels: None)
    L._DV_PACK.clear()
    df = lake_read(spark, t)
    assert "__dv_k" not in _plan(df)
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(40) if k % 4
    ]
    L._DV_PACK.clear()


def test_posbits_from_footer_metadata(spark, tmp_path):
    """_dv_posbits = bit_length(max file rows - 1), floored at 1."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(1000)]).coalesce(1), t)
    m = L._read_manifest(t, L._latest_version(t))
    rels = [L._entry_rel(e) for e in m["files"]]
    assert L._dv_posbits(t, rels) == (1000 - 1).bit_length()  # 10
    t2 = str(tmp_path / "t2")
    lake_write(_df(spark, [(1, "v")]).coalesce(1), t2)
    m2 = L._read_manifest(t2, L._latest_version(t2))
    assert L._dv_posbits(t2, [L._entry_rel(e) for e in m2["files"]]) == 1


def test_packed_key_is_exact_same_ordinal_across_files(spark, tmp_path):
    """The classic 2-key trap: ordinal 0 deleted in file A must not
    delete ordinal 0 of file B. Delete exactly one full file's rows
    via a predicate that hits one coalesced partition and verify the
    other files' same-ordinal rows survive under packed keying."""
    t = str(tmp_path / "t")
    # 3 files x 10 rows; delete rows 0..9 of the k<10 file only
    df = spark.createDataFrame(
        [(i, "v") for i in range(30)], "k int, v string"
    ).repartitionByRange(3, "k")
    lake_write(df, t)
    lake_delete(spark, t, F.col("k") < 10, strategy="dv")
    out = lake_read(spark, t)
    assert "__dv_k" in _plan(out)
    assert sorted(r.k for r in out.collect()) == list(range(10, 30))


def test_dv_keying_conf_typo_raises(spark, tmp_path):
    """An unrecognized dvKeying value must error, not silently select
    a mode — a parity/bench run that believes it forced 'hash2' but
    typed 'hash' would measure the wrong plan."""
    import pytest

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(10)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    spark.conf.set(L.DV_KEYING_CONF, "hash")
    try:
        with pytest.raises(ValueError, match="dvKeying"):
            lake_read(spark, t)
    finally:
        spark.conf.unset(L.DV_KEYING_CONF)


def test_posbits_per_file_cache_shared_across_subsets(spark, tmp_path):
    """Footer num_rows is cached per FILE: a second (different) subset
    of the same table must not re-read footers of shared files, and
    posbits over a subset reflects only that subset's files."""
    import os

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "v") for i in range(1024 + 2)], "k int, v string"
    ).repartitionByRange(2, "k")  # file A: 513 rows, file B: 513 rows
    lake_write(df, t)
    m = L._read_manifest(t, L._latest_version(t))
    rels = sorted(L._entry_rel(e) for e in m["files"])
    paths = [r if os.path.isabs(r) else os.path.join(t, r) for r in rels]
    full = L._dv_posbits(t, rels)
    # every file's footer is now cached under its absolute path
    assert all(p in L._DV_FILE_ROWS for p in paths)
    assert full == (max(L._DV_FILE_ROWS[p] for p in paths) - 1).bit_length()
    # a one-file subset answers from the cache with its own width
    one = L._dv_posbits(t, rels[:1])
    assert one == max((L._DV_FILE_ROWS[paths[0]] - 1).bit_length(), 1)


def test_packed_keep_meta_chained_deletes(spark, tmp_path):
    """keep_meta consumers (a second dv-delete addressing rows through
    (_DV_FILE, _DV_POS)) still work when the first read was packed."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(30)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    got = sorted(r.k for r in lake_read(spark, t).collect())
    assert got == [k for k in range(1, 30, 2) if k % 3 != 0]
    cols = lake_read(spark, t).columns
    assert "__dv_k" not in cols and "__dv_h" not in cols


def _entry_files(t):
    import os

    m = L._read_manifest(t, L._latest_version(t))
    return {os.path.join(t, L._entry_rel(e)) for e in m["files"]}


def test_unreadable_footer_is_not_cached(spark, tmp_path, monkeypatch):
    """A footer read that fails once must cost packing for that read
    only: the next read re-reads the footer and packs."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(40)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 4 == 0, strategy="dv")
    files, real, failed = _entry_files(t), pq.ParquetFile, []

    def flaky(src, *a, **kw):
        if not failed and src in files:
            failed.append(src)
            raise OSError("transient footer read failure")
        return real(src, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    want = [k for k in range(40) if k % 4]
    first = lake_read(spark, t)
    assert failed and "__dv_k" not in _plan(first)
    assert sorted(r.k for r in first.collect()) == want
    second = lake_read(spark, t)
    assert "__dv_k" in _plan(second)
    assert sorted(r.k for r in second.collect()) == want


def test_failed_uri_probe_is_not_cached(spark, tmp_path, monkeypatch):
    """A URI-prefix probe that raises once falls back to decoded keying
    for that read only; the next read probes again and packs."""
    from pyspark.sql import DataFrameReader

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(20)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    files, real, failed = _entry_files(t), DataFrameReader.parquet, []

    def flaky(self, *paths, **kw):
        if not failed and len(paths) == 1 and paths[0] in files:
            failed.append(paths[0])
            raise OSError("transient probe failure")
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    want = list(range(1, 20, 2))
    first = lake_read(spark, t)
    assert failed and "UrlCodec" in _plan(first)
    assert sorted(r.k for r in first.collect()) == want
    second = lake_read(spark, t)
    assert "__dv_k" in _plan(second)
    assert sorted(r.k for r in second.collect()) == want


def test_dv_caches_are_bounded(spark, tmp_path, monkeypatch):
    """Every commit makes a new entry set; after bound + 1 distinct
    sets the entry-set caches and the per-file footer cache hold at
    most their bound, and every read is still exact."""
    monkeypatch.setattr(L, "_SNAP_CACHE_MAX", 2)
    monkeypatch.setattr(L, "_DV_FILE_ROWS_MAX", 3)
    for name in ("_DV_HASHES", "_DV_PACK", "_DV_FILE_ROWS"):
        monkeypatch.setattr(L, name, {})
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(10)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    want = set(range(1, 10, 2))
    for n in range(L._SNAP_CACHE_MAX + 1):
        lo = 10 * (n + 1)
        lake_write(_df(spark, [(i, "v") for i in range(lo, lo + 10)]), t)
        want |= set(range(lo, lo + 10))
        df = lake_read(spark, t)
        assert "__dv_k" in _plan(df)
        assert sorted(r.k for r in df.collect()) == sorted(want)
    assert len(L._DV_HASHES) <= L._SNAP_CACHE_MAX
    assert len(L._DV_PACK) <= L._SNAP_CACHE_MAX
    assert len(L._DV_FILE_ROWS) <= L._DV_FILE_ROWS_MAX


def test_full_hash_collision_falls_back_to_decoded(
    spark, tmp_path, monkeypatch
):
    """Two entry files whose full 64-bit raw-path hashes collide must
    not be hash-keyed at all (a DV row of one would delete the same
    ordinal of the other): the read takes decoded-string keying."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(60)]).coalesce(3), t)
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    real = L._dv_raw_hashes

    def colliding(spark, raws):
        hashes = real(spark, raws)
        first = next(iter(hashes.values()))
        return {r: first for r in hashes}

    monkeypatch.setattr(L, "_dv_raw_hashes", colliding)
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_h" not in plan and "__dv_k" not in plan
    assert "UrlCodec" in plan
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(60) if k % 3
    ]


def test_dv_read_planning_runs_no_job(spark, tmp_path):
    """Once a table's URI prefix is known, planning a DV read over a
    new entry set — hash map, collision check, pack bases — launches
    no Spark job and no plan node scans a Python RDD."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(60)]).coalesce(3), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    lake_read(spark, t).collect()  # probes and caches the URI prefix
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    # an append makes an entry set no cache has seen
    lake_write(_df(spark, [(i, "v") for i in range(60, 70)]), t)
    sc = spark.sparkContext
    group = f"dv-plan-{tmp_path.name}"
    sc.setJobGroup(group, "plan a DV read")
    try:
        df = lake_read(spark, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    qe = df._jdf.queryExecution()
    assert "__dv_k" in qe.optimizedPlan().toString()
    assert "ExistingRDD" not in qe.executedPlan().toString()
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(60) if k % 2 and k % 3
    ] + list(range(60, 70))
