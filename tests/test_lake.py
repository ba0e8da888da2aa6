"""Manifest lake (sources/lake.py): snapshot isolation, optimistic
concurrency, copy-on-write delete, compaction + time travel, vacuum."""

import json
import os

import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.sources.lake import (
    ConcurrentCommitError,
    lake_compact,
    lake_delete,
    lake_history,
    lake_read,
    lake_vacuum,
    lake_write,
)


def _lm(table_path, version):
    """Reconstructed full snapshot (the shape the legacy full-JSON
    manifests had) — tests assert on snapshot STATE, not on the
    delta-log storage encoding."""
    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest
    return _read_manifest(table_path, version)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_lake_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    assert lake_write(_df(spark, [(1, "a"), (2, "b")]), t) == 0
    assert lake_write(_df(spark, [(3, "c")]), t) == 1
    assert lake_write(_df(spark, [(9, "z")]), t, mode="overwrite") == 2

    # latest sees only the overwrite; every older snapshot is intact
    assert {r.k for r in lake_read(spark, t).collect()} == {9}
    assert {r.k for r in lake_read(spark, t, version=1).collect()} == {1, 2, 3}
    assert {r.k for r in lake_read(spark, t, version=0).collect()} == {1, 2}
    hist = lake_history(t)
    assert [h["op"] for h in hist] == ["append", "append", "overwrite"]


def test_lake_snapshot_isolation_under_writes(spark, tmp_path):
    """A reader that pinned version 0 must see version 0's rows even
    after later appends/overwrites move the table forward — the
    manifest pins the exact file set."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    pinned = lake_read(spark, t, version=0)
    lake_write(_df(spark, [(2, "b")]), t)
    lake_write(_df(spark, [(7, "q")]), t, mode="overwrite")
    assert [r.k for r in pinned.collect()] == [1]


def test_lake_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing to the same version: the loser's O_EXCL
    manifest create — the protocol's entire lock — must raise
    ConcurrentCommitError, never clobber. Exercised at the commit
    primitive (a race can't be staged deterministically around
    lake_write, which re-reads latest right before committing), then
    the retry path: a fresh lake_write lands on the next version with
    both writers' rows visible."""
    from ndvi_etl_pipeline_spark.sources.lake import _commit

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    winner = {
        "version": 1, "op": "append", "ts": 0,
        "files": _lm(t, 0)["files"],
        "schema": _df(spark, [(0, "x")]).schema.jsonValue(),
        "n_rows_delta": 0,
    }
    _commit(t, 1, winner)  # writer A publishes v1 first
    with pytest.raises(ConcurrentCommitError):
        _commit(t, 1, winner)  # writer B loses the race on v1
    # writer B retries on top of the winner and lands at v2
    assert lake_write(_df(spark, [(2, "b")]), t) == 2
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 2}


def test_lake_copy_on_write_delete(spark, tmp_path):
    """DELETE rewrites only the files containing matches: the other
    commit's files must carry over BY NAME (no rewrite), matched rows
    disappear, and the pre-delete snapshot still has them."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_write(_df(spark, [(3, "c"), (4, "d")]).coalesce(1), t)
    m1 = _lm(t, 1)
    untouched = [f["path"] for f in m1["files"]][:1]  # first commit's file

    v = lake_delete(spark, t, F.col("k") == 4)
    assert v == 2
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 2, 3}
    assert {r.k for r in lake_read(spark, t, version=1).collect()} == {1, 2, 3, 4}
    m2 = _lm(t, 2)
    paths2 = [f["path"] for f in m2["files"]]
    assert untouched[0] in paths2  # unmatched file carried over
    assert m2["rewrote_files"] and untouched[0] not in m2["rewrote_files"]

    # a predicate matching nothing publishes NO new snapshot
    assert lake_delete(spark, t, F.col("k") == 999) == 2


def test_lake_schema_evolution_and_type_guard(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    wide = spark.createDataFrame([(2, "b", 0.5)], "k int, v string, score double")
    lake_write(wide, t)
    got = {r.k: (r.v, r.score) for r in lake_read(spark, t).collect()}
    assert got == {1: ("a", None), 2: ("b", 0.5)}  # old file reads NULL
    bad = spark.createDataFrame([("x", "y")], "k string, v string")
    with pytest.raises(ValueError, match="type"):
        lake_write(bad, t)


def test_lake_compact_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        lake_write(_df(spark, [(i, str(i))]).coalesce(1), t)
    before = lake_read(spark, t)
    v = lake_compact(spark, t, num_files=1)
    m = _lm(t, v)
    assert len(m["files"]) == 1
    assert {r.k for r in lake_read(spark, t).collect()} == {0, 1, 2, 3}
    # pre-compact snapshot still readable (old files still on disk)
    assert {r.k for r in lake_read(spark, t, version=3).collect()} == {0, 1, 2, 3}
    assert before.count() == 4

    # default retention keeps even unreferenced files (they could be a
    # concurrent writer's staged-but-uncommitted data); retention 0 is
    # the explicit exclusive-access override
    assert lake_vacuum(t, keep_last=1) == []
    deleted = lake_vacuum(t, keep_last=1, retention_seconds=0)
    assert len(deleted) == 4  # the four pre-compact single-row files
    # latest still intact; vacuumed snapshots are gone from history
    assert {r.k for r in lake_read(spark, t).collect()} == {0, 1, 2, 3}
    assert [h["version"] for h in lake_history(t)] == [v]


def test_lake_merge_upserts_atomically(spark, tmp_path):
    """MERGE: matched keys replaced, unmatched inserted, all in ONE
    snapshot; files without matching keys carry over BY NAME; the
    pre-merge snapshot still shows the old values; merging into an
    empty lake degenerates to a plain write."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_write(_df(spark, [(3, "c")]).coalesce(1), t)
    m1 = _lm(t, 1)

    up = _df(spark, [(2, "B2"), (4, "d")]).coalesce(1)
    v = lake_merge(spark, up, t, keys=("k",))
    assert v == 2
    got = {r.k: r.v for r in lake_read(spark, t).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # pre-merge snapshot unchanged (time travel)
    old = {r.k: r.v for r in lake_read(spark, t, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    m2 = _lm(t, 2)
    # the (3,'c') file had no matching key: carried over by name
    paths1 = [f["path"] for f in m1["files"]]
    paths2 = [f["path"] for f in m2["files"]]
    untouched = [f for f in paths1 if f not in m2.get("rewrote_files", [])]
    assert any(f in paths2 for f in untouched)
    assert m2["op"] == "merge"

    # merge into an empty lake = plain write
    t2 = str(tmp_path / "t2")
    assert lake_merge(spark, _df(spark, [(1, "x")]), t2, keys=("k",)) == 0
    assert {r.k for r in lake_read(spark, t2).collect()} == {1}


def test_lake_manifest_stats_prune_file_scans(spark, tmp_path):
    """File skipping by manifest min/max: commits with disjoint key
    ranges; a `where` read must (a) return exactly the filtered rows
    and (b) provably SKIP the files whose range misses — asserted by
    counting the parquet files in the executed scan. Missing stats
    keep the file (correctness over skipping)."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_write(_df(spark, [(100, "x"), (200, "y")]).coalesce(1), t)
    lake_write(_df(spark, [(1000, "p")]).coalesce(1), t)

    m = _lm(t, 2)
    assert all(e["stats"].get("k") for e in m["files"])  # stats recorded
    kranges = sorted(tuple(e["stats"]["k"]) for e in m["files"])
    assert kranges == [(1, 2), (100, 200), (1000, 1000)]

    got = lake_read(spark, t, where=[("k", ">=", 100), ("k", "<=", 500)])
    assert {r.k for r in got.collect()} == {100, 200}
    # exactly ONE of the three files survives the manifest prune
    n_scanned = sum(
        1
        for e in m["files"]
        if _file_may_match(e, [("k", ">=", 100), ("k", "<=", 500)])
    )
    assert n_scanned == 1

    # equality predicate prunes too; impossible range reads no file
    assert {r.k for r in lake_read(spark, t, where=[("k", "==", 1000)]).collect()} == {1000}
    assert lake_read(spark, t, where=[("k", ">", 5000)]).count() == 0

    # entries with missing stats are always kept
    assert _file_may_match({"path": "x", "stats": {}}, [("k", "==", 1)])
    assert _file_may_match({"path": "x", "stats": {"k": [None, None]}}, [("k", "==", 1)])


def test_lake_paths_with_spaces_and_percent(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; the COW file
    locator must decode it or a table path containing a space makes
    lake_delete silently delete nothing and lake_merge keep the old
    keyed rows next to the updates (duplicate keys)."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    t = str(tmp_path / "odd dir %41" / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    v = lake_delete(spark, t, F.col("k") == 2)
    assert v == 1
    assert {r.k for r in lake_read(spark, t).collect()} == {1}

    lake_merge(spark, _df(spark, [(1, "A1"), (3, "c")]).coalesce(1), t, keys=("k",))
    rows = lake_read(spark, t).collect()
    assert {r.k: r.v for r in rows} == {1: "A1", 3: "c"}
    assert len(rows) == 2  # no duplicate k=1 from an unmatched rewrite


def test_lake_nan_stats_never_prune(spark, tmp_path):
    """A NaN min/max must KEEP the file: every comparison with NaN is
    False, so treating the range as authoritative would 'prove'
    emptiness for a file that holds matching non-NaN rows."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5)], "k int, score double"
    ).coalesce(1)
    lake_write(df, t)
    got = lake_read(spark, t, where=[("score", "==", 0.5)])
    assert [r.k for r in got.collect()] == [2]
    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match

    nan_entry = {"path": "x", "stats": {"score": [float("nan"), float("nan")]}}
    assert _file_may_match(nan_entry, [("score", "==", 0.5)])
    assert _file_may_match(nan_entry, [("score", ">=", 0.5)])


def test_lake_concurrent_append_auto_retries(spark, tmp_path, monkeypatch):
    """Two writers appending concurrently: the loser's lake_write must
    land WITHOUT caller serialization — its data files are already on
    disk and append vs append is file-disjoint, so the retry re-merges
    the winner's manifest and republishes at the next version. Staged
    by injecting a competing commit right before the loser's."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)  # v0

    winner_files, _ = L._write_data_files(_df(spark, [(2, "b")]).coalesce(1), t)
    real_commit = L._commit
    injected = {"done": False}

    def racing_commit(path, version, manifest):
        if not injected["done"]:
            injected["done"] = True
            base = L._read_manifest(path, version - 1)
            real_commit(
                path,
                version,
                {
                    "version": version,
                    "op": "append",
                    "ts": 0,
                    "files": base["files"] + winner_files,
                    "schema": base["schema"],
                    "n_rows_delta": 1,
                },
            )  # writer A wins this version…
        real_commit(path, version, manifest)  # …loser conflicts, retries

    monkeypatch.setattr(L, "_commit", racing_commit)
    v = lake_write(_df(spark, [(3, "c")]), t)  # loser lands at v2
    assert v == 2
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 2, 3}
    hist = lake_history(t)
    assert [h["op"] for h in hist] == ["append", "append", "append"]


def test_lake_concurrent_delete_reruns_from_winner(spark, tmp_path, monkeypatch):
    """DELETE racing an append under isolation='serializable' must
    RE-RUN from the winner's snapshot, not just re-merge manifests:
    the winner may have appended rows matching the predicate that the
    stale copy-on-write scan never saw. After the race, the delete's
    snapshot reflects BOTH the winner's append and the predicate
    applied to it. (The DEFAULT, Delta-style write_serializable,
    instead REBASES past blind appends — appended matching rows
    survive; pinned in test_lake_concurrency.py.)"""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (14, "d")]).coalesce(1), t)  # v0

    # winner appends one MATCHING row (k=40) and one keeper (k=5)
    winner_files, _ = L._write_data_files(
        _df(spark, [(5, "e"), (40, "x")]).coalesce(1), t
    )
    real_commit = L._commit
    injected = {"done": False}

    def racing_commit(path, version, manifest):
        if not injected["done"] and manifest["op"] == "delete":
            injected["done"] = True
            base = L._read_manifest(path, version - 1)
            real_commit(
                path,
                version,
                {
                    "version": version,
                    "op": "append",
                    "ts": 0,
                    "files": base["files"] + winner_files,
                    "schema": base["schema"],
                    "n_rows_delta": 2,
                },
            )
        real_commit(path, version, manifest)

    monkeypatch.setattr(L, "_commit", racing_commit)
    v = lake_delete(spark, t, F.col("k") >= 10, isolation="serializable")
    assert v == 2
    # the re-run saw BOTH matches: 14 from v0 and the winner's 40
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 5}


def test_lake_partitioned_write_prunes_and_reads(spark, tmp_path):
    """Identity-partition pruning: values live in the hive dir names
    (NOT inside the parquet files), are recorded per file in the
    manifest, and a `where` on the partition column must (a) return
    exactly the right rows with the column recovered, and (b) provably
    skip every other partition's files."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "web"), (2, "b", "web"), (3, "c", "books"), (4, "d", "code")],
        "k int, v string, src string",
    ).repartition(2)
    lake_write(df, t, partition_by=("src",))
    lake_write(
        spark.createDataFrame([(5, "e", "web")], "k int, v string, src string"),
        t,  # partition_by inherited from the table layout
    )

    m = _lm(t, 1)
    assert m["partition_by"] == ["src"]
    assert all(e["partitions"].get("src") for e in m["files"])

    got = lake_read(spark, t, where=[("src", "==", "web")])
    assert {r.k for r in got.collect()} == {1, 2, 5}
    assert got.schema["src"].dataType.typeName() == "string"

    pruned = [e for e in m["files"] if _file_may_match(e, [("src", "==", "web")])]
    assert pruned and all(e["partitions"]["src"] == "web" for e in pruned)
    skipped = [e for e in m["files"] if not _file_may_match(e, [("src", "==", "web")])]
    assert skipped and all(e["partitions"]["src"] != "web" for e in skipped)

    # full read recovers every partition; COW delete respects layout
    assert {r.src for r in lake_read(spark, t).collect()} == {"web", "books", "code"}
    lake_delete(spark, t, F.col("k") == 3)
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 2, 4, 5}
    # mismatched explicit layout on append is rejected
    with pytest.raises(ValueError, match="partition"):
        lake_write(df, t, partition_by=("v",))


def test_lake_read_changes_composes(spark, tmp_path):
    """CDC-lite: changes(a,b) ∪ changes(b,c) == changes(a,c) ==
    full read over an append-only history; non-append commits in the
    range raise (a compaction's 'new' files are old rows)."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_read_changes

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]), t)  # v0
    lake_write(_df(spark, [(3, "c")]), t)  # v1
    lake_write(_df(spark, [(4, "d"), (5, "e")]), t)  # v2

    c01 = {r.k for r in lake_read_changes(spark, t, -1, 0).collect()}
    c12 = {r.k for r in lake_read_changes(spark, t, 0, 1).collect()}
    c23 = {r.k for r in lake_read_changes(spark, t, 1, 2).collect()}
    assert c01 == {1, 2} and c12 == {3} and c23 == {4, 5}
    full = {r.k for r in lake_read_changes(spark, t, -1).collect()}
    assert full == {r.k for r in lake_read(spark, t).collect()} == {1, 2, 3, 4, 5}
    assert {r.k for r in lake_read_changes(spark, t, 0, 2).collect()} == c12 | c23
    assert lake_read_changes(spark, t, 2, 2).count() == 0

    lake_compact(spark, t, num_files=1)  # v3
    with pytest.raises(ValueError, match="non-append"):
        lake_read_changes(spark, t, 1)
    # …but ranges before the compaction still work
    assert {r.k for r in lake_read_changes(spark, t, 0, 2).collect()} == {3, 4, 5}


def test_lake_incremental_curation_composes_to_batch(spark, tmp_path):
    """The CDC-lite downstream stage (streaming/documents.py:
    incremental_curation_from_lake): applying after every source
    append must (a) process ONLY the delta each time, (b) compose to
    exactly the batch derivation over the full store, (c) be a no-op
    when already caught up — the cursor recovered from manifest stats
    alone, no cursor file."""
    import pyspark.sql.functions as SF

    from ndvi_etl_pipeline_spark.sources.lake import lake_column_max
    from ndvi_etl_pipeline_spark.streaming.documents import (
        incremental_curation_from_lake,
    )

    src = str(tmp_path / "curated")
    drv = str(tmp_path / "features")

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "s", f"fp{i}", 0.9) for i, t in rows],
            "doc_id long, text string, source string, fingerprint string, quality double",
        )

    lake_write(docs([(1, "alpha beta"), (2, "gamma delta eps")]), src)  # v0
    assert incremental_curation_from_lake(spark, src, drv) == 2
    lake_write(docs([(3, "one two three four")]), src)  # v1
    lake_write(docs([(4, "  five  ")]), src)  # v2
    assert incremental_curation_from_lake(spark, src, drv) == 2  # only the delta
    assert incremental_curation_from_lake(spark, src, drv) == 0  # caught up

    got = {
        r.doc_id: (r.n_words, r.n_chars, r.source_version)
        for r in lake_read(spark, drv).collect()
    }
    assert got == {
        1: (2, 10, 0),
        2: (3, 15, 0),
        3: (4, 18, 2),
        4: (1, 8, 2),
    }
    # cursor lives in manifest stats: recoverable without a data read
    assert lake_column_max(drv, "source_version") == 2
    # derived history shows exactly two incremental commits
    assert [h["n_rows_delta"] for h in lake_history(drv)] == [2, 2]


def test_lake_partition_transforms_prune_hidden(spark, tmp_path):
    """Iceberg-style hidden partitioning: the layout is keyed by a
    TRANSFORM (bucket/truncate/day) of a source column, the source
    column stays in the data files, and a `where` on the SOURCE
    column — the caller never mentions the transform — provably skips
    files whose transformed value can't match."""
    import datetime

    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match

    # bucket(4, k): equality prunes to one bucket's files
    t1 = str(tmp_path / "bucketed")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k int, v string")
    lake_write(df.repartition(2), t1, partition_by=("bucket(4,k)",))
    m = _lm(t1, 0)
    assert m["partition_by"] == ["bucket(4,k)"]
    assert all("k__bucket4" in e["partitions"] for e in m["files"])
    got = lake_read(spark, t1, where=[("k", "==", 7)])
    assert [r.v for r in got.collect()] == ["v7"]
    import zlib

    b7 = zlib.crc32(b"7") % 4
    surviving = [
        e for e in m["files"] if _file_may_match(e, [("k", "==", 7)], ("bucket(4,k)",))
    ]
    assert surviving and all(
        int(e["partitions"]["k__bucket4"]) == b7 for e in surviving
    )
    assert len(surviving) < len(m["files"])
    # scan files are only the matching bucket's
    assert all(f"k__bucket4={b7}" in f for f in got.inputFiles())

    # truncate(10, k): order-preserving — ranges prune too
    t2 = str(tmp_path / "truncated")
    lake_write(df.repartition(2), t2, partition_by=("truncate(10,k)",))
    got = lake_read(spark, t2, where=[("k", ">=", 25)])
    assert {r.k for r in got.collect()} == set(range(25, 40))
    assert all(
        int(f.split("k__truncate10=")[1].split("/")[0]) >= 20
        for f in got.inputFiles()
    )

    # day(ts): calendar truncation, equality + range on the source col
    t3 = str(tmp_path / "daily")
    rows = [
        (i, datetime.datetime(2026, 8, 10 + i % 3, 6 + i, 30)) for i in range(6)
    ]
    lake_write(
        spark.createDataFrame(rows, "k int, ts timestamp"),
        t3,
        partition_by=("day(ts)",),
    )
    got = lake_read(spark, t3, where=[("ts", ">=", datetime.datetime(2026, 8, 12, 0, 0))])
    assert {r.k for r in got.collect()} == {2, 5}
    assert all("ts__day=2026-08-12" in f for f in got.inputFiles())

    # COW delete respects the transform layout; identity+transform mixing rejected
    lake_delete(spark, t1, F.col("k") == 7)
    assert lake_read(spark, t1).count() == 39
    with pytest.raises(ValueError, match="mix"):
        lake_write(df, str(tmp_path / "bad"), partition_by=("v", "bucket(4,k)"))


def test_lake_bloom_stats_prune_point_lookups(spark, tmp_path):
    """Per-file Bloom filters: min/max cannot prune a high-entropy key
    (every file's range spans the domain), but the 1 KiB per-file
    bloom in the manifest skips files that provably lack the key —
    the Iceberg/Delta point-lookup device. Checks: equality and IN
    lookups read only the containing file(s) (+ rare false
    positives), results stay exact, appends inherit bloom_cols, and
    compaction rebuilds blooms for the rewritten files."""
    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match

    t = str(tmp_path / "t")
    # interleaved ids: per-file min/max ranges all overlap, so range
    # stats can never prune — only the bloom can
    rows_a = [(i, f"a{i}") for i in range(0, 3000, 3)]
    rows_b = [(i, f"b{i}") for i in range(1, 3000, 3)]
    rows_c = [(i, f"c{i}") for i in range(2, 3000, 3)]
    mk = lambda rows: spark.createDataFrame(rows, "k int, v string").coalesce(1)
    lake_write(mk(rows_a), t, bloom_cols=("k",))
    lake_write(mk(rows_b), t)  # bloom_cols inherited
    lake_write(mk(rows_c), t)

    m = _lm(t, 2)
    assert m["bloom_cols"] == ["k"]
    assert all(e["bloom"].get("k", {}).get("bits") for e in m["files"])
    # min/max genuinely can't prune this lookup...
    kranges = [tuple(e["stats"]["k"]) for e in m["files"]]
    assert all(mn <= 1501 <= mx for mn, mx in kranges)

    got = lake_read(spark, t, where=[("k", "==", 1501)])
    assert [(r.k, r.v) for r in got.collect()] == [(1501, "b1501")]
    surviving = [e for e in m["files"] if _file_may_match(e, [("k", "==", 1501)])]
    assert len(surviving) < len(m["files"])  # the bloom pruned
    assert len(got.inputFiles()) < 3

    # IN over keys from two files keeps those two (±false positives)
    got = lake_read(spark, t, where=[("k", "in", [9, 1501])])
    assert {r.k for r in got.collect()} == {9, 1501}

    # a key in NO file: bloom proves emptiness without reading data
    assert lake_read(spark, t, where=[("k", "==", 999999)]).count() == 0

    # compaction rebuilds blooms on the rewritten file
    lake_compact(spark, t, num_files=1)
    m2 = _lm(t, 3)
    assert m2["bloom_cols"] == ["k"] and m2["files"][0]["bloom"]["k"]["bits"]
    assert {r.v for r in lake_read(spark, t, where=[("k", "==", 1501)]).collect()} == {"b1501"}

    # float bloom columns are rejected (cross-engine string forms)
    bad = spark.createDataFrame([(0.5, "x")], "f double, v string")
    with pytest.raises(ValueError, match="bloom"):
        lake_write(bad, str(tmp_path / "bad"), bloom_cols=("f",))


def test_lake_dv_delete_rewrites_nothing(spark, tmp_path):
    """Merge-on-read DELETE: rows disappear from reads, but the data
    file set is UNCHANGED (the whole point — at 100 TB a scattered
    0.1% delete must not rewrite the table); time travel still sees
    them; a second dv-delete stacks; appends keep the DVs live."""
    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, chr(97 + i % 26)) for i in range(100)]), t)
    files_v0 = {
        e["path"] for e in _read_manifest(t, 0)["files"]
    }

    v = lake_delete(spark, t, F.col("k") % 10 == 3, strategy="dv")
    assert v == 1
    m1 = _read_manifest(t, 1)
    assert {e["path"] for e in m1["files"]} == files_v0  # zero rewrites
    assert len(m1["dvs"]) == 1 and m1["n_rows_delta"] == -10
    got = {r.k for r in lake_read(spark, t).collect()}
    assert got == {i for i in range(100) if i % 10 != 3}
    # time travel: v0 still sees every row
    assert lake_read(spark, t, version=0).count() == 100

    # stacked second DV + an append inheriting both
    lake_delete(spark, t, F.col("k") < 5, strategy="dv")
    lake_write(_df(spark, [(1000, "zz")]), t)
    m3 = _read_manifest(t, 3)
    assert len(m3["dvs"]) == 2
    got = {r.k for r in lake_read(spark, t).collect()}
    assert got == {i for i in range(5, 100) if i % 10 != 3} | {1000}
    # deleting already-deleted rows matches nothing: no new snapshot
    assert lake_delete(spark, t, F.col("k") == 3, strategy="dv") == 3


def test_lake_dv_compact_materializes_and_vacuum_collects(spark, tmp_path):
    """COMPACT reads visible rows only and clears the dvs list; after
    manifests are dropped, vacuum removes the orphaned DV parquet
    sets (but respects the retention window)."""
    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "x") for i in range(50)]), t)
    lake_delete(spark, t, F.col("k") >= 40, strategy="dv")
    v = lake_compact(spark, t, num_files=1)
    m = _read_manifest(t, v)
    assert "dvs" not in m
    assert {r.k for r in lake_read(spark, t).collect()} == set(range(40))

    # retention first: nothing deleted while files are young
    assert lake_vacuum(t, keep_last=1, retention_seconds=3600) == []
    removed = lake_vacuum(t, keep_last=1, retention_seconds=0)
    assert any(p.startswith("dv" + os.sep) for p in removed)
    assert {r.k for r in lake_read(spark, t).collect()} == set(range(40))


def test_lake_dv_then_cow_ops_stay_consistent(spark, tmp_path):
    """COW delete and MERGE on a table carrying DVs must never
    resurrect dv-deleted rows: the survivors scan applies DVs, and
    kept files keep their DV entries."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "a" if i < 50 else "b") for i in range(100)]), t)
    lake_delete(spark, t, F.col("k").isin([7, 77]), strategy="dv")

    # COW delete rewrites the 'b' files; 77 (in b) must not come back
    lake_delete(spark, t, (F.col("v") == "b") & (F.col("k") >= 90))
    got = {r.k for r in lake_read(spark, t).collect()}
    assert got == set(range(100)) - {7, 77} - set(range(90, 100))

    # MERGE updates keys including a dv-deleted one: it re-inserts
    # (upsert semantics) exactly once
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    lake_merge(spark, _df(spark, [(7, "NEW"), (10, "NEW")]), t, keys=("k",))
    rows = {r.k: r.v for r in lake_read(spark, t).collect()}
    assert rows[7] == "NEW" and rows[10] == "NEW"
    assert len(rows) == len(got) + 1  # 7 re-inserted, 10 replaced


def test_lake_dv_partitioned_and_spaced_paths(spark, tmp_path):
    """DV addressing uses decoded table-relative paths: a table path
    with a space and an identity-partitioned layout (multiple scans
    unioned) must still delete exactly the addressed rows."""
    t = str(tmp_path / "dv table")
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 3), i * 1.5) for i in range(60)],
        "k int, part string, x double",
    )
    lake_write(df, t, partition_by=("part",))
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    got = {r.k for r in lake_read(spark, t).collect()}
    assert got == {i for i in range(60) if i % 2 == 1}
    # partition pruning composes with DV application
    pruned = lake_read(spark, t, where=[("part", "==", "p1")])
    assert {r.k for r in pruned.collect()} == {
        i for i in range(60) if i % 2 == 1 and i % 3 == 1
    }


def test_lake_dv_datasource_read_applies_dvs(spark, tmp_path):
    """spark.read.format('lake') must apply deletion vectors (a
    DataSource read that resurrected dv-deleted rows would be a
    silent wrong answer)."""
    from ndvi_etl_pipeline_spark.sources.lake_datasource import register

    register(spark)
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "x") for i in range(30)]), t)
    lake_delete(spark, t, F.col("k") < 10, strategy="dv")
    got = {r.k for r in spark.read.format("lake").option("path", t).load().collect()}
    assert got == set(range(10, 30))
    # time travel to v0 sees all rows (DVs belong to v1)
    got0 = {
        r.k
        for r in spark.read.format("lake")
        .option("path", t)
        .option("version", 0)
        .load()
        .collect()
    }
    assert got0 == set(range(30))


def test_lake_dv_column_max_refuses_stats(spark, tmp_path):
    """lake_column_max must return None when DVs exist — the stats max
    may belong to an invisible row."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_column_max

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "x") for i in range(10)]).coalesce(1), t)
    assert lake_column_max(t, "k") == 9
    lake_delete(spark, t, F.col("k") == 9, strategy="dv")
    assert lake_column_max(t, "k") is None


def test_lake_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after a z-ordered compaction into 8 files, a
    quadrant predicate on (x, y) must skip most files via manifest
    min/max stats — the multi-column layout a single-column sort
    cannot give (its trailing column's per-file range spans the whole
    domain). Rows must be identical before/after."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import _file_may_match, lake_latest_version

    t = str(tmp_path / "t")
    rows = [(x, y, x * 100 + y) for x in range(40) for y in range(40)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    lake_write(df, t)
    before = {tuple(r) for r in lake_read(spark, t).collect()}

    v = lake_compact(spark, t, num_files=8, zorder_by=("x", "y"))
    m = _lm(t, v)
    assert m["zorder_by"] == ["x", "y"]
    assert len(m["files"]) == 8
    after = {tuple(r) for r in lake_read(spark, t).collect()}
    assert after == before

    quadrant = [("x", "<", 20), ("y", "<", 20)]
    n_scanned = sum(1 for e in m["files"] if _file_may_match(e, quadrant))
    assert n_scanned <= 4  # a quarter of the space touches <= half the files
    got = lake_read(spark, t, where=quadrant)
    assert got.count() == 400

    # single-dimension predicates prune as well — BOTH columns have
    # locality, the z-order point
    for col in ("x", "y"):
        pred = [(col, ">=", 30)]
        n = sum(1 for e in m["files"] if _file_may_match(e, pred))
        assert n <= 6

    # contrast: a plain coalesce-compact of the same table leaves the
    # trailing dimension unprunable (every file spans all of y)
    t2 = str(tmp_path / "plain")
    lake_write(df.orderBy("x"), t2)
    v2 = lake_compact(spark, t2, num_files=8)
    m2 = _lm(t2, v2)
    n2 = sum(1 for e in m2["files"] if _file_may_match(e, [("y", ">=", 30)]))
    assert n2 == len(m2["files"])  # no pruning without z-order


def test_lake_zorder_rejects_non_numeric(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="must be numeric"):
        lake_compact(spark, t, num_files=2, zorder_by=("v",))


def test_lake_restore_republishes_old_snapshot(spark, tmp_path):
    """RESTORE rolls the table back AS A NEW COMMIT: latest+1 shows
    exactly the target version's rows, the bad commits stay in
    history, and a post-restore append builds on the restored state.
    DV state restores too (restoring to a pre-delete version
    resurrects the rows; restoring to a post-dv-delete version keeps
    them deleted)."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_restore

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]), t)          # v0
    lake_delete(spark, t, F.col("k") == 2, strategy="dv")    # v1
    lake_write(_df(spark, [(3, "c")]), t)                    # v2

    v = lake_restore(t, 0)
    assert v == 3
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 2}
    assert [h["op"] for h in lake_history(t)] == [
        "append", "delete", "append", "restore",
    ]
    # restore to the dv-delete state: 2 stays deleted
    lake_restore(t, 1)
    assert {r.k for r in lake_read(spark, t).collect()} == {1}
    # append on top of the restored state
    lake_write(_df(spark, [(9, "z")]), t)
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 9}


def test_lake_constraints_enforced_on_writes(spark, tmp_path):
    """ADD CONSTRAINT validates existing rows (refusing when they
    violate), then every append/merge/overwrite enforces: NOT NULL
    rejects nulls and columns omitted by evolution; CHECK follows SQL
    semantics (NULL passes); constraints survive restore and
    compact; DROP lifts enforcement."""
    from ndvi_etl_pipeline_spark.sources.lake import (
        lake_alter_constraints,
        lake_merge,
    )

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (5, "b")]), t)

    # a constraint the current rows violate is refused
    with pytest.raises(ValueError, match="violate"):
        lake_alter_constraints(spark, t, add_checks={"k_big": "k >= 2"})
    v = lake_alter_constraints(
        spark, t, add_checks={"k_pos": "k > 0"}, add_not_null=("v",)
    )
    assert v == 1

    # appends: violating batch refused atomically (no partial commit)
    with pytest.raises(ValueError, match="violate"):
        lake_write(_df(spark, [(2, "ok"), (-3, "bad")]), t)
    with pytest.raises(ValueError, match="violate"):
        lake_write(_df(spark, [(2, None)]), t)
    assert lake_read(spark, t).count() == 2  # nothing landed
    lake_write(_df(spark, [(2, "ok")]), t)

    # merge enforces too
    with pytest.raises(ValueError, match="violate"):
        lake_merge(spark, _df(spark, [(-9, "x")]), t, keys=("k",))
    lake_merge(spark, _df(spark, [(7, "y")]), t, keys=("k",))

    # a write omitting a NOT NULL column (schema-evolution shape) is
    # a violation — the column would read as NULL
    slim = spark.createDataFrame([(10,)], "k int")
    with pytest.raises(ValueError, match="violate"):
        lake_write(slim, t)

    # constraints survive compaction and enforcement continues
    lake_compact(spark, t, num_files=1)
    with pytest.raises(ValueError, match="violate"):
        lake_write(_df(spark, [(-1, "q")]), t)

    # drop: the same batch now lands
    lake_alter_constraints(spark, t, drop_checks=("k_pos",), drop_not_null=("v",))
    lake_write(_df(spark, [(-1, None)]), t)
    assert {r.k for r in lake_read(spark, t).collect()} == {1, 5, 2, 7, -1}


def test_lake_read_changes_across_alter_constraints(spark, tmp_path):
    """alter_constraints republishes an identical file set, so
    incremental reads diff across it; a dv-delete still refuses."""
    from ndvi_etl_pipeline_spark.sources.lake import (
        lake_alter_constraints,
        lake_read_changes,
    )

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)                     # v0
    lake_alter_constraints(spark, t, add_checks={"ok": "k > 0"})  # v1
    lake_write(_df(spark, [(2, "b")]), t)                     # v2
    got = {r.k for r in lake_read_changes(spark, t, 0).collect()}
    assert got == {2}
    lake_delete(spark, t, F.col("k") == 1, strategy="dv")     # v3
    with pytest.raises(ValueError, match="non-append"):
        lake_read_changes(spark, t, 2)


def test_lake_cdf_inserts_and_dv_deletes(spark, tmp_path):
    """Change data feed: inserts from appended files, deletes from
    the DV sets each commit added, tagged with _change_type and
    _commit_version; the multiset compose rule holds
    (snapshot(from) + inserts − deletes == snapshot(to)); a row
    inserted then dv-deleted inside the range appears as both; COW
    commits refuse."""
    from collections import Counter

    from ndvi_etl_pipeline_spark.sources.lake import lake_read_cdf

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "base") for i in range(1, 5)]), t)   # v0
    lake_write(_df(spark, [(5, "n"), (6, "n")]), t)                 # v1
    lake_delete(spark, t, F.col("k").isin([2, 5]), strategy="dv")   # v2
    lake_write(_df(spark, [(7, "n")]), t)                           # v3

    feed = lake_read_cdf(spark, t, 0).collect()
    ins = {(r.k, r._commit_version) for r in feed if r._change_type == "insert"}
    dels = {(r.k, r._commit_version) for r in feed if r._change_type == "delete"}
    assert ins == {(5, 1), (6, 1), (7, 3)}
    assert dels == {(2, 2), (5, 2)}  # 5 inserted AND deleted in range

    # multiset compose: v0 + inserts - deletes == latest
    base = Counter((r.k, r.v) for r in lake_read(spark, t, version=0).collect())
    for r in feed:
        if r._change_type == "insert":
            base[(r.k, r.v)] += 1
        else:
            base[(r.k, r.v)] -= 1
    now = Counter((r.k, r.v) for r in lake_read(spark, t).collect())
    assert +base == now

    # sub-range: only v2's deletes
    feed2 = lake_read_cdf(spark, t, 1, 2).collect()
    assert {(r.k, r._change_type) for r in feed2} == {(2, "delete"), (5, "delete")}

    # a COW rewrite inside the range refuses
    lake_delete(spark, t, F.col("k") == 1)                          # v4 cow
    with pytest.raises(ValueError, match="file-rewriting"):
        lake_read_cdf(spark, t, 3)

    # empty range → empty feed with the right shape
    empty = lake_read_cdf(spark, t, 3, 3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_lake_multi_writer_stress_serializes(spark, tmp_path):
    """Optimistic concurrency under REAL thread interleaving: 6
    writers race unsynchronized appends (plus one dv-delete) against
    one table; every commit must land exactly once, versions must be
    gapless, and the final row multiset must equal the serial
    expectation — no lost updates, no duplicates, no torn manifests."""
    import threading

    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(0, "seed")]), t)

    errs: list[Exception] = []

    def appender(base: int) -> None:
        try:
            for j in range(3):
                lake_write(_df(spark, [(base + j, f"w{base}")]), t)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(100 * i,)) for i in range(1, 7)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    # 1 seed + 18 appends = 19 gapless versions, all op=append
    hist = lake_history(t)
    assert [h["version"] for h in hist] == list(range(19))
    assert all(h["op"] == "append" for h in hist)
    got = sorted(r.k for r in lake_read(spark, t).collect())
    expect = sorted([0] + [100 * i + j for i in range(1, 7) for j in range(3)])
    assert got == expect

    # manifests stayed internally consistent: every version's file
    # list is a superset of the previous version's (append-only)
    prev: set[str] = set()
    for v in range(19):
        cur = {e["path"] for e in _read_manifest(t, v)["files"]}
        assert prev <= cur
        prev = cur

    # a dv-delete racing one more append: both land
    th = threading.Thread(target=lambda: lake_write(_df(spark, [(999, "z")]), t))
    th.start()
    lake_delete(spark, t, F.col("k") == 0, strategy="dv")
    th.join()
    got = {r.k for r in lake_read(spark, t).collect()}
    assert got == set(expect) - {0} | {999}


def test_lake_partial_compact_rewrites_only_matching_files(spark, tmp_path):
    """OPTIMIZE WHERE: compaction with a `where` rewrites only the
    files that may match (stats-pruned); other files carry over by
    name with their deletion vectors still applied; rows are
    identical before/after."""
    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest

    t = str(tmp_path / "t")
    # three commits with disjoint k ranges -> three prunable files
    lake_write(_df(spark, [(i, "lo") for i in range(10)]).coalesce(1), t)
    lake_write(_df(spark, [(i, "mid") for i in range(100, 120)]).coalesce(2), t)
    lake_write(_df(spark, [(i, "hi") for i in range(1000, 1005)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") == 1001, strategy="dv")  # dv on 'hi'
    before = sorted(r.k for r in lake_read(spark, t).collect())
    m_pre = _read_manifest(t, 3)
    lo_files = {
        e["path"] for e in m_pre["files"] if e["stats"]["k"][1] < 100
    }

    v = lake_compact(spark, t, num_files=1, where=[("k", ">=", 100), ("k", "<", 200)])
    m = _read_manifest(t, v)
    # the lo and hi files carried over BY NAME; only mid rewritten
    kept = {e["path"] for e in m["files"]}
    assert lo_files <= kept
    assert set(m["rewrote_files"]) and not (set(m["rewrote_files"]) & lo_files)
    # dv on the untouched hi file still applies
    assert sorted(r.k for r in lake_read(spark, t).collect()) == before
    assert 1001 not in {r.k for r in lake_read(spark, t).collect()}
    # mid range is now ONE file
    mid_files = [
        e for e in m["files"]
        if e["stats"].get("k") and e["stats"]["k"][0] >= 100 and e["stats"]["k"][1] < 200
    ]
    assert len(mid_files) == 1

    # a where matching nothing publishes no snapshot
    assert lake_compact(spark, t, where=[("k", ">", 10**9)]) == v


def test_lake_incremental_curation_cdf_retracts(spark, tmp_path):
    """The change-feed consumer (incremental_curation_cdf): upstream
    dv-deletes RETRACT downstream feature rows; an insert+delete
    inside one range nets to nothing on both sides; the cursor rides
    COMMIT PROPERTIES so a delete-only range advances it; replays
    no-op; the final derived table equals the batch derivation over
    the live store."""
    from ndvi_etl_pipeline_spark.streaming.documents import (
        incremental_curation_cdf,
    )

    src = str(tmp_path / "curated")
    drv = str(tmp_path / "features")

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "s", f"fp{i}", 0.9) for i, t in rows],
            "doc_id long, text string, source string, fingerprint string, quality double",
        )

    lake_write(docs([(1, "alpha beta"), (2, "gamma delta eps")]), src)   # v0
    assert incremental_curation_cdf(spark, src, drv) == (2, 0)

    # mixed range: one insert, one upstream scrub of an OLD doc, and
    # one doc inserted-then-deleted inside the range (nets to nothing)
    lake_write(docs([(3, "one two three four"), (4, "ephemeral")]), src)  # v1
    from ndvi_etl_pipeline_spark.sources.lake import lake_delete as _ld
    _ld(spark, src, F.col("doc_id").isin([2, 4]), strategy="dv")          # v2
    assert incremental_curation_cdf(spark, src, drv) == (1, 1)
    got = {r.doc_id for r in lake_read(spark, drv).collect()}
    assert got == {1, 3}  # 2 retracted, 4 never landed

    # replay: no-op
    assert incremental_curation_cdf(spark, src, drv) == (0, 0)

    # delete-only range: the retract commit itself carries the cursor
    _ld(spark, src, F.col("doc_id") == 1, strategy="dv")                  # v3
    assert incremental_curation_cdf(spark, src, drv) == (0, 1)
    assert incremental_curation_cdf(spark, src, drv) == (0, 0)  # advanced
    got = {r.doc_id for r in lake_read(spark, drv).collect()}
    assert got == {3}

    # equals the batch derivation over the live store
    from ndvi_etl_pipeline_spark.streaming.documents import _doc_features

    batch = {
        (r.doc_id, r.n_words, r.n_chars)
        for r in _doc_features(lake_read(spark, src), 0).collect()
    }
    inc = {
        (r.doc_id, r.n_words, r.n_chars)
        for r in lake_read(spark, drv).collect()
    }
    assert inc == batch


def test_lake_restore_refuses_vacuumed_target(spark, tmp_path):
    """RESTORE must refuse a target whose data files were vacuumed —
    publishing a manifest over missing files would be a silently
    unreadable snapshot."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_restore

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)                     # v0
    lake_write(_df(spark, [(2, "b")]), t, mode="overwrite")   # v1

    # manifest kept but a data file lost (e.g. vacuumed by a buggy
    # external sweep): restore must refuse with the file named
    m0 = _lm(t, 0)
    os.remove(os.path.join(t, m0["files"][0]["path"]))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        lake_restore(t, 0)

    # manifest itself vacuumed: refuses too (missing manifest)
    lake_vacuum(t, keep_last=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        lake_restore(t, 0)
    # the live snapshot is untouched
    assert {r.k for r in lake_read(spark, t).collect()} == {2}


def test_lake_constraint_added_mid_write_revalidates(spark, tmp_path, monkeypatch):
    """ALTER ADD CONSTRAINT racing an append: the append loses the
    commit race, re-reads the winner's manifest, and must RE-VALIDATE
    its rows against the newly added constraint — a violating batch
    is refused even though it passed the pre-write check."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)  # v0, no constraints yet

    real_commit = L._commit
    injected = {"done": False}

    def racing_commit(path, version, manifest):
        if not injected["done"] and manifest["op"] == "append":
            injected["done"] = True
            base = L._read_manifest(path, version - 1)
            real_commit(
                path,
                version,
                {
                    "version": version,
                    "op": "alter_constraints",
                    "ts": 0,
                    "files": base["files"],
                    "schema": base["schema"],
                    "n_rows_delta": None,
                    "constraints": {"checks": {"k_pos": "k > 0"}, "not_null": []},
                },
            )  # the ALTER wins this version…
        real_commit(path, version, manifest)  # …append conflicts, retries

    monkeypatch.setattr(L, "_commit", racing_commit)
    with pytest.raises(ValueError, match="violate"):
        lake_write(_df(spark, [(-5, "bad")]), t)
    # nothing landed; the constraint commit is the table's latest
    assert {r.k for r in lake_read(spark, t).collect()} == {1}
    assert lake_history(t)[-1]["op"] == "alter_constraints"


def test_lake_dv_read_plan_is_broadcast_antijoin(spark, tmp_path):
    """The DV merge-on-read must cost ONE broadcast anti-join — never
    a sort-merge shuffle of the table on (file, ordinal): at 100 TB
    the table side must not move."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "x") for i in range(100)]), t)
    lake_delete(spark, t, F.col("k") < 10, strategy="dv")
    df = lake_read(spark, t)
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained and "LeftAnti" in explained
    assert "SortMergeJoin" not in explained


def test_lake_cdf_reads_only_delta_files(spark, tmp_path):
    """lake_read_cdf must scan ONLY the range's delta: the appended
    files plus the new DV sets — never the base table's files."""
    from ndvi_etl_pipeline_spark.sources.lake import (
        _read_manifest,
        lake_read_cdf,
    )

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "base") for i in range(50)]).coalesce(4), t)  # v0
    lake_write(_df(spark, [(100, "n")]).coalesce(1), t)                      # v1
    base_files = {e["path"] for e in _read_manifest(t, 0)["files"]}

    feed = lake_read_cdf(spark, t, 0, 1)  # inserts only: v1's file
    scanned = {os.path.relpath(p.replace("file:", ""), t) for p in feed.inputFiles()}
    assert scanned and not (scanned & base_files)

    # the DELETE side scans only the files the new DV rows touch —
    # k=0 lives in one of v0's four files; the others stay unread
    lake_delete(spark, t, F.col("k") == 0, strategy="dv")               # v2
    dfeed = lake_read_cdf(spark, t, 1, 2)
    dscanned = {
        os.path.relpath(p.replace("file:", ""), t) for p in dfeed.inputFiles()
    }
    assert len(dscanned & base_files) == 1
    assert {(r.k, r._change_type) for r in dfeed.collect()} == {(0, "delete")}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
    st.tuples(st.just("dv_delete"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("cow_delete"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("merge"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("mor_merge"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("update"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("mor_update"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("compact"), st.just([])),
    st.tuples(st.just("restore"), st.just([])),
    st.tuples(st.just("alter_spec"), st.just([])),
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_OP, min_size=1, max_size=6), st.randoms(use_true_random=False))
def test_lake_model_based_op_sequences(spark, tmp_path_factory, ops, rng):
    """Model-based check of the whole lake op surface: a random
    interleaving of append / dv-delete / cow-delete / merge / update
    / compact / restore must keep the visible rows equal to a plain Python
    multiset model AFTER EVERY OP, and time travel to any committed
    version must reproduce that version's model state. Catches
    cross-op interactions (DV rows surviving a partial rewrite, a
    restore resurrecting the wrong snapshot, merges double-applying)
    that single-op tests cannot."""
    from collections import Counter

    from ndvi_etl_pipeline_spark.sources.lake import lake_merge, lake_restore

    t = str(tmp_path_factory.mktemp("model") / "t")
    tag = [0]

    def mk(ks, label):
        return spark.createDataFrame(
            [(k, f"{label}{tag[0]}") for k in sorted(set(ks))], "k int, v string"
        )

    state: Counter = Counter()
    history: list[Counter] = []

    def commit_model():
        history.append(Counter(state))

    lake_write(mk([1, 2, 3], "seed"), t)
    for k in sorted({1, 2, 3}):
        state[(k, f"seed{tag[0]}")] += 1
    commit_model()

    for op, ks in ops:
        tag[0] += 1
        if op == "append":
            lake_write(mk(ks, "a"), t)
            for k in sorted(set(ks)):
                state[(k, f"a{tag[0]}")] += 1
            commit_model()
        elif op in ("dv_delete", "cow_delete"):
            strat = "dv" if op == "dv_delete" else "cow"
            matched = any(k == kk for (kk, _v) in state for k in ks)
            lake_delete(spark, t, F.col("k").isin(list(ks)), strategy=strat)
            if matched:
                for key in [key for key in state if key[0] in ks]:
                    del state[key]
                commit_model()
        elif op in ("merge", "mor_merge"):
            lake_merge(
                spark, mk(ks, "m"), t, keys=("k",),
                strategy="mor" if op == "mor_merge" else "cow",
            )
            for key in [key for key in state if key[0] in set(ks)]:
                del state[key]
            for k in sorted(set(ks)):
                state[(k, f"m{tag[0]}")] += 1
            commit_model()
        elif op in ("update", "mor_update"):
            from ndvi_etl_pipeline_spark.sources.lake import lake_update

            matched = any(kk in set(ks) for (kk, _v) in state)
            lake_update(
                spark, t,
                {"v": F.concat(F.col("v"), F.lit("!"))},
                F.col("k").isin(list(ks)),
                strategy="mor" if op == "mor_update" else "cow",
            )
            if matched:
                for key, n in [
                    (key, n) for key, n in state.items() if key[0] in set(ks)
                ]:
                    del state[key]
                    state[(key[0], key[1] + "!")] += n
                commit_model()
        elif op == "compact":
            lake_compact(spark, t, num_files=2)
            commit_model()
        elif op == "alter_spec":
            # partition-spec evolution interleaved with every other
            # op: rows are invariant, later writes lay out under the
            # new spec, restores roll the spec history back with the
            # snapshot. A no-op alter (already-current spec, possible
            # after restore) commits nothing — tracked via version.
            from ndvi_etl_pipeline_spark.sources.lake import (
                _latest_version,
                lake_alter_partition_spec,
            )

            prev_v = _latest_version(t)
            spec = [("bucket(2, k)",), ("truncate(2, v)",), ()][tag[0] % 3]
            if lake_alter_partition_spec(t, spec) > prev_v:
                commit_model()
        elif op == "restore":
            v = rng.randrange(len(history))
            lake_restore(t, v)
            state = Counter(history[v])
            commit_model()
        got = Counter((r.k, r.v) for r in lake_read(spark, t).collect())
        assert got == +state, f"after {op}({ks})"

    # time travel: a random committed version reproduces its model
    v = rng.randrange(len(history))
    got_v = Counter((r.k, r.v) for r in lake_read(spark, t, version=v).collect())
    assert got_v == +history[v]


def test_lake_cdf_across_merge_emits_update_pairs(spark, tmp_path):
    """MERGE commits in the change feed: matched old rows emit as
    deletes, update rows as inserts (an update = delete+insert at one
    version); unmatched rewritten rows emit nothing; the multiset
    compose rule still holds."""
    from collections import Counter

    from ndvi_etl_pipeline_spark.sources.lake import lake_merge, lake_read_cdf

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)  # v0
    lake_merge(spark, _df(spark, [(2, "B2"), (9, "new")]), t, keys=("k",))  # v1

    feed = lake_read_cdf(spark, t, 0, 1).collect()
    got = sorted((r.k, r.v, r._change_type) for r in feed)
    assert got == [
        (2, "B2", "insert"),   # update postimage
        (2, "b", "delete"),    # update preimage
        (9, "new", "insert"),  # pure insert
    ]
    # rows 1,3 were rewritten into survivor files but emit NOTHING

    # compose: v0 + inserts - deletes == v1
    base = Counter((r.k, r.v) for r in lake_read(spark, t, version=0).collect())
    for r in feed:
        base[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    assert +base == Counter((r.k, r.v) for r in lake_read(spark, t).collect())


def test_lake_incremental_curation_cdf_applies_updates(spark, tmp_path):
    """The CDC consumer across an upstream MERGE update: the derived
    feature row is retracted and re-derived from the new text."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge
    from ndvi_etl_pipeline_spark.streaming.documents import (
        incremental_curation_cdf,
    )

    src = str(tmp_path / "curated")
    drv = str(tmp_path / "features")

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "s", f"fp{i}", 0.9) for i, t in rows],
            "doc_id long, text string, source string, fingerprint string, quality double",
        )

    lake_write(docs([(1, "two words"), (2, "three little words")]), src)  # v0
    assert incremental_curation_cdf(spark, src, drv) == (2, 0)
    assert {
        r.doc_id: r.n_words for r in lake_read(spark, drv).collect()
    } == {1: 2, 2: 3}

    # upstream update of doc 1 + a new doc 3 in one merge
    lake_merge(
        spark,
        docs([(1, "now five words in here"), (3, "one")]),
        src,
        keys=("doc_id",),
    )  # v1
    n_ins, n_ret = incremental_curation_cdf(spark, src, drv)
    assert (n_ins, n_ret) == (2, 1)  # doc1 re-derived + doc3; doc1 retracted
    got = {r.doc_id: r.n_words for r in lake_read(spark, drv).collect()}
    assert got == {1: 5, 2: 3, 3: 1}
    # replay: no-op
    assert incremental_curation_cdf(spark, src, drv) == (0, 0)


def test_lake_optimize_write_one_file_per_partition(spark, tmp_path):
    """optimize_write: a many-task input writing into hive partitions
    lands ~one file per partition dir instead of one per (task, dir)."""
    rows = [(i, "eu" if i % 2 else "us") for i in range(64)]
    df = spark.createDataFrame(rows, "k int, region string").repartition(8)
    t0, t1 = str(tmp_path / "plain"), str(tmp_path / "opt")
    lake_write(df, t0, partition_by=("region",))
    lake_write(df, t1, partition_by=("region",), optimize_write=True)
    n0 = len(_lm(t0, 0)["files"])
    n1 = len(_lm(t1, 0)["files"])
    assert n0 > 2  # the explosion the flag exists for
    assert n1 == 2  # one per region
    a = {(r.k, r.region) for r in lake_read(spark, t0).collect()}
    b = {(r.k, r.region) for r in lake_read(spark, t1).collect()}
    assert a == b == set(rows)


def test_lake_string_stats_truncated_and_prune_correct(spark, tmp_path):
    """Iceberg-style string-stat truncation: a long-text column's
    per-file min/max never embeds the document (<= 65 chars stored),
    the upper bound stays a true upper bound (prefix + codepoint
    bump), and pruning on the truncated bounds is still exact-safe."""
    from ndvi_etl_pipeline_spark.sources.lake import _trunc_str_bounds

    t = str(tmp_path / "t")
    long_a = "apple " * 50  # ~300 chars
    long_z = "zebra " * 50
    df = spark.createDataFrame(
        [(1, long_a), (2, long_z)], "k int, text string"
    )
    lake_write(df.coalesce(1), t)
    lake_write(
        spark.createDataFrame([(3, "mmm")], "k int, text string").coalesce(1), t
    )
    m = _lm(t, 1)
    for e in m["files"]:
        rng = (e.get("stats") or {}).get("text")
        assert rng and len(rng[0]) <= 64 and (rng[1] is None or len(rng[1]) <= 64)
    # bounds stay bounds: min prefix <= value, bumped max >= value
    f0 = next(
        e for e in m["files"] if (e["stats"]["text"][0]).startswith("apple")
    )
    rng0 = f0["stats"]["text"]
    mn, mx = rng0[0], rng0[1]
    assert mn <= long_a and mx is not None and mx >= long_z
    assert len(rng0) == 3  # the truncation marker
    # pruning: a predicate beyond the bumped max skips the text file;
    # a value inside the range keeps it and the exact filter works
    pruned = lake_read(spark, t, where=[("text", ">=", "zzzz")])
    assert pruned.count() == 0
    hit = lake_read(spark, t, where=[("text", "=", long_a)])
    assert [r.k for r in hit.collect()] == [1]
    # unit: un-bumpable max (max codepoint run) → unbounded above
    top = chr(0x10FFFF) * 70
    mn2, mx2, tr2 = _trunc_str_bounds(top, top)
    assert mn2 == top[:64] and mx2 is None and tr2
    # surrogate hole: bumping U+D7FF jumps to U+E000, skipping the
    # lone-surrogate range JSON cannot encode
    s = "a" * 63 + "퟿"
    _mn3, mx3, _tr3 = _trunc_str_bounds("a", s + "tail")
    assert mx3 == "a" * 63 + ""
    # short strings: untouched, unmarked
    mn4, mx4, tr4 = _trunc_str_bounds("a", "b")
    assert (mn4, mx4, tr4) == ("a", "b", False)



def test_lake_column_max_refuses_truncated_string_stats(spark, tmp_path):
    """A truncated string max is a synthesized prune bound, not a row
    value: lake_column_max must return None (caller falls back to a
    scan) instead of handing a cursor consumer a value that would
    skip real rows. Short strings still resolve from stats."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_column_max

    t = str(tmp_path / "t")
    lake_write(
        spark.createDataFrame(
            [(1, "zz" * 100)], "k int, text string"
        ).coalesce(1),
        t,
    )
    assert lake_column_max(t, "k") == 1  # ints unaffected
    assert lake_column_max(t, "text") is None  # truncated: refuse
    t2 = str(tmp_path / "t2")
    lake_write(
        spark.createDataFrame(
            [(1, "short")], "k int, text string"
        ).coalesce(1),
        t2,
    )
    assert lake_column_max(t2, "text") == "short"


def test_ckpt_prune_expr_handles_in_predicates(spark):
    """The distributed planning path must compile `in` predicates
    (the point-lookup shape it exists for) — both stats ranges and
    identity partition values."""
    import pyspark.sql.types as T

    from ndvi_etl_pipeline_spark.sources.lake import _ckpt_prune_expr

    schema = T.StructType(
        [
            T.StructField("min__k", T.LongType()),
            T.StructField("max__k", T.LongType()),
            T.StructField("part__region", T.StringType()),
        ]
    )
    assert _ckpt_prune_expr(schema, "k", "in", [1, 5, 9], ()) is not None
    assert (
        _ckpt_prune_expr(schema, "region", "in", ["eu", "us"], ()) is not None
    )
    # scalar path unchanged
    assert _ckpt_prune_expr(schema, "k", ">=", 3, ()) is not None
    # mixed-type in-list: conservative None (keep everything)
    assert _ckpt_prune_expr(schema, "k", "in", [1, "x"], ()) is None


def _anti_lines(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [l for l in plan.splitlines() if "Join LeftAnti" in l]


def test_dv_hash_keying_regimes(spark, tmp_path, monkeypatch):
    """Default DV keying hashes the RAW `_metadata.file_path`
    (xxhash64) on the table side and driver-predicted raw paths on
    the DV side — no per-row decode chain anywhere (the measured
    dominator of the in-debt read at 600 M rows). Two regimes by
    live-DV-row count: compact (long, long) keys broadcast up to
    _DV_FID_BROADCAST_MAX_ROWS — the table side never shuffles —
    then the anti-join sheds the hint and shuffles (the regime
    lake_maintain's drain exists to prevent). The old string-keyed
    tier bound is irrelevant here: hash keys are ALWAYS compact."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(100)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    small_df = lake_read(spark, t)
    plan = small_df._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan and "UrlCodec" not in plan
    small = _anti_lines(small_df)
    assert small and all("strategy=broadcast" in l for l in small)
    # the string-tier bound does NOT demote hash keys to the fid path
    monkeypatch.setattr(L, "_DV_BROADCAST_MAX_ROWS", 5)
    mid_df = lake_read(spark, t)
    mid = _anti_lines(mid_df)
    assert mid and all("strategy=broadcast" in l for l in mid)
    assert "__dv_fid" not in mid_df._jdf.queryExecution().optimizedPlan().toString()
    assert {r.k for r in mid_df.collect()} == set(range(1, 100, 2))
    # past the compact-key bound the anti-join loses the hint
    monkeypatch.setattr(L, "_DV_FID_BROADCAST_MAX_ROWS", 5)
    big = _anti_lines(lake_read(spark, t))
    assert big and all("strategy=broadcast" not in l for l in big)
    assert {r.k for r in lake_read(spark, t).collect()} == set(range(1, 100, 2))


def test_dv_antijoin_drops_broadcast_hint_above_threshold(
    spark, tmp_path, monkeypatch
):
    """The decoded-string fallback (spark.ndvi_etl.dvKeying=decoded,
    also auto-taken for paths outside the URI-safe charset) keeps the
    round-8 three-regime contract: small sets broadcast string-keyed;
    bulk sets re-key to compact (int fid, long pos) and STILL
    broadcast — the table side must never shuffle; only past
    _DV_FID_BROADCAST_MAX_ROWS does the anti-join lose the hint and
    shuffle."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(100)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    spark.conf.set(L.DV_KEYING_CONF, "decoded")
    try:
        small = _anti_lines(lake_read(spark, t))
        assert small and all("strategy=broadcast" in l for l in small)
        monkeypatch.setattr(L, "_DV_BROADCAST_MAX_ROWS", 5)
        # fid tier: the anti-join keeps a broadcast hint, but on the
        # COMPACT fid-keyed side (the plan now carries the id mapping)
        mid_df = lake_read(spark, t)
        mid = _anti_lines(mid_df)
        assert mid and all("strategy=broadcast" in l for l in mid)
        assert (
            "__dv_fid"
            in mid_df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert {r.k for r in mid_df.collect()} == set(range(1, 100, 2))
        monkeypatch.setattr(L, "_DV_FID_BROADCAST_MAX_ROWS", 5)
        # past the fid bound the ANTI-JOIN itself loses the hint (the
        # manifest-scale id-mapping broadcasts the branch adds are fine)
        big = _anti_lines(lake_read(spark, t))
        assert big and all("strategy=broadcast" not in l for l in big)
        # rows identical in every regime
        assert {r.k for r in lake_read(spark, t).collect()} == set(
            range(1, 100, 2)
        )
    finally:
        spark.conf.unset(L.DV_KEYING_CONF)


def test_dv_hash_keying_falls_back_on_unsafe_path(spark, tmp_path):
    """A table root containing a char the file URI percent-encodes
    (space) must auto-fall back to decoded-string keying — predicted
    raw paths could not be trusted — and still return exact rows."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    t = str(tmp_path / "a b" / "t")
    lake_write(_df(spark, [(i, "v") for i in range(20)]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    df = lake_read(spark, t)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UrlCodec" in plan  # decoded fallback engaged
    assert sorted(r.k for r in df.collect()) == list(range(1, 20, 2))


def test_dv_hash_keying_keep_meta_exposes_decoded_rel(spark, tmp_path):
    """keep_meta consumers (dv-delete hit addressing) still get the
    DECODED entry-form rel even in hash mode — the hash is a join key,
    never a consumer surface — proven by chaining a second dv-delete
    (which addresses rows via keep_meta) on a hash-keyed table."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(30)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    got = sorted(r.k for r in lake_read(spark, t).collect())
    assert got == [k for k in range(1, 30, 2) if k % 3 != 0]
    assert "__dv_h" not in lake_read(spark, t).columns


def test_truncation_marker_only_when_max_synthesized(spark, tmp_path):
    """A truncated MIN beside an exact short MAX must not poison
    lake_column_max — the marker records only synthesized maxima."""
    from ndvi_etl_pipeline_spark.sources.lake import (
        _trunc_str_bounds,
        lake_column_max,
    )

    mn, mx, marked = _trunc_str_bounds("a" * 100, "zzz")
    assert mn == "a" * 64 and mx == "zzz" and not marked
    t = str(tmp_path / "t")
    lake_write(
        spark.createDataFrame(
            [(1, "a" * 100), (2, "zzz")], "k int, text string"
        ).coalesce(1),
        t,
    )
    assert lake_column_max(t, "text") == "zzz"
