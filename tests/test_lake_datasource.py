"""`lake` Python DataSource (sources/lake_datasource.py): snapshot
batch reads (time travel, schema-evolution nulls, identity-partition
fill) and the version-offset streaming source (per-trigger delta =
exactly the files appended since the checkpointed version)."""

import pytest
from pyspark.errors import StreamingQueryException

from ndvi_etl_pipeline_spark.sources import lake_datasource as LDS
from ndvi_etl_pipeline_spark.sources.lake import (
    lake_compact,
    lake_read,
    lake_write,
)


@pytest.fixture()
def lake_ds(spark):
    LDS.register(spark)
    return spark


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_lake_datasource_batch_snapshot_reads(lake_ds, tmp_path):
    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), t)
    lake_write(
        _mk(spark, [(3, "c", 0.5)], "k int, v string, score double"), t
    )

    df = spark.read.format("lake").option("path", t).load()
    got = sorted((r.k, r.v, r.score) for r in df.collect())
    # schema evolution: pre-evolution file reads NULL score
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 0.5)]
    # matches the native reader exactly
    assert got == sorted(
        (r.k, r.v, r.score) for r in lake_read(spark, t).collect()
    )
    # time travel via option("version", ...)
    v0 = spark.read.format("lake").option("path", t).option("version", 0).load()
    assert sorted((r.k, r.v) for r in v0.collect()) == [(1, "a"), (2, "b")]
    # one input partition per data file → executor-parallel scan
    assert len(df.inputFiles()) == 0  # python source: no native files listed


def test_lake_datasource_identity_partition_fill(lake_ds, tmp_path):
    """Identity layouts drop the partition column from the data files;
    the executor-side reader re-attaches it from the manifest's dir
    values, typed per the table schema."""
    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(
        _mk(spark, [(1, "x", "web"), (2, "y", "code")], "k int, v string, src string"),
        t,
        partition_by=("src",),
    )
    df = spark.read.format("lake").option("path", t).load()
    assert sorted((r.k, r.src) for r in df.collect()) == [(1, "web"), (2, "code")]
    assert df.schema["src"].dataType.typeName() == "string"


def test_lake_datasource_stream_version_offsets(lake_ds, tmp_path):
    """readStream over the lake: the first trigger delivers the full
    table, later triggers deliver exactly the files appended since the
    checkpointed snapshot version; a non-append commit in the range
    fails the batch with the honest CDC boundary."""
    spark = lake_ds
    t = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    lake_write(_mk(spark, [(1, "a")], "k int, v string"), t)
    lake_write(_mk(spark, [(2, "b")], "k int, v string"), t)

    def drain(sink):
        q = (
            spark.readStream.format("lake")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(
                lambda b, i: sink.append(sorted(r.k for r in b.collect()))
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out: list = []
    drain(out)
    assert [k for batch in out for k in batch] == [1, 2]

    lake_write(_mk(spark, [(3, "c"), (4, "d")], "k int, v string"), t)
    out2: list = []
    drain(out2)
    assert [k for batch in out2 for k in batch] == [3, 4]  # the delta only

    # replay with the same checkpoint and no new commits: nothing
    out3: list = []
    drain(out3)
    assert [k for batch in out3 for k in batch] == []

    # a compaction breaks the file-diff ≡ new-rows equivalence: the
    # stream must FAIL, not silently re-deliver compacted rows
    lake_compact(spark, t, num_files=1)
    out4: list = []
    with pytest.raises(StreamingQueryException, match="non-append"):
        drain(out4)


def test_lake_datasource_batch_cdf(lake_ds, tmp_path):
    """Batch change feed: option('cdf','true') + fromVersion returns
    insert/delete rows tagged _change_type/_commit_version, matching
    the library's lake_read_cdf."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.sources.lake import lake_delete, lake_read_cdf

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), t)   # v0
    lake_write(_mk(spark, [(3, "c")], "k int, v string"), t)             # v1
    lake_delete(spark, t, F.col("k").isin([1, 3]), strategy="dv")        # v2

    feed = (
        spark.read.format("lake")
        .option("path", t)
        .option("cdf", "true")
        .option("fromVersion", 0)
        .load()
        .collect()
    )
    got = sorted((r.k, r._change_type, r._commit_version) for r in feed)
    assert got == [(1, "delete", 2), (3, "delete", 2), (3, "insert", 1)]
    lib = sorted(
        (r.k, r._change_type, r._commit_version)
        for r in lake_read_cdf(spark, t, 0).collect()
    )
    assert got == lib

    # full-history feed: v0's creation rows are inserts
    all_feed = (
        spark.read.format("lake")
        .option("path", t)
        .option("cdf", "true")
        .load()
        .collect()
    )
    ins = sorted(r.k for r in all_feed if r._change_type == "insert")
    assert ins == [1, 2, 3]


def test_lake_datasource_stream_cdf_delivers_retractions(lake_ds, tmp_path):
    """Streaming change feed: a dv-delete commit arrives as delete
    rows (retractions) instead of killing the stream; inserts and
    deletes carry their commit version; the checkpointed offset
    advances past the delete."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.sources.lake import lake_delete

    spark = lake_ds
    t = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), t)

    def drain(sink):
        q = (
            spark.readStream.format("lake")
            .option("path", t)
            .option("cdf", "true")
            .load()
            .writeStream.foreachBatch(
                lambda b, i: sink.append(
                    sorted(
                        (r.k, r._change_type, r._commit_version)
                        for r in b.collect()
                    )
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out: list = []
    drain(out)
    assert [x for b in out for x in b] == [(1, "insert", 0), (2, "insert", 0)]

    lake_delete(spark, t, F.col("k") == 1, strategy="dv")
    lake_write(_mk(spark, [(5, "e")], "k int, v string"), t)
    out2: list = []
    drain(out2)
    assert [x for b in out2 for x in b] == [(1, "delete", 1), (5, "insert", 2)]

    # consumer compose: applying the feed to an empty state yields
    # the live table
    state: dict = {}
    for b in out + out2:
        for k, ct, _v in b:
            if ct == "insert":
                state[k] = state.get(k, 0) + 1
            else:
                state[k] = state.get(k, 0) - 1
    live = sorted(k for k, n in state.items() if n > 0)
    assert live == sorted(r.k for r in lake_read(spark, t).collect())


def test_lake_datasource_filter_pushdown_prunes_files(lake_ds, tmp_path):
    """Catalyst filter pushdown reaches the manifest: a .filter() on
    the DataFrame must shrink the partition list via min/max file
    skipping (asserted through the reader API), and results stay
    exact (Spark re-applies the row filter on surviving files)."""
    from ndvi_etl_pipeline_spark.sources import lake_datasource as LDSmod

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(i, "lo") for i in range(10)], "k int, v string").coalesce(1), t)
    lake_write(_mk(spark, [(i, "hi") for i in range(100, 110)], "k int, v string").coalesce(1), t)

    df = spark.read.format("lake").option("path", t).load().filter("k >= 100")
    assert sorted(r.k for r in df.collect()) == list(range(100, 110))
    # row-exactness with a predicate INSIDE a surviving file
    df2 = spark.read.format("lake").option("path", t).load().filter("k = 105")
    assert [r.k for r in df2.collect()] == [105]

    # the reader API itself: pushFilters shrinks partitions()
    from pyspark.sql.datasource import GreaterThanOrEqual

    rdr = LDSmod.LakeBatchReader({"path": t})
    assert len(rdr.partitions()) == 2
    rdr.pushFilters([GreaterThanOrEqual(("k",), 100)])
    assert len(rdr.partitions()) == 1


def test_lake_datasource_batch_write(lake_ds, tmp_path):
    """df.write.format('lake'): executor-staged files publish as ONE
    manifest with executor-computed per-file stats (file skipping
    works on DataSource-written tables); append merges schema and
    interoperates with the library reader/writer; errorifexists and
    overwrite semantics hold; constrained/partitioned tables refuse."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.sources.lake import (
        _file_may_match,
        _read_manifest,
        lake_alter_constraints,
        lake_latest_version,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    df = _mk(spark, [(i, "a") for i in range(100)], "k int, v string").repartitionByRange(
        4, "k"
    )
    df.write.format("lake").option("path", t).mode("append").save()
    assert lake_latest_version(t) == 0
    m = _read_manifest(t, 0)
    assert len(m["files"]) == 4 and m["op"] == "append"
    # executor-side stats landed and prune
    assert all(e["stats"].get("k") for e in m["files"])
    got = lake_read(spark, t)
    assert got.count() == 100
    may_match = sum(
        1 for e in m["files"] if _file_may_match(e, [("k", "==", 3)])
    )
    assert may_match == 1

    # library append then DataSource append interoperate
    lake_write(_mk(spark, [(1000, "z")], "k int, v string"), t)
    _mk(spark, [(2000, "y", 0.5)], "k int, v string, s double").coalesce(1).write.format(
        "lake"
    ).option("path", t).mode("append").save()
    rows = {r.k: r.s for r in lake_read(spark, t).collect()}
    assert rows[2000] == 0.5 and rows[1000] is None  # schema evolved

    # overwrite replaces the table in one snapshot
    _mk(spark, [(7, "w")], "k int, v string").coalesce(1).write.format("lake").option(
        "path", t
    ).mode("overwrite").save()
    assert {r.k for r in lake_read(spark, t).collect()} == {7}

    # constrained tables refuse the DataSource path with a clear error
    lake_alter_constraints(spark, t, add_checks={"pos": "k > 0"})
    import pyspark.errors as PE

    with pytest.raises(Exception, match="lake_write"):
        _mk(spark, [(8, "x")], "k int, v string").write.format("lake").option(
            "path", t
        ).mode("append").save()


def test_lake_datasource_stream_write_exactly_once(lake_ds, tmp_path):
    """writeStream.format('lake'): each micro-batch is one manifest
    stamped (sink, batchId); a replayed batch publishes NOTHING (the
    history ledger makes retries exactly-once); the table is readable
    mid-stream and the final rows equal the source exactly once."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_history

    spark = lake_ds
    src = str(tmp_path / "src")
    t = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), src)

    def drain():
        q = (
            spark.readStream.format("lake")
            .option("path", src)
            .load()
            .writeStream.format("lake")
            .option("path", t)
            .option("sinkId", "featurizer")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.k for r in lake_read(spark, t).collect()) == [1, 2]
    hist = lake_history(t)
    assert hist[-1]["properties"]["stream_batch_id"] == 0

    lake_write(_mk(spark, [(3, "c")], "k int, v string"), src)
    drain()
    assert sorted(r.k for r in lake_read(spark, t).collect()) == [1, 2, 3]

    # replay with no new source data: no new manifest
    n_before = len(lake_history(t))
    drain()
    assert len(lake_history(t)) == n_before

    # duplicate-batch suppression at the writer level: re-committing
    # batchId 0 by hand publishes nothing
    from ndvi_etl_pipeline_spark.sources import lake_datasource as LDSmod

    w = LDSmod.LakeStreamWriter(
        {"path": t, "sinkId": "featurizer"},
        _mk(spark, [(9, "q")], "k int, v string").schema,
        overwrite=False,
    )
    w.commit([LDSmod.LakeWriteMessage([], 0)], 0)
    assert len(lake_history(t)) == n_before


def test_lake_datasource_partitioned_write_interop(lake_ds, tmp_path):
    """DataSource writes to an identity-partitioned table: executors
    write hive-style col=val files with the partition column dropped,
    the manifest records the values, and BOTH readers (library +
    DataSource) recover the column and prune on it; appends inherit
    the layout; a mismatched partitionBy refuses."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import (
        _file_may_match,
        _read_manifest,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    df = _mk(
        spark,
        [(i, "web" if i % 2 else "code", i * 1.0) for i in range(20)],
        "k int, src string, x double",
    )
    df.write.format("lake").option("path", t).option(
        "partitionBy", "src"
    ).mode("append").save()

    m = _read_manifest(t, 0)
    assert m["partition_by"] == ["src"]
    assert all(e.get("partitions", {}).get("src") for e in m["files"])
    assert all("src=" in e["path"] for e in m["files"])

    # both readers recover src; partition pruning works
    lib = lake_read(spark, t)
    assert {r.src for r in lib.collect()} == {"web", "code"}
    dsr = spark.read.format("lake").option("path", t).load()
    assert sorted((r.k, r.src) for r in dsr.collect()) == sorted(
        (r.k, r.src) for r in lib.collect()
    )
    n_hit = sum(
        1 for e in m["files"] if _file_may_match(e, [("src", "==", "web")], ("src",))
    )
    assert 0 < n_hit < len(m["files"])

    # append without partitionBy inherits the layout; library reader
    # sees the union
    _mk(spark, [(100, "web", 5.0)], "k int, src string, x double").write.format(
        "lake"
    ).option("path", t).mode("append").save()
    assert lake_read(spark, t).count() == 21

    # layout mismatch refuses
    with pytest.raises(Exception, match="partitionBy|layout"):
        _mk(spark, [(0, "a", 1.0)], "k int, src string, x double").write.format(
            "lake"
        ).option("path", t).option("partitionBy", "k").mode("append").save()


def test_lake_datasource_transform_partitioned_write(lake_ds, tmp_path):
    """DataSource writes to a bucket-transform layout: executors
    derive the dir value with the SAME function the pruner applies,
    the source column stays in the files, and hidden-partition
    pruning works on both the library read and a later library
    append interop."""
    from ndvi_etl_pipeline_spark.sources.lake import (
        _file_may_match,
        _read_manifest,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    df = _mk(
        spark,
        [(i, f"fp{i:04d}") for i in range(40)],
        "k int, fingerprint string",
    )
    df.write.format("lake").option("path", t).option(
        "partitionBy", "bucket(4, fingerprint)"
    ).mode("append").save()

    m = _read_manifest(t, 0)
    assert m["partition_by"] == ["bucket(4, fingerprint)"]
    # hidden partitioning: the source column survives in the data
    got = {r.fingerprint for r in lake_read(spark, t).collect()}
    assert len(got) == 40
    # point-lookup pruning on the SOURCE column via the transform
    pred = [("fingerprint", "==", "fp0007")]
    n_hit = sum(
        1
        for e in m["files"]
        if _file_may_match(e, pred, ("bucket(4, fingerprint)",))
    )
    assert 0 < n_hit < len(m["files"])
    assert {
        r.k for r in lake_read(spark, t, where=pred).collect()
    } == {7}

    # library append interop on the same layout
    lake_write(
        _mk(spark, [(100, "fp0100")], "k int, fingerprint string"),
        t,
        partition_by=("bucket(4, fingerprint)",),
    )
    assert lake_read(spark, t).count() == 41


def test_lake_datasource_reads_mapped_and_widened_tables(lake_ds, tmp_path):
    """Column-mapped (renamed/dropped) and type-widened tables through
    the DataSource read path: executors pull file columns by PHYSICAL
    name and emit logical ones; narrow files upcast via arrow cast.
    The write path REFUSES mapped tables (it stages logical-named
    files) — the same honest boundary as constrained tables."""
    import pytest as _pytest

    from ndvi_etl_pipeline_spark.sources.lake import (
        lake_rename_column,
        lake_write,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(1, "a", 1.5)], "k int, v string, x float"), t)
    lake_rename_column(t, "v", "label")
    lake_write(
        _mk(spark, [(2**40, "b", 2.5)], "k long, label string, x double"), t
    )  # widens k and x
    df = spark.read.format("lake").option("path", t).load()
    assert df.columns == ["k", "label", "x"]
    assert dict(df.dtypes) == {"k": "bigint", "label": "string", "x": "double"}
    got = sorted((r.k, r.label, r.x) for r in df.collect())
    assert got == [(1, "a", 1.5), (2**40, "b", 2.5)]
    # CDF across the rename, through the DataSource
    feed = (
        spark.read.format("lake").option("path", t)
        .option("cdf", "true").option("fromVersion", "-1").load()
    )
    rows = sorted((r._commit_version, r._change_type, r.label) for r in feed.collect())
    assert rows == [(0, "insert", "a"), (2, "insert", "b")]
    # write path refuses mapped tables
    with _pytest.raises(Exception, match="column mapping"):
        _mk(spark, [(3, "c", 3.0)], "k long, label string, x double").write.format(
            "lake"
        ).option("path", t).mode("append").save()


def test_lake_stream_admission_control_bounds_triggers(lake_ds, tmp_path):
    """maxVersionsPerTrigger / maxFilesPerTrigger: once the reader
    knows its position, each latestOffset() advances by at most the
    configured commits/files (≥1 commit always admits). The first
    call of a fresh reader is unbounded — the Python DataSource API
    gives latestOffset no checkpoint view; partitions() anchors the
    window when a replayed batch runs first."""
    from ndvi_etl_pipeline_spark.sources.lake_datasource import (
        LakeStreamReader,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    for i in range(3):  # v0..v2, one file each
        lake_write(_mk(spark, [(i, "a")], "k int, v string").coalesce(1), t)

    r = LakeStreamReader({"path": t, "maxVersionsPerTrigger": "1"})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 2}  # first: unbounded
    for i in range(3, 6):  # v3..v5
        lake_write(_mk(spark, [(i, "a")], "k int, v string").coalesce(1), t)
    assert r.latestOffset() == {"version": 3}  # bounded: +1 commit
    assert r.latestOffset() == {"version": 4}
    assert r.latestOffset() == {"version": 5}
    assert r.latestOffset() == {"version": 5}  # caught up: no advance

    # partitions() anchors a replayed batch's range (restart path)
    r2 = LakeStreamReader({"path": t, "maxVersionsPerTrigger": "2"})
    r2.partitions({"version": 1}, {"version": 2})
    assert r2.latestOffset() == {"version": 4}  # bounded from 2, not -1

    # file-granular: each commit has 2 files; limit 3 admits one
    # commit (2 files), the next call the remaining one
    t2 = str(tmp_path / "t2")
    for i in range(3):  # v0..v2
        lake_write(
            _mk(spark, [(i, "a"), (i + 10, "b")], "k int, v string")
            .repartition(2),
            t2,
        )
    r3 = LakeStreamReader({"path": t2, "maxFilesPerTrigger": "3"})
    r3.partitions({"version": -1}, {"version": 0})
    assert r3.latestOffset() == {"version": 1}  # 2 files ≤ 3, 4 > 3
    assert r3.latestOffset() == {"version": 2}


def test_lake_datasource_cdf_across_mor_update_and_merge(lake_ds, tmp_path):
    """Address-based change recovery through the DataSource: a MoR
    UPDATE / MERGE (and a COW UPDATE) arrive as delete(preimage) +
    insert(postimage) partitions — matching lake_read_cdf row for
    row — while a COW MERGE still refuses (its deletes are key-join
    recoveries no single-file partition can materialize)."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.sources.lake import (
        lake_merge,
        lake_read_cdf,
        lake_update,
    )

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(1, "a"), (2, "b"), (3, "c")], "k int, v string"), t)  # v0
    lake_update(spark, t, {"v": F.upper(F.col("v"))}, F.col("k") == 1,
                strategy="mor")                                                   # v1
    lake_merge(spark, _mk(spark, [(2, "M2"), (9, "n")], "k int, v string"), t,
               keys=("k",), strategy="mor")                                        # v2
    lake_update(spark, t, {"v": F.concat(F.col("v"), F.lit("!"))},
                F.col("k") == 3)                                                   # v3 (COW)

    def feed(frm):
        return sorted(
            (r.k, r.v, r._change_type, r._commit_version)
            for r in spark.read.format("lake")
            .option("path", t)
            .option("cdf", "true")
            .option("fromVersion", frm)
            .load()
            .collect()
        )

    got = feed(0)
    lib = sorted(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in lake_read_cdf(spark, t, 0).collect()
    )
    assert got == lib
    assert (1, "a", "delete", 1) in got and (1, "A", "insert", 1) in got
    assert (2, "b", "delete", 2) in got and (2, "M2", "insert", 2) in got
    assert (9, "n", "insert", 2) in got
    assert (3, "c", "delete", 3) in got and (3, "c!", "insert", 3) in got

    # COW merge: the DS change feed refuses honestly
    lake_merge(spark, _mk(spark, [(9, "N2")], "k int, v string"), t, keys=("k",))
    with pytest.raises(Exception, match="change feed undefined"):
        feed(3)


def test_lake_datasource_stream_cdf_across_mor_merge(lake_ds, tmp_path):
    """Streaming change feed across a MoR MERGE: one trigger delivers
    the retraction + postimage pair and the offset advances."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    spark = lake_ds
    t = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), t)

    def drain(sink):
        q = (
            spark.readStream.format("lake")
            .option("path", t)
            .option("cdf", "true")
            .load()
            .writeStream.foreachBatch(
                lambda b, i: sink.append(
                    sorted(
                        (r.k, r.v, r._change_type, r._commit_version)
                        for r in b.collect()
                    )
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out: list = []
    drain(out)
    lake_merge(spark, _mk(spark, [(2, "M"), (7, "g")], "k int, v string"), t,
               keys=("k",), strategy="mor")
    out2: list = []
    drain(out2)
    assert [x for b in out2 for x in b] == [
        (2, "M", "insert", 1),
        (2, "b", "delete", 1),
        (7, "g", "insert", 1),
    ]


def test_lake_datasource_columns_projection(lake_ds, tmp_path):
    """option('columns', 'a,b'): the source's output schema narrows,
    executors decode only those parquet columns, unknown names fail
    at plan time, and schema-evolution NULL-fill + deletion vectors
    still apply under the projection."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.sources.lake import lake_delete

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(
        _mk(spark, [(1, "a", 10.0), (2, "b", 20.0)],
            "k int, v string, w double"), t
    )
    lake_write(
        _mk(spark, [(3, "c", 30.0, "x")],
            "k int, v string, w double, extra string"), t
    )  # evolution: old files lack `extra`
    lake_delete(spark, t, F.col("k") == 2, strategy="dv")

    df = (
        spark.read.format("lake")
        .option("path", t)
        .option("columns", "k,extra")
        .load()
    )
    assert df.columns == ["k", "extra"]
    got = sorted((r.k, r.extra) for r in df.collect())
    assert got == [(1, None), (3, "x")]  # dv row gone, NULL-fill intact

    with pytest.raises(Exception, match="unknown columns"):
        (
            spark.read.format("lake")
            .option("path", t)
            .option("columns", "k,nope")
            .load()
            .collect()
        )


def test_lake_datasource_columns_on_renamed_table(lake_ds, tmp_path):
    """Projection composes with id-based column mapping: the logical
    name selects the stable physical parquet column."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_rename_column

    spark = lake_ds
    t = str(tmp_path / "t")
    lake_write(_mk(spark, [(1, "a"), (2, "b")], "k int, v string"), t)
    lake_rename_column(t, "v", "label")
    df = (
        spark.read.format("lake")
        .option("path", t)
        .option("columns", "label")
        .load()
    )
    assert df.columns == ["label"]
    assert sorted(r.label for r in df.collect()) == ["a", "b"]


def test_lake_stream_continues_across_widen_column(lake_ds, tmp_path):
    """A metadata-only ALTER COLUMN TYPE commit (identical file set,
    zero row changes) must NOT kill a running non-CDF stream: the
    file diff ≡ new rows equivalence holds across widen_column exactly
    as it does across rename/drop/constraint DDL (the other two read
    paths — lake_read_changes and _cdf_partitions — already diff
    across it)."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_widen_column

    spark = lake_ds
    t = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    lake_write(_mk(spark, [(1, "a")], "k int, v string"), t)

    def drain(sink):
        q = (
            spark.readStream.format("lake")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(
                lambda b, i: sink.append(sorted(r.k for r in b.collect()))
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out: list = []
    drain(out)
    assert [k for batch in out for k in batch] == [1]

    lake_widen_column(t, "k", "bigint")  # metadata-only commit
    lake_write(_mk(spark, [(2, "b")], "k int, v string"), t)
    out2: list = []
    drain(out2)  # must not raise 'non-append commit'
    assert [k for batch in out2 for k in batch] == [2]


def test_lake_stream_continues_across_alter_partition_spec(lake_ds, tmp_path):
    """A partition-spec evolution commit (identical file set, zero
    row changes) must NOT kill a running non-CDF stream — same
    metadata-only contract as widen/rename/drop/constraint DDL — and
    post-evolution appends (laid out under the NEW spec) must arrive
    as ordinary inserts with identity partition values filled from
    each file's OWN spec."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_alter_partition_spec

    spark = lake_ds
    t = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    lake_write(
        _mk(spark, [(1, "a")], "k int, v string").coalesce(1),
        t,
        partition_by=("v",),
    )

    def drain(sink):
        q = (
            spark.readStream.format("lake")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(
                lambda b, i: sink.append(
                    sorted((r.k, r.v) for r in b.collect())
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out: list = []
    drain(out)
    assert [x for batch in out for x in batch] == [(1, "a")]

    lake_alter_partition_spec(t, ("bucket(2, k)",))  # metadata-only
    lake_write(_mk(spark, [(2, "b")], "k int, v string").coalesce(1), t)
    out2: list = []
    drain(out2)  # must not raise 'non-append commit'
    assert [x for batch in out2 for x in batch] == [(2, "b")]
