from ndvi_etl_pipeline_spark.sources.testdata import TABLES, load_table


def test_session_up(spark):
    assert spark.range(10).count() == 10


def test_default_driver_heap_fits_the_host():
    import os

    from ndvi_etl_pipeline_spark.session import _default_driver_memory

    gb = int(_default_driver_memory().removesuffix("g"))
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gb <= 16 and gb * 2**30 <= max(host, 2**30)


def test_all_tables_readable(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, name, sf_dir)
        assert len(df.columns) > 0
        assert df.limit(1).count() == 1


def test_stale_slow_list_entries_are_reported(tmp_path):
    """conftest flags slow_tests.txt entries that match no collected
    test in a collected (or deleted) file, and ignores files this run
    did not collect."""
    from conftest import stale_slow_ids

    (tmp_path / "tests").mkdir()
    for name in ("test_a.py", "test_b.py"):
        (tmp_path / "tests" / name).write_text("")
    slow = {
        "tests/test_a.py::test_kept",
        "tests/test_a.py::test_renamed",
        "tests/test_b.py::test_not_collected_this_run",
        "tests/test_gone.py::test_deleted_file",
    }
    nodeids = ["tests/test_a.py::test_kept", "tests/test_a.py::test_fast"]
    assert stale_slow_ids(slow, nodeids, str(tmp_path)) == [
        "tests/test_a.py::test_renamed",
        "tests/test_gone.py::test_deleted_file",
    ]
