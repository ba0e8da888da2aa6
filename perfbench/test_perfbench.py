"""The benchmark's own tests: seeded fixtures, metric names, and checks
that catch a wrong result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

import checks
import fixtures
import run
import spans
import workloads


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    fixtures.write_tables(tmp_path / "a", 7)
    fixtures.write_tables(tmp_path / "b", 7)
    fixtures.write_scenes(tmp_path / "sa", 7, 2, 64)
    fixtures.write_scenes(tmp_path / "sb", 7, 2, 64)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "sa") == _bytes(tmp_path / "sb")
    assert fixtures.lake_rows(7, 2000).equals(fixtures.lake_rows(7, 2000))


def test_another_seed_changes_every_generated_fixture(tmp_path):
    fixtures.write_tables(tmp_path / "a", 7)
    fixtures.write_tables(tmp_path / "b", 8)
    a, b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    fixed = {"region.parquet", "nation.parquet"}  # fixed-size dimension tables
    assert all(a[n] != b[n] for n in a if n not in fixed)
    fixtures.write_scenes(tmp_path / "sa", 7, 1, 64)
    fixtures.write_scenes(tmp_path / "sb", 8, 1, 64)
    assert _bytes(tmp_path / "sa") != _bytes(tmp_path / "sb")
    assert not fixtures.lake_rows(7, 2000).equals(fixtures.lake_rows(8, 2000))


def test_fixture_nodata_keeps_the_overview_closed_form():
    red, nir = fixtures.scene_bands(3, 0, 256)
    valid = (red != 0) & (nir != 0)
    assert valid.reshape(128, 2, 128, 2).any(axis=(1, 3)).all()
    assert not valid.all()


def _shared_sf01() -> Path:
    from ndvi_etl_pipeline_spark.sources.testdata import default_sf_dir

    d = Path(default_sf_dir())
    if not all((d / f"{t}.parquet").is_file() for t in fixtures.TABLES):
        pytest.skip(f"no shared sf0.1 test data in {d}")
    return d


def _profile(con, path: Path) -> dict:
    """Schema, row count, and per column the number of distinct values
    and (numbers and timestamps) the 1st and 99th percentiles and mean."""
    cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
    out = {"schema": [c[:2] for c in cols], "rows": con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0],
           "columns": {}}
    for name, typ, *_ in cols:
        if typ.endswith("[]"):
            continue
        x = f'epoch("{name}")' if typ == "TIMESTAMP" else f'"{name}"'
        aggs = [f"approx_count_distinct({x})"]
        if typ in ("TIMESTAMP", "INTEGER", "BIGINT", "DOUBLE"):
            aggs += [f"quantile_cont({x}, 0.01)", f"quantile_cont({x}, 0.99)", f"avg({x})"]
        out["columns"][name] = con.execute(f"SELECT {', '.join(aggs)} FROM '{path}'").fetchone()
    return out


def test_generated_tables_are_shaped_like_the_shared_sf01_data(tmp_path):
    import duckdb

    shared = _shared_sf01()
    fixtures.write_tables(tmp_path, 5)
    con = duckdb.connect()
    for t in fixtures.TABLES:
        got, want = _profile(con, tmp_path / f"{t}.parquet"), _profile(con, shared / f"{t}.parquet")
        assert (got["schema"], got["rows"]) == (want["schema"], want["rows"]), t
        for col, (distinct, *stats) in want["columns"].items():
            g = got["columns"][col]
            assert 0.8 <= g[0] / distinct <= 1.25, (t, col, g, stats)
            if stats:
                lo, hi, mean = stats
                span = max(hi - lo, 1e-9)
                assert abs(g[1] - lo) <= 0.02 * span and abs(g[2] - hi) <= 0.02 * span, (t, col, g, stats)
                assert abs(g[3] - mean) <= 0.05 * span, (t, col, g, stats)
    con.close()

    cat = workloads.Catalog(5)
    oracle_sql = {n: cat.registry[n].oracle for n in cat.names}
    got = checks.CatalogOracle(tmp_path, cat.names, oracle_sql)
    want = checks.CatalogOracle(shared, cat.names, oracle_sql)
    for n in cat.names:
        assert abs(got.rows(n) - want.rows(n)) <= 0.25 * want.rows(n), (n, got.rows(n), want.rows(n))


def test_each_operation_is_traced_in_exactly_one_warm_round():
    for seed in range(5):
        cat = workloads.Catalog(seed)
        cat.spark = None
        traced = {n: [] for n in cat.names}
        for r in (1, 2):
            names = [op.name for op in cat.ops(r, spans.Tracer(None, enabled=False))]
            for n, t in zip(names, run.traced_ops(names, r)):
                traced[n].append(t)
        assert all(sorted(v) == [False, True] for v in traced.values()), (seed, traced)
    assert not any(run.traced_ops(cat.names, 0))


def _fake_rounds(names: list[str]) -> list[list[dict]]:
    layers = {"build_s": 0.1, "residual_s": 0.001, "scheduler_gap_s": 0.01}
    return [
        [{"name": n, "kind": "query", "seconds": 1.0 + r, "error": None,
          "traced": t, "layers": dict(layers)}
         for n, t in zip(names, run.traced_ops(names, r))]
        for r in range(3)
    ]


def test_printed_metric_names_equal_benchmark_json(tmp_path):
    spec = json.loads(run.BENCHMARK_JSON.read_text())
    rounds = _fake_rounds(["q1", "q2", "q3", "q4"])
    setup = {"session": 5.0, "warmup": 3.0, "fixtures": [1.0, 1.1, 0.9]}
    e2e = run.end_to_end(rounds, setup)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}

    lake = workloads.PipelineLake(1)
    lake.table = str(tmp_path)
    lake.model = checks.LakeModel(fixtures.lake_rows(1, 100), fixtures.LAKE_KEYS)
    lake.conflicts_at_arm = 0
    per_layer_names = {m["name"] for m in spec["per_layer"]}
    for w in (workloads.Catalog(1), lake):
        tracer = spans.Tracer(None, enabled=False)
        got = run.per_layer(rounds, setup, tracer, w)
        got["peak_rss_mb"] = 1.0
        assert set(got) == per_layer_names, w.name
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


class _StubContext:
    def setJobGroup(self, *_):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def test_corrupted_result_counts_as_failed():
    good = pd.DataFrame({"k": ["a", "b"], "n": [3, 4], "x": [0.5, 1.25]})
    bad = good.copy()
    bad.loc[1, "n"] = 5
    assert checks.same_result(good.iloc[::-1].reset_index(drop=True), good) is None
    assert checks.same_result(bad, good) is not None
    assert checks.same_result(good.iloc[:1], good) is not None

    tracer = spans.Tracer(None, enabled=False)
    ops = [
        workloads.Op("ok", "query", lambda: good, lambda res: checks.same_result(res, good)),
        workloads.Op("corrupt", "query", lambda: bad, lambda res: checks.same_result(res, good)),
        workloads.Op("raises", "query", lambda: 1 / 0, lambda res: None),
    ]
    recs = [run.run_op(_StubSpark(), tracer, op, "g", traced=False) for op in ops]
    failed = [r["name"] for r in recs if r["error"]]
    assert failed == ["corrupt", "raises"]
    assert len(failed) / len(recs) > 0


def test_lake_model_and_raster_checks_reject_wrong_answers():
    base = fixtures.lake_rows(2, 500)
    model = checks.LakeModel(base, fixtures.LAKE_KEYS)
    n, rev = model.expected()
    assert model.check(n, rev) is None
    assert model.check(n + 1, rev) is not None
    assert model.check(n, rev + 0.25) is not None

    red, nir = fixtures.scene_bands(2, 0, 64)
    want = {"s": checks.scene_stats(red, nir)}
    n_px, n_valid, mean = want["s"]
    row = {"scene_id": "s", "n_pixels": n_px, "n_valid": n_valid, "mean_ndvi": round(mean, 6)}
    assert checks.check_scene_stats([row], want) is None
    assert checks.check_scene_stats([dict(row, mean_ndvi=mean + 1e-3)], want) is not None
    assert checks.check_overview_counts([{"factor": 2, "n": 1024}], 1, 64) is None
    assert checks.check_overview_counts([{"factor": 2, "n": 1023}], 1, 64) is not None


class _Seq(list):
    """A Scala Seq as py4j shows it."""

    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


def _stub_sql_spark(executions: _Seq):
    """A session whose SQL status store holds `executions`; each has one
    Arrow UDF node that sent 1 MiB to the Python workers."""
    metric = SimpleNamespace(name=lambda: "data sent to Python workers", accumulatorId=lambda: 7)
    node = SimpleNamespace(name=lambda: "ArrowEvalPython", metrics=lambda: _Seq([metric]))
    some = SimpleNamespace(isDefined=lambda: True, get=lambda: "1.0 MiB")
    store = SimpleNamespace(
        executionsList=lambda: executions,
        executionMetrics=lambda eid: SimpleNamespace(get=lambda acc: some),
        planGraph=lambda eid: SimpleNamespace(allNodes=lambda: _Seq([node])),
    )
    return SimpleNamespace(_jsparkSession=SimpleNamespace(
        sharedState=lambda: SimpleNamespace(statusStore=lambda: store)))


def test_sql_metrics_count_only_executions_after_mark():
    executions = _Seq()

    def execute(n):
        for _ in range(n):
            executions.append(SimpleNamespace(executionId=lambda i=len(executions): i))

    def to_worker_mb(tracer):
        m = defaultdict(float)
        tracer._sql_metrics(m)
        return m["py.to_worker_bytes"] / 2**20

    tracer = spans.Tracer(_stub_sql_spark(executions), enabled=False)
    execute(3)  # set-up, warm-up and an untraced operation
    tracer.mark()
    execute(2)  # the traced operation
    assert to_worker_mb(tracer) == 2
    execute(4)  # its check and the next, untraced operation
    tracer.mark()
    execute(1)
    assert to_worker_mb(tracer) == 1


@pytest.mark.parametrize("text, value", [
    ("12.0 MiB", 12 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.5 s, 0.9 s (stage 2.0: task 5))", 1.5),
    ("1,234", 1234.0),
    ("277 ms", 0.277),
])
def test_parse_sql_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_span_self_time_excludes_children():
    t = spans.Tracer(None, enabled=True)
    t.spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    self_t = t.self_times()
    assert self_t["op"] == pytest.approx(5.0)
    assert spans.union_s([(1, 4), (3, 6)], lo=2, hi=5) == pytest.approx(3.0)


def test_union_handles_disjoint_intervals():
    assert spans.union_s([(0, 1), (2, 3)]) == pytest.approx(2.0)
    assert spans.union_s([]) == 0.0
    assert np.isclose(spans.union_s([(0, 5), (1, 2)]), 5.0)
