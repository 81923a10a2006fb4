"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import workloads as W
from spans import Span, Tracer, layer_metrics, self_times

SMALL = {
    "curate": {"docs": 120, "vocab": 500},
    "upsert": {"target_rows": 2_000, "delta_rows": 400, "buckets": 8},
}


@pytest.fixture(scope="module")
def spark():
    from orientdb_etl_spark import get_spark

    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)


@pytest.fixture()
def small(monkeypatch):
    for name, overrides in SMALL.items():
        for k, v in overrides.items():
            monkeypatch.setitem(W.PARAMS[name], k, v)


def _files(root):
    return {p.relative_to(root): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("name", ["curate", "upsert"])
def test_generator_is_deterministic_per_seed(name, spark, small, tmp_path):
    made = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl = W.make(name, seed, tmp_path / tag)
        wl.generate(spark)
        made[tag] = _files(tmp_path / tag)
    assert made["a"] == made["b"]
    assert made["a"] != made["c"]


def test_upsert_delta_touches_only_the_chosen_share_of_buckets(spark, small, tmp_path):
    from pyspark.sql import functions as F

    wl = W.make("upsert", 3, tmp_path)
    wl.generate(spark)
    p = wl.params
    delta = spark.createDataFrame(wl.delta)
    buckets = delta.select(F.pmod(F.xxhash64("key"), F.lit(p["buckets"]))).distinct().count()
    assert buckets == round(p["buckets"] * p["touched_share"])
    keys = wl.delta.column("key").to_pylist()
    updated = set(keys) & set(wl.base.column("key").to_pylist())
    assert len(updated) == round(len(set(keys)) * p["update_share"])


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        Span(0, None, "pipeline", "run", 0.0, 10.0),
        Span(1, 0, "operators", "a", 1.0, 3.0),
        Span(2, 0, "operators", "b", 2.0, 5.0),  # overlaps a
        Span(3, 0, "loaders", "c", 8.0, 12.0),  # runs past its parent
        Span(4, 2, "functions", "d", 2.5, 4.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.5)


def test_layer_wall_time_counts_nested_same_layer_spans_once():
    spans = [
        Span(0, None, "pipeline", "run", 0.0, 10.0),
        Span(1, 0, "functions", "outer", 1.0, 5.0),
        Span(2, 1, "functions", "inner", 2.0, 4.0),
    ]
    m = layer_metrics(spans, 100, 1000, 50, 0.0, 0)
    assert m["functions.wall_s"] == pytest.approx(4.0)
    assert m["functions.self_s"] == pytest.approx(4.0)
    assert m["operators.rows_kept_frac"] == pytest.approx(0.5)


def test_compile_time_leaves_out_nested_layer_spans():
    spans = [
        Span(0, None, "pipeline", "run", 0.0, 10.0),
        Span(1, 0, "pipeline", "compile", 0.0, 8.0),
        Span(2, 1, "sources", "resolve_source", 0.5, 1.5),
        Span(3, 1, "operators", "dedup", 2.0, 6.0),
    ]
    m = layer_metrics(spans, 100, 1000, 50, 0.0, 0)
    assert m["pipeline.compile_s"] == pytest.approx(8.0 - 1.0 - 4.0)


def test_rollup_attributes_jobs_to_the_innermost_span(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's group")
    try:
        tracer = Tracer(spark)
        with tracer.span("operators", "outer") as outer:
            sc.parallelize(range(10), 1).count()
            with tracer.span("functions", "inner") as inner:
                sc.parallelize(range(20), 3).count()
            sc.parallelize(range(10), 1).count()  # back in the outer group
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (outer.jobs, inner.jobs) == (2, 1)
    assert [st["tasks"] for st in outer.stages] == [1, 1]
    assert [st["tasks"] for st in inner.stages] == [3]
    m = layer_metrics(tracer.spans, 10, 1, 10, 0.0, 0)
    assert (m["operators.jobs"], m["functions.jobs"], m["session.jobs"]) == (2, 1, 3)
    assert m["session.tasks"] == 5


def _run(spark, wl, out):
    if isinstance(wl, W.Upsert):
        wl.build_target(spark, lambda cfg, tables: _pipeline(spark, cfg, tables))
    wl.prepare(out)
    return _pipeline(spark, wl.config(out), wl.tables(spark), wl.variables(out))


def _pipeline(spark, cfg, tables, variables=None):
    from orientdb_etl_spark import Pipeline

    p = Pipeline(cfg, spark, variables=variables)
    for name, df in tables.items():
        p.register_table(name, df)
    return p.run()


def _drop_one_row(path):
    part = sorted(p for p in path.rglob("*.parquet") if pq.read_metadata(p).num_rows)[0]
    table = pq.read_table(part)
    pq.write_table(table.slice(1), part)


def _duplicate_one_row(path):
    part = sorted(p for p in path.rglob("*.parquet") if pq.read_metadata(p).num_rows)[0]
    table = pq.read_table(part)
    pq.write_table(table.slice(0, 1), path / "extra.parquet")


@pytest.mark.parametrize(
    "name, corrupt",
    [
        ("curate", lambda out: _duplicate_one_row(out)),
        ("upsert", lambda out: _drop_one_row(out)),
    ],
)
def test_corrupted_output_fails_its_check(name, corrupt, spark, small, tmp_path):
    wl = W.make(name, 5, tmp_path / "data")
    wl.generate(spark)
    out = tmp_path / "out"
    _run(spark, wl, out)
    con = W.duckdb_connection()
    try:
        assert wl.check(con, out) == []
        corrupt(out)
        assert wl.check(con, out) != []
    finally:
        con.close()


@pytest.mark.parametrize("sleep_s, timeout_s", [(1, 30), (60, 0.5)])
def test_runner_reaps_processes_orphaned_under_it(sleep_s, timeout_s):
    """A grandchild whose parent exits is re-parented to the runner, which
    waits for it (or kills it after the timeout) before returning."""
    here = Path(__file__).resolve().parent
    code = textwrap.dedent(f"""
        import subprocess, time
        import run
        run._become_subreaper()
        pid = int(subprocess.run(
            ["sh", "-c", "sleep {sleep_s} >/dev/null 2>&1 & echo $!"],
            capture_output=True, text=True, check=True).stdout)
        t0 = time.monotonic()
        run._reap_descendants(timeout={timeout_s})
        print(pid, time.monotonic() - t0)
    """)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(here), str(here.parent)]))
    done = subprocess.run([sys.executable, "-c", code], cwd=here, env=env,
                          capture_output=True, text=True, timeout=60, check=True)
    pid, waited = done.stdout.split()
    assert not Path(f"/proc/{pid}").exists()
    assert min(sleep_s, timeout_s) * 0.9 <= float(waited) < min(sleep_s, timeout_s) + 5
