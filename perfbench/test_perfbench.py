"""Tests of the benchmark's own logic.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402
from workloads import (  # noqa: E402
    DATABOUND_IDS,
    DATABOUND_POOL,
    HEADLINE_IDS,
    WORKLOADS,
    WRITE_STREAM_IDS,
    write_stream_pool,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def registered() -> set[str]:
    import __spark_entry__

    return set(__spark_entry__.queries())


# ------------------------------------------------------------ metric names


def test_metric_names_and_units_are_well_formed(spec):
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        names.append(m["name"])
    assert len(names) == len(set(names))
    for w in spec["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_workloads_match_the_spec(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def session(pass_s: dict, setup: float = 1.0, rss_kb: int = 1024, cpu: dict | None = None) -> dict:
    return {
        "session.start_s": setup,
        "registry.load_s": 0.0,
        "setup.warmup_s": 0.0,
        "pass": pass_s,
        "pass_cpu": pass_s if cpu is None else cpu,
        "hwm_kb": {"jvm": rss_kb, "python": 0},
    }


def test_untraced_run_emits_exactly_the_end_to_end_metrics(spec):
    got = run.end_to_end([session({"q": [1.0]})])
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want


def test_traced_run_emits_exactly_the_per_layer_metrics(spec):
    layers = [tracing.pass_metrics([], [], 0, 4)]
    got = run.per_layer(session({"q": [1.0]}), layers, {"plain": [2.0], "traced": [2.5]}, [1.0])
    assert {k: v["unit"] for k, v in got.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }
    assert got["trace.overhead_s"]["value"] == 0.5


# ------------------------------------------------------------ statistics


def test_metrics_are_medians_over_fresh_sessions():
    sessions = [
        session({"a": [1.0], "b": [4.0]}, setup=3.0, rss_kb=2048),
        session({"a": [2.0], "b": [8.0]}, setup=9.0, rss_kb=1024),
        session({"a": [0.5], "b": [2.0]}, setup=5.0, rss_kb=4096),
    ]
    m = run.end_to_end(sessions)
    assert m["pass_cpu_s"]["value"] == 5.0  # passes 5, 10, 2.5
    assert m["setup_s"]["value"] == 5.0
    assert m["peak_rss_mb"]["value"] == 2.0


def test_fresh_pass_cpu_and_wall_sum_every_run_and_geomean_takes_medians():
    s = session({"a": [3.0, 1.0, 2.0], "b": [8.0, 8.0, 8.0]}, cpu={"a": [9.0], "b": [1.5]})
    f = run.fresh_metrics(s)
    assert f["pass_cpu_s"] == 10.5
    assert f["fresh.pass_s"] == 30.0
    assert f["fresh.query_geomean_s"] == pytest.approx(4.0)  # medians 2, 8


def test_an_id_that_failed_is_left_out_of_its_pass():
    f = run.fresh_metrics(session({"a": [4.0]}))  # "b" raised
    assert f["fresh.pass_s"] == 4.0
    assert f["fresh.query_geomean_s"] == 4.0


# ------------------------------------------------------------ spans


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span("query", 0.0, 10.0),
        Span("build", 0.0, 4.0, 0),
        Span("job", 1.0, 3.0, 1),
        Span("job", 2.0, 5.0, 1),  # overlaps its sibling, ends past its parent
        Span("stage", 2.5, 3.0, 3),
        Span("exec", 4.0, 9.0, 0),
    ]
    assert tracing.self_times(spans) == [1.0, 1.0, 2.0, 2.5, 0.5, 5.0]
    by_layer = tracing.self_time_by_layer(spans)
    assert by_layer == {"query": 1.0, "build": 1.0, "job": 4.5, "stage": 0.5, "exec": 5.0}


def test_tables_counters_time_only_the_outermost_call_of_a_kind():
    spans = [
        Span("build", 0.0, 10.0),
        Span("tables.gated_broadcast", 1.0, 3.0, 0),
        Span("tables.approx_rows", 1.5, 2.5, 1),
        Span("tables.load_all", 4.0, 6.0, 0),
        Span("tables.t", 4.0, 5.0, 3),
        Span("tables.t", 5.0, 6.0, 3),
        Span("tables.read_back", 7.0, 7.5, 0),
    ]
    c = tracing.tables_counters(spans)
    assert c["footer_calls"] == 2 and c["footer_s"] == 2.0
    assert c["t_calls"] == 2 and c["t_s"] == 2.0
    assert c["read_back_calls"] == 1


def test_covered_share_of_a_query():
    spans = [
        Span("query", 0.0, 10.0),
        Span("build", 0.0, 4.0, 0),
        Span("plan", 4.0, 5.0, 0),
        Span("exec", 5.0, 9.5, 0),
    ]
    assert tracing.covered_share(spans, 0) == pytest.approx(0.95)


# ------------------------------------------------------------ workloads


def test_headline_workload_is_headline_ids_plus_writes():
    import bench

    assert HEADLINE_IDS == tuple(bench.HEADLINE[:56:55])
    assert WORKLOADS["sf0.1-headline-write"].ids == HEADLINE_IDS + WRITE_STREAM_IDS


def test_warm_ups_are_bench_py_s():
    import bench

    src = open(bench.__file__).read()
    for qid in run.WARMUP_IDS:
        assert f'run("{qid}")' in src


def test_every_workload_id_is_registered(registered):
    assert set(run.WARMUP_IDS) <= registered
    for w in WORKLOADS.values():
        assert set(w.ids) <= registered, w.name
        assert len(set(w.ids)) == len(w.ids), w.name


def test_databound_and_write_stream_ids_come_from_their_families(registered):
    assert set(DATABOUND_POOL) <= registered
    assert not {"dedup_tfidf_cosine", "join_theta_range"} & set(DATABOUND_POOL)
    assert WORKLOADS["x2-databound"].ids == DATABOUND_IDS
    assert set(DATABOUND_IDS) <= set(DATABOUND_POOL)
    pool = write_stream_pool(registered)
    assert len(pool) == 34
    assert set(WRITE_STREAM_IDS) <= set(pool)


# ------------------------------------------------------------ corpus


def test_generated_tables_have_the_fixture_schema():
    mult = WORKLOADS["x2-databound"].mult
    tables = corpus.generate(ROOT, mult, seed=5)
    assert set(tables) == set(corpus.FIXTURE_SCHEMA)
    for name, table in tables.items():
        want = [(n, str(t)) for n, t in corpus.FIXTURE_SCHEMA[name]]
        assert [(f.name, str(f.type)) for f in table.schema] == want, name
    assert tables["lineitem"].num_rows > mult * 550_000


def test_same_seed_same_corpus():
    a = corpus.generate(ROOT, 1, seed=11)
    b = corpus.generate(ROOT, 1, seed=11)
    c = corpus.generate(ROOT, 1, seed=12)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["orders"].equals(c["orders"])


# ------------------------------------------------------------ entry point


def test_exits_non_zero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sf0.1-headline-write",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
