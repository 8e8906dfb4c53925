"""Tests for the benchmark's own code.

    python -m pytest perfbench/tests -q

The smoke tests run each workload once through ``perfbench/run.py`` (about
a minute each on a 4-core box); the rest take well under a second.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.corpus import write_tables  # noqa: E402
from perfbench.curation import _oracle_clusters  # noqa: E402
from perfbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.node import Chain, NodeTransport  # noqa: E402
from perfbench.tracing import plan_counts, self_times  # noqa: E402


def _digest(bodies: dict[int, str]) -> str:
    h = hashlib.sha256()
    for slot in sorted(bodies):
        h.update(f"{slot}:{bodies[slot]}\n".encode())
    return h.hexdigest()


def test_same_seed_gives_identical_node_bodies():
    a, b = Chain(7, 1000, 300, reorg_every=10), Chain(7, 1000, 300, reorg_every=10)
    assert _digest(a.bodies) == _digest(b.bodies)
    assert _digest(a.alt_bodies) == _digest(b.alt_bodies)
    assert a.flaky == b.flaky
    assert _digest(Chain(8, 1000, 300).bodies) != _digest(a.bodies)


def test_same_seed_gives_identical_input_tables(tmp_path):
    for d in ("a", "b"):
        write_tables(str(tmp_path / d), 3, 60, 40, 200, 200)
    for name in ("documents", "embeddings", "lineitem", "events"):
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{name}.parquet").read_bytes()


def test_chain_truth_matches_its_mix():
    c = Chain(1, 21_405_000, 1000, reorg_every=25)
    empty = c.empty_slots()
    assert 10 <= len(empty) <= 60  # about 3%
    assert len(c.bodies) + len(empty) == 1000
    assert 2 <= len(c.flaky) <= 25  # about 1%
    rows = c.expected_rows()
    assert rows["blocks"] == len(c.bodies) == rows["sync_aggregates"]
    assert rows["execution_requests"] > 0  # electra slots carry requests
    versions = {t.version for t in c.truth.values()}
    assert versions == {"deneb", "electra"}
    for slot, alt in c.alt_truth.items():
        assert alt.rows == c.truth[slot].rows
        assert alt.proposer != c.truth[slot].proposer
        assert c.alt_bodies[slot] != c.bodies[slot]


def test_node_transport_statuses():
    c = Chain(2, 21_405_000, 200, reorg_every=10)
    (empty, *_), flaky = c.empty_slots(), sorted(c.flaky)[0]
    t = NodeTransport(c.bodies, c.flaky)
    url = "http://n/eth/v2/beacon/blocks/{}"
    assert t(url.format(empty), None, 1.0)[0] == 404
    assert t(url.format(flaky), None, 1.0)[0] == 503
    assert t(url.format(flaky), None, 1.0) == (200, c.bodies[flaky])
    slot = next(iter(c.alt_bodies))
    t.served[slot] = c.alt_bodies[slot]
    assert t(url.format(slot), None, 1.0) == (200, c.alt_bodies[slot])
    assert t("http://n/eth/v1/beacon/headers/head", None, 1.0)[0] == 404


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    t = stats.tail([float(x) for x in range(1, 31)])  # 30 samples
    assert t == {"value": 20.0, "percentile": 66.667, "samples": 30, "enough": True}
    t = stats.tail([float(x) for x in range(1, 101)])
    assert (t["value"], t["percentile"]) == (90.0, 90.0)
    # 12 samples: rank 1 has ten beyond it, but sits below the median
    t = stats.tail([float(x) for x in range(1, 13)])
    assert t == {"value": 6.5, "percentile": 50.0, "samples": 12, "enough": False}
    t = stats.tail([float(x) for x in range(1, 21)])  # 20: rank 9 is p50
    assert (t["value"], t["percentile"], t["enough"]) == (10.0, 50.0, True)
    with pytest.raises(ValueError):
        stats.tail([])


def test_timing_takes_median_and_tail_over_all_samples():
    t = stats.timing({"a": [1.0, 1.0], "b": [3.0, 4.0], "c": [5.0, 9.0]})
    assert t["median"] == 3.5  # pooled 1,1,3,4,5,9 -- not the medians' 4
    assert (t["tail"], t["samples"], t["tail_resolved"]) == (3.5, 6, False)
    many = {"a": [float(x) for x in range(1, 31)]}
    assert stats.timing(many)["tail"] == 20.0


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # clipped at 10
        {"id": 5, "parent": 3, "start": 2.5, "end": 4.0},   # grandchild
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 2))
    assert st[3] == pytest.approx(3 - 1.5)
    assert st[2] == pytest.approx(2) and st[4] == pytest.approx(4)


def test_plan_counts_reads_the_final_plan_tree_only():
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   HashAggregate (5)\n   +- ShuffleQueryStage (4)\n      +- Exchange (3)\n"
        "         +- Scan parquet  (1)\n+- == Initial Plan ==\n   Exchange (7)\n"
        "   +- Scan parquet  (6)\n\n\n(1) Scan parquet \nOutput: [a]\n(3) Exchange\n"
    )
    assert plan_counts(plan) == (1, 1)


def test_oracle_clusters_label_each_component_by_its_minimum_id():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (5, 9), (3, 5), (1, 2), (7, 9), (4, 6)) t(id_a, id_b)"
    assert _oracle_clusters(con, sql) == {
        1: 1, 2: 1, 3: 3, 5: 3, 7: 3, 9: 3, 4: 4, 6: 4}
    con.close()


def test_benchmark_json_matches_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == [tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [tuple(m) for m in PER_LAYER]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "elt", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["elt", "curation_mix"])
def test_smoke_run_prints_every_metric(workload):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m[0] for m in END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())
