"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The fast tests cover the generators and checks without Spark.  The slow
ones run ``run.py`` end to end for every workload at
``SPARK_GRAFT_CPUS=1`` and at ``nproc`` and require every check to pass,
so the checks are shown not to depend on core count or row order.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracles  # noqa: E402
from perfbench.harness import nproc, percentile  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_generators_are_pure_functions_of_the_seed(tmp_path):
    a = gen.etl_dataset(5, str(tmp_path / "a"), 3000, 3, 2)
    b = gen.etl_dataset(5, str(tmp_path / "b"), 3000, 3, 2)
    c = gen.etl_dataset(6, str(tmp_path / "c"), 3000, 3, 2)
    assert _bytes(a["paths"]) == _bytes(b["paths"]) != _bytes(c["paths"])
    assert a["files"] == 3 and a["row_groups"] == 6
    q1 = gen.query_tables(5, str(tmp_path / "q1"), 600, 100, 50, 40)
    q2 = gen.query_tables(5, str(tmp_path / "q2"), 600, 100, 50, 40)
    assert all(_bytes(q1[t]["paths"]) == _bytes(q2[t]["paths"]) for t in q1)


def test_stream_groups_are_clear_of_thresholds_and_boundaries(tmp_path):
    info = gen.stream_epochs(3, str(tmp_path), 4, 10, 5, 8)
    ids, vecs = [], []
    for p in info["paths"]:
        t = pq.read_table(p)
        ids += t["vec_id"].to_pylist()
        vecs += t["embedding"].to_pylist()
    order = np.argsort(ids)
    v = np.asarray(vecs, dtype=np.float64)[order]
    ids = np.asarray(ids)[order]
    assert list(ids) == list(range(len(ids)))  # ids ascend across epochs
    cos = v @ v.T / np.outer(np.linalg.norm(v, axis=1),
                             np.linalg.norm(v, axis=1))
    cent = np.asarray(gen.stream_centroids())
    d2 = ((v[:, None, :] - cent[None]) ** 2).sum(-1)
    best = np.sort(d2, axis=1)
    assert np.all(best[:, 1] - best[:, 0] > 0.5)  # no boundary straddling
    surv = sorted(info["survivors"])
    # a survivor's group: the ids up to the next survivor in its epoch
    for s in surv:
        members = [i for i in range(s, s + 5)]
        assert cos[np.ix_(members, members)].min() > 0.97
    assert cos[np.ix_(surv, surv)][~np.eye(len(surv), dtype=bool)].max() < 0.9
    # every replay is a near-copy of some earlier survivor
    replays = sorted(set(range(len(ids))) - {i for s in surv
                                             for i in range(s, s + 5)})
    assert replays and all(cos[r, surv].max() > 0.97 for r in replays)


def test_kept_set_check_rejects_missing_and_changed_rows():
    surv = {0: (0, b"a"), 5: (0, b"b"), 9: (1, b"c")}
    assert oracles.check_kept_set({0: b"a", 5: b"b"}, surv, 1)[0]
    assert not oracles.check_kept_set({0: b"a"}, surv, 1)[0]
    assert not oracles.check_kept_set({0: b"a", 5: b"x"}, surv, 1)[0]
    assert not oracles.check_kept_set({0: b"a", 5: b"b", 7: b"z"}, surv, 1)[0]


def test_canon_rows_ignores_row_order_and_signed_zero():
    a = [(1, -0.0, "x"), (0, 2.5, None)]
    b = [(0, 2.5, None), (1, 0.0, "x")]
    assert oracles.canon_rows(a) == oracles.canon_rows(b)
    assert oracles.canon_rows(a) != oracles.canon_rows(a[:1] * 2)


def test_etl_check_rejects_unsorted_and_missing_rows(tmp_path):
    """The pipeline's output written by hand with pyarrow: correct, then
    with two rows swapped, then with a row dropped."""
    import pyarrow as pa

    from geoparquet_io_spark.functions.hilbert import hilbert_key

    info = gen.etl_dataset(2, str(tmp_path / "in"), 2000, 2, 2)
    bbox = (-150.0, -60.0, 150.0, 60.0)
    oracle = oracles.EtlOracle(info["paths"], bbox)
    order = np.argsort(hilbert_key(oracle.x, oracle.y, *oracle.env),
                       kind="stable")
    geo = {"version": "1.1.0", "primary_column": "geometry",
           "columns": {"geometry": {
               "encoding": "WKB", "geometry_types": ["Point"],
               "covering": {"bbox": {k: ["bbox", k] for k in
                                     ("xmin", "ymin", "xmax", "ymax")}}}}}

    def write(idx, name):
        x, y = oracle.x[idx], oracle.y[idx]
        t = pa.table({"id": oracle.ids[idx], "geometry": gen.wkb_points(x, y),
                      "bbox": pa.StructArray.from_arrays(
                          [x, y, x, y], ["xmin", "ymin", "xmax", "ymax"])})
        t = t.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
        os.makedirs(tmp_path / name)
        pq.write_table(t, str(tmp_path / name / "part-0.parquet"))
        return oracle.check(str(tmp_path / name))[0]

    assert write(order, "good")
    swapped = order.copy()
    swapped[[10, 500]] = swapped[[500, 10]]
    assert not write(swapped, "swapped")
    assert not write(order[1:], "missing")


def test_percentile_matches_numpy():
    v = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    for q in (0.5, 0.9):
        assert percentile(v, q) == pytest.approx(np.percentile(v, 100 * q))


def _run(workload, cpus, trace=0, seconds=1, cwd=ROOT):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    return p


@pytest.mark.parametrize("cpus", sorted({1, nproc()}))
@pytest.mark.parametrize("workload", ["etl_write", "query_mix",
                                      "stream_ingest"])
def test_every_check_passes_at_any_core_count(workload, cpus):
    p = _run(workload, cpus)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
    assert out["metrics"]["ok_ratio"]["value"] == 1.0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # the run leaves nothing behind in the tree
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_prints_every_per_layer_metric(workload):
    p = _run(workload, nproc(), trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], p.stdout[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("stream_ingest", 1, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
