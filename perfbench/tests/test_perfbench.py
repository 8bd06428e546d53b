"""The benchmark's own tests: generator determinism, the metric-name
contract with BENCHMARK.json, and a tiny-scale smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def tiny_tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tables"))
    datagen.build_tables(out, "tiny")
    return out


def _tree(path: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, fs in os.walk(path) for f in fs)


@pytest.mark.parametrize("workload", ["write", "read"])
def test_same_seed_same_bytes(workload, tiny_tables, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.generate(workload, 5, a, tiny_tables, "tiny")
    datagen.generate(workload, 5, b, tiny_tables, "tiny")
    datagen.generate(workload, 6, c, tiny_tables, "tiny")
    files = _tree(a)
    assert files and files == _tree(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ, "another seed must give other inputs"


def test_tables_are_deterministic(tiny_tables, tmp_path):
    datagen.build_tables(str(tmp_path), "tiny")
    assert datagen.tables_digest(str(tmp_path)) == datagen.tables_digest(tiny_tables)


def test_serve_truth_is_knn_bruteforce(tiny_tables):
    """The generator's exact top-10 is the rule ``similarity.knn_bruteforce``
    applies (cosine, ties by id), checked against Spark on a small case."""
    import numpy as np
    import pyarrow.parquet as pq

    from pulfa_sausage_factory_spark.operators.similarity import knn_bruteforce
    from pulfa_sausage_factory_spark.session import get_spark

    t = pq.read_table(os.path.join(tiny_tables, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    q = vecs[:3] + 0.01
    want = datagen.exact_topk(ids, vecs, q)
    spark = get_spark("perfbench-tests")
    corpus = spark.read.parquet(os.path.join(tiny_tables, "embeddings.parquet"))
    queries = spark.createDataFrame(
        [(10**9 + i, [float(x) for x in v]) for i, v in enumerate(q)],
        "vec_id long, embedding array<double>")
    rows = knn_bruteforce(corpus, queries).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rk)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert [got[10**9 + i] for i in range(3)] == want.tolist()


def test_tickets_fence_appends():
    """Every read sees exactly the appends with smaller tickets: an append
    starts after all earlier reads ended, and no later ticket starts before
    it ends. More clients than cores, a short switch interval."""
    import random
    import threading
    import time

    from workloads import _Tickets

    tickets, log, lock = _Tickets(300), [], threading.Lock()

    def client():
        while (t := tickets.take()) is not None:
            with lock:
                log.append(("start", t))
            time.sleep(random.random() / 2000)
            with lock:
                log.append(("end", t))
            tickets.done(t)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    pos = {ev: i for i, ev in enumerate(log)}
    assert len(pos) == 600
    for a in (t for t in range(300) if tickets.is_append(t)):
        assert all(pos[("end", r)] < pos[("start", a)] for r in range(a))
        assert all(pos[("end", a)] < pos[("start", r)] for r in range(a + 1, 300))


def test_metric_names_match_benchmark_json(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == ["write", "read"]
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in run.WORKLOADS
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.E2E
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per == run.layer_metrics()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


@pytest.mark.parametrize("workload", ["write", "read"])
def test_tiny_smoke(workload, bench):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in out["metrics"].values():
        assert m["value"] > 0

    traced = []
    for _ in range(2):
        p = _run(workload, 1)
        assert p.returncode == 0, p.stderr[-3000:]
        traced.append(json.loads(p.stdout.strip().splitlines()[-1]))
    assert set(traced[0]["metrics"]) == {m["name"] for m in bench["per_layer"]}
    per_op = ("spark.jobs_per_op", "spark.tasks_per_op")
    counts = [{k: v["value"] for k, v in t["metrics"].items()
               if k.endswith((".jobs", ".tasks")) or k in per_op} for t in traced]
    assert any(counts[0].values())
    # an ingest call's count may move by one job (tracing.JobCounter)
    racy = ("curation.run_incremental_curation.", *per_op)
    for k, v in counts[0].items():
        if k.startswith(racy) and workload == "write":
            assert abs(v - counts[1][k]) <= max(1, 0.02 * v), k
        else:
            assert v == counts[1][k], f"{k} must repeat for one seed"


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("write", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
