"""The benchmark's own tests: oracle self-tests (each oracle accepts a
correct result and rejects a perturbed one), the metric list against
BENCHMARK.json, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, oracles, trace
from perfbench.harness import ROOT
from perfbench.run import END_TO_END

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


@pytest.fixture(scope="module")
def data_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench_data"))


def _tiny(root, workload):
    return gen.generate(root, workload, seed=7, size="tiny")


def test_generator_is_seeded(data_root, tmp_path):
    a = _tiny(data_root, "kmeans_csv_job")
    b = gen.generate(str(tmp_path), "kmeans_csv_job", seed=7, size="tiny")
    c = gen.generate(str(tmp_path), "kmeans_csv_job", seed=8, size="tiny")
    pa, pb, pc = (np.load(os.path.join(d, "points.npy")) for d in (a, b, c))
    assert np.array_equal(pa, pb)
    assert not np.array_equal(pa, pc)


def test_kmeans_oracle_rejects_shifted_centroid(data_root):
    exp = oracles.expect_kmeans(_tiny(data_root, "kmeans_csv_job"))
    good = {"centroids": [[i, *c] for i, c in zip(exp["ids"], exp["centroids"].tolist())],
            "wcss": exp["wcss"], "iterations": exp["iterations"]}
    assert oracles.check_kmeans(exp, good, None)[0]
    bad = json.loads(json.dumps(good))
    bad["centroids"][0][1] += 1e-6
    ok, _, reason = oracles.check_kmeans(exp, bad, None)
    assert not ok and "centroids" in reason


def test_dedup_oracle_rejects_kept_planted_duplicate(data_root):
    exp = oracles.expect_dedup(_tiny(data_root, "dedup_minhash_cc"))
    kept = sorted(set(range(exp["n"])) - exp["planted"])
    rows = [(i, exp["langs"][i]) for i in kept]
    ok, q, _ = oracles.check_dedup(exp, {}, None, rows=rows)
    assert ok and q["dup_recall"] == 1.0 and q["clean_keep_rate"] == 1.0
    dup = min(exp["exact"])
    ok, q, reason = oracles.check_dedup(exp, {}, None, rows=rows + [(dup, exp["langs"][dup])])
    assert not ok and "exact duplicates" in reason and q["dup_recall"] < 1.0
    ok, _, reason = oracles.check_dedup(exp, {}, None, rows=rows[1:])
    assert not ok and "first job" in reason


def test_ivf_oracle_rejects_swapped_neighbour(data_root):
    exp = oracles.expect_ivf(_tiny(data_root, "ivf_retrieval"))
    neigh = [[q, n, round(float(exp["cos"][q, n]), 6), r + 1]
             for q, ids in enumerate(exp["ivf"]) for r, n in enumerate(ids)]
    good = {"centroids": exp["centroids"].tolist(), "wcss": exp["wcss"], "ids": exp["ids"],
            "neighbors": neigh}
    ok, q, _ = oracles.check_ivf(exp, good, None)
    assert ok and 0.0 < q["recall_at_10"] <= 1.0
    bad = json.loads(json.dumps(good))
    k = exp["k"]
    stranger = next(n for n in exp["ivf"][1] if n not in exp["ivf"][0])
    bad["neighbors"][0][1] = stranger  # query 0's best neighbour replaced
    ok, _, reason = oracles.check_ivf(exp, bad, None)
    assert not ok and "query 0" in reason
    assert len(bad["neighbors"]) == k * len(exp["ivf"])


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # kmeans_csv_job runs by hand only; see perfbench/README.md "Run length"
    assert [w["name"] for w in bench["workloads"]] == ["dedup_minhash_cc", "ivf_retrieval"]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == trace.per_layer_names()
    assert all(m["unit"] == trace.unit_of(m["name"]) for m in bench["per_layer"])
    assert len(bench["per_layer"]) <= 128


def _run(workload, trace_flag, cwd=ROOT):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "1", "--seconds", "0",
                              "--trace", str(trace_flag), "--size", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    return p


@functools.lru_cache(maxsize=None)
def _smoke(workload, trace_flag):
    """One tiny-size run per (workload, trace), shared by the tests below."""
    p = _run(workload, trace_flag)
    assert p.returncode == 0, p.stderr[-2000:]
    return p


def _env(p):
    return json.loads(next(ln for ln in p.stdout.splitlines() if ln.startswith("env "))[4:])


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_smoke_untraced(workload):
    p = _smoke(workload, 0)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert list(res["metrics"]) == [n for n, _, _ in END_TO_END]
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced():
    p = _smoke("dedup_minhash_cc", 1)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    m = res["metrics"]
    # correct is false if a plan-only span triggered a Spark job
    assert res["correct"] and list(m) == trace.per_layer_names()
    assert m["operators.dedup.connected_components.jobs"]["value"] > 0
    assert m["sources.parquet.load_table.jobs"]["value"] > 0
    assert m["operators.dedup.minhash_lsh_pairs.pairs_out"]["value"] > 0
    assert m["operators.kmeans.lloyd.wall_s"]["value"] == 0.0  # not on this workload


def test_dedup_kept_ids_stable_across_processes():
    """Two fresh processes on the same seed keep the same id set."""
    digests = {_env(_smoke("dedup_minhash_cc", t))["kept_ids_sha256"] for t in (0, 1)}
    assert len(digests) == 1 and None not in digests


def test_no_jvm_outlives_a_run():
    """Each run has stopped and reaped its Spark JVM before it exits."""
    for t in (0, 1):
        pid = _env(_smoke("dedup_minhash_cc", t))["jvm_pid"]
        assert pid and not os.path.exists(f"/proc/{pid}")


def test_refuses_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("kmeans_csv_job", 0, cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout == ""
