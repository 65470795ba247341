"""Self-test of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The end-to-end cases run every workload at the tiny input size in a
subprocess, as the benchmark command is run: a clean run must report
every end-to-end metric with its unit and no failed op; a traced run
with one output row dropped must report every per-layer metric and
count the dropped row as a failed op. They start a JVM each (about a
minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, metrics, workloads  # noqa: E402
from perfbench.stats import nearest_rank, tail_percentile  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(1, 101))) == (90, 90)
    assert tail_percentile(list(range(1, 21))) == (50, 10)
    assert tail_percentile(list(range(1, 20))) is None
    # 200 samples: p95 has exactly 10 beyond it, p99 only 2
    assert tail_percentile(list(range(1, 201))) == (95, 190)


def test_nearest_rank():
    assert nearest_rank(list(range(1, 101)), 90) == 90
    assert nearest_rank([3.0, 1.0, 2.0], 90) == 3.0
    assert nearest_rank(list(range(1, 61)), 75) == 45


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert f.read() == metrics.render()
    bench = metrics.benchmark_json()
    assert 1 <= len(bench["per_layer"]) <= 128
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_inputs_are_seeded_and_keys_consistent(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    props = inputs.generate(a, 5, "tiny")
    inputs.generate(b, 5, "tiny")
    inputs.generate(c, 6, "tiny")
    for t in checks.TABLES:
        with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
            assert fa.read() == fb.read(), t
    docs = pq.read_table(os.path.join(a, "documents.parquet"))
    other = pq.read_table(os.path.join(c, "documents.parquet"))
    assert docs["text"].to_pylist() != other["text"].to_pylist()
    doc_ids = set(docs["doc_id"].to_pylist())
    vec_ids = pq.read_table(os.path.join(a, "embeddings.parquet"))[
        "vec_id"].to_pylist()
    assert doc_ids == set(range(props["docs"]))
    assert set(vec_ids) <= doc_ids and 0 in vec_ids
    li = pq.read_table(os.path.join(a, "lineitem.parquet"))
    assert max(li["l_orderkey"].to_pylist()) < props["orders"]
    assert props["near_dup_docs"] == sum(
        " dup " in f" {t} " for t in docs["text"].to_pylist())


def test_row_comparison_ignores_order_and_signed_zero():
    cols = ["b", "a"]
    rows = [(1, -0.0), (2, 1.5)]
    assert checks.compare_rows(cols, rows, ["a", "b"],
                               [(1.5, 2), (0.0, 1)]) is None
    assert checks.rows_digest(cols, rows) == checks.rows_digest(
        ["a", "b"], [(1.5, 2), (0.0, 1)])
    assert "row counts differ" in checks.compare_rows(cols, rows, cols,
                                                      rows[:1])
    assert checks.compare_rows(cols, rows, cols, [(1, 0.0), (2, 1.25)])


def test_lsh_pair_check_rejects_bad_pairs(tmp_path):
    import numpy as np
    import pyarrow as pa
    vecs = np.eye(3, dtype=np.float32)
    pq.write_table(pa.table({"vec_id": [0, 1, 2], "embedding": [
        v.tolist() for v in vecs]}), tmp_path / "embeddings.parquet")
    d = round(float(np.sqrt(2)), 6)

    def pair(a, b, dist):
        return {"vec_a": a, "vec_b": b, "euclidean_dist": dist}

    ok = [pair(0, 1, d), pair(0, 2, d), pair(1, 2, d)]
    assert checks.check_lsh_pairs(ok, str(tmp_path), threshold=1.5) is None
    for bad in ([pair(1, 1, 0.0)], [pair(1, 0, d)], [pair(0, 1, 1.0)],
                ok + [pair(0, 1, d)]):
        assert checks.check_lsh_pairs(bad, str(tmp_path), threshold=1.5)
    assert checks.check_lsh_pairs(ok, str(tmp_path), threshold=1.2)
    # correct pairs, but too few of the exact ones: 2 of 3, then none
    assert "recall" in checks.check_lsh_pairs(ok[:2], str(tmp_path),
                                              threshold=1.5)
    assert "recall" in checks.check_lsh_pairs([], str(tmp_path),
                                              threshold=1.5)


def test_store_snapshot_sees_rows_not_files(tmp_path):
    import pyarrow as pa
    part = tmp_path / "kept" / "batch_id=0"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": [3, 1]}), part / "part-a.parquet")
    before = checks.store_snapshot(str(tmp_path))
    # an empty marker partition where no store was holds no rows
    empty = tmp_path / "tombstones" / "batch_id=0"
    empty.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": pa.array([], pa.int64())}),
                   empty / "part-0.parquet")
    assert checks.store_snapshot(str(tmp_path)) == before
    # a replay that rewrites the partition with the same rows
    (part / "part-a.parquet").unlink()
    pq.write_table(pa.table({"doc_id": [1, 3]}), part / "part-b.parquet")
    assert checks.store_snapshot(str(tmp_path)) == before
    pq.write_table(pa.table({"doc_id": [7]}), part / "part-c.parquet")
    assert checks.store_snapshot(str(tmp_path)) != before


def test_request_stream_is_seeded_and_skewed():
    s1 = workloads.request_stream(3, 5)
    assert s1 == workloads.request_stream(3, 5)
    assert s1 != workloads.request_stream(4, 5)
    n = workloads.REQUEST_BLOCK
    assert len(s1) == 5 * n
    # every block has the same mix; only the order is seeded
    first = sorted(s1[:n])
    assert all(sorted(s1[i:i + n]) == first for i in range(0, len(s1), n))
    counts = [sum(1 for q, _ in s1[:n] if q == name)
              for name in workloads.DASHBOARD_QUERIES]
    assert counts == sorted(counts, reverse=True) and sum(counts) == n
    reloads = sum(1 for _, refresh in s1[:n] if not refresh) / n
    assert abs(reloads - workloads.RELOAD_SHARE) <= 0.02


def _run(workload: str, *extra: str) -> tuple[int, dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "11", "--seconds", "1",
         "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-2])["info"], \
        json.loads(lines[-1])


@pytest.mark.parametrize("workload", metrics.WORKLOAD_NAMES)
def test_clean_run_reports_every_metric(workload):
    code, info, out = _run(workload, "--trace", "0")
    assert code == 0, info["errors"]
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = {n: u for n, u, *_ in metrics.END_TO_END}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["ok_ratio"]["value"] == 1.0
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert info["nproc"] >= 1 and info["spark"] and info["seed"] == 11


@pytest.mark.parametrize("workload", metrics.WORKLOAD_NAMES)
def test_traced_run_counts_a_dropped_row(workload):
    code, info, out = _run(workload, "--trace", "1", "--inject-fault")
    assert code == 1
    assert out["correct"] is False and out["failed"] >= 1
    assert info["errors"]
    want = {m["name"]: m["unit"] for m in metrics.per_layer()}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    mine = [m["name"] for m in metrics.per_layer((workload,))
            if m["workloads"] == (workload,)]
    assert any(out["metrics"][n]["value"] > 0 for n in mine)
