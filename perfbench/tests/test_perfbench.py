"""Tests of the benchmark itself: order statistics, span arithmetic, the
ingest oracle, BENCHMARK.json's agreement with the code, and a tiny
smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, oracle
from perfbench.layers import PER_LAYER
from perfbench.stats import tail_percentile
from perfbench.trace import Span, io_bytes, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}


# -- percentile selection ----------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90, 90.0)
    assert tail_percentile([float(i) for i in range(1, 201)]) == (95, 190.0)


def test_tail_percentile_is_unordered_input_safe():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(list(reversed(xs))) == (90, 90.0)


def test_tail_percentile_needs_enough_samples():
    assert tail_percentile([1.0] * 20) is None
    p, _ = tail_percentile([float(i) for i in range(40)])
    assert 40 - -(-p * 40 // 100) >= 10  # ceil rank leaves ten above


# -- span self time ----------------------------------------------------------


def test_self_time_subtracts_merged_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "o"),
        Span(1, "a", 1.0, 3.0, 0, "o"),
        Span(2, "b", 2.0, 5.0, 0, "o"),  # overlaps a: [1, 5] covered once
        Span(3, "c", 7.0, 8.0, 0, "o"),
        Span(4, "grand", 2.5, 4.0, 2, "o"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.5)


def test_self_time_without_children_is_duration():
    assert self_times([Span(0, "x", 1.0, 1.25, None, None)]) == {0: 0.25}


# -- ingest oracle -------------------------------------------------------------


def test_io_bytes_counts_reads_and_writes(tmp_path):
    before = io_bytes(os.getpid())
    path = tmp_path / "blob"
    path.write_bytes(b"x" * 100_000)
    assert path.read_bytes() == b"x" * 100_000
    assert io_bytes(os.getpid()) - before >= 200_000


def test_fold_applies_distinct_conflicts_and_corrections():
    world = gen.make_world(3, 40, 4)
    fold = oracle.WeatherFold(gen.history_table(world))
    before = dict(fold.state)
    docs = gen.tick_docs(world, 0)
    counts = fold.apply(docs.values())
    assert counts["docs"] == len(world.queries)
    # exact duplicates collapse before the key fold
    assert counts["distinct_rows"] <= counts["docs"] - world.n_dup
    # late corrections hit keys already in the history
    assert counts["updated"] >= 1
    assert counts["inserted"] == len(fold.state) - len(before)
    # a same-key conflict resolves to the greatest (description, temp)
    conflicts = [docs[f"alias{j}"] for j in range(world.n_dup, world.n_dup + world.n_conflict)]
    for d in conflicts:
        t, city, desc, temp = oracle.doc_row(d)
        assert fold.state[(t, city)] >= (desc, temp)


def test_fold_reports_every_kind_of_mismatch():
    import pyarrow as pa

    world = gen.make_world(4, 10, 2)
    hist = gen.history_table(world)
    fold = oracle.WeatherFold(hist)
    assert fold.mismatches(hist) == []
    wrong = hist.set_column(3, "Temperature", pa.array([99.0] * hist.num_rows))
    assert any("wrong values" in m for m in fold.mismatches(wrong))
    assert any("missing" in m for m in fold.mismatches(hist.slice(1)))
    doubled = pa.concat_tables([hist, hist.slice(0, 1)])
    assert any("duplicate keys" in m for m in fold.mismatches(doubled))


def test_generators_are_seeded():
    w1, w2 = gen.make_world(7, 30, 3), gen.make_world(7, 30, 3)
    assert gen.tick_docs(w1, 2) == gen.tick_docs(w2, 2)
    assert gen.history_table(w1).equals(gen.history_table(w2))
    assert gen.tick_docs(w1, 2) != gen.tick_docs(gen.make_world(8, 30, 3), 2)


def test_tick_docs_cover_fixture_edge_cases():
    world = gen.make_world(5, 200, 3)
    docs = [d for k in range(3) for d in gen.tick_docs(world, k).values()]
    assert {len(d["weather"]) for d in docs} == {0, 1, 2, 3}
    assert any(d["timezone"] < 0 for d in docs)
    assert all("coord" in d and "wind" in d for d in docs)  # ignored API fields


def test_corpus_plants_exact_groups_without_accidental_duplicates(tmp_path):
    c = gen.write_corpus(str(tmp_path), 9, 400, 100)
    import pyarrow.parquet as pq

    texts = pq.read_table(c.docs_path)["text"].to_pylist()
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    found = {(ids[0], len(ids)) for ids in groups.values() if len(ids) > 1}
    assert found == c.exact_groups and c.exact_groups
    assert all(
        gen.jaccard(gen.shingles(texts[a]), gen.shingles(texts[b])) >= 0.7
        for a, b in c.near_pairs
    )


def _planted_result(c):
    """What a correct curation job returns on corpus ``c``."""
    from pyspark.sql import Row
    import numpy as np

    exact = [Row(keep_id=k, n_copies=n) for k, n in c.exact_groups]
    verified = [Row(id_a=a, id_b=b) for a, b in c.near_pairs]
    verified += [Row(id_a=k, id_b=k + i) for k, n in c.exact_groups for i in range(1, n)]
    clusters = [Row(doc_id=d, cluster_id=g) for d, g in c.group_of.items()]
    unit = c.vecs / np.linalg.norm(c.vecs.astype(np.float64), axis=1, keepdims=True)
    topk = [
        Row(query_id=q, neighbor_id=nb, cos_sim=float(unit[q] @ unit[nb]), rank=1)
        for q, nb in c.neighbours.items()
    ]
    return exact, verified, clusters, topk


def test_curation_gates_check_precision_as_well_as_recall(tmp_path):
    from pyspark.sql import Row

    from perfbench.workloads import CurationBatch

    c = gen.write_corpus(str(tmp_path), 9, 400, 200)
    wl = object.__new__(CurationBatch)
    wl.corpus, wl.errors = c, []
    exact, verified, clusters, topk = _planted_result(c)
    assert wl._check(exact, verified, clusters, topk), wl.errors
    unique = next(d for d in range(c.n_docs) if d not in c.group_of)
    a, b = sorted(set(c.group_of.values()))[:2]
    over_merged = [Row(doc_id=r.doc_id, cluster_id=a if r.cluster_id == b else r.cluster_id)
                   for r in clusters]
    bad_runs = [
        (exact, verified, over_merged, topk),
        (exact, verified, clusters + [Row(doc_id=unique, cluster_id=a)], topk),
        (exact, verified + [Row(id_a=unique, id_b=a)], clusters, topk),
        (exact, verified, clusters,
         [Row(query_id=r.query_id, neighbor_id=r.neighbor_id, cos_sim=r.cos_sim + 0.01,
              rank=1) for r in topk]),
        (exact, verified, clusters,
         topk + [Row(query_id=topk[0].query_id, neighbor_id=unique, cos_sim=1.0, rank=0)]),
    ]
    for i, run in enumerate(bad_runs):
        wl.errors = []
        assert not wl._check(*run), i


# -- BENCHMARK.json agrees with the code ---------------------------------------


def test_benchmark_json_matches_layers_and_workloads():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {
        k: v[0] for k, v in PER_LAYER.items()
    }
    assert all(
        m["better"] == PER_LAYER[m["name"]][1] for m in BENCH["per_layer"]
    )
    from perfbench.run import parse_args

    for w in BENCH["workloads"]:
        parse_args(["--workload", w["name"], "--seed", "1", "--seconds", "1"])
    assert "setup_s" in END_TO_END


# -- smoke runs ----------------------------------------------------------------


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["ingest_upsert", "query_mix", "curation_batch"])
def test_smoke_run_prints_every_metric_and_passes_its_gates(workload):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # jobs and tasks are medians of whole counts over the measured ops
    for name in ("op_spark_jobs", "op_spark_tasks"):
        assert result["metrics"][name]["value"] * 2 == int(result["metrics"][name]["value"] * 2)


def test_smoke_traced_run_prints_every_layer_metric():
    p = _run("--workload", "query_mix", "--seed", "2", "--seconds", "1",
             "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {k: v[0] for k, v in PER_LAYER.items()}
    # the mix traces its commit ticks and its queries
    for name in ("merge.upsert_s", "merge.spark_jobs", "storage.files_live",
                 "sql.exec_s", "sql.spark_tasks", "catalog.register_s"):
        assert metrics[name]["value"] > 0, name
    assert os.path.exists(os.path.join(ROOT, ".perfbench_out", "spans-query_mix-2.jsonl"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("--workload", "query_mix", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
