"""Tests of the benchmark itself: inputs are a pure function of the seed,
and every correctness check rejects a deliberately wrong output.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import gen
import probes
from checks import Checks, day_sums_error, exact_topk, frames_error, planted_recall, recall_at_k


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_lake_is_deterministic_per_seed():
    a, b, c = gen.lake_rows(5, 4, 300), gen.lake_rows(5, 4, 300), gen.lake_rows(6, 4, 300)
    assert [gen.render_day(a, i) for i in range(4)] == [gen.render_day(b, i) for i in range(4)]
    assert gen.render_day(a, 0) != gen.render_day(c, 0)


def test_corpus_is_deterministic_per_seed(tmp_path):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d, seed in zip(dirs, (5, 5, 6)):
        d.mkdir()
        gen.write_corpus(str(d), seed, 300, 100)
    assert _files(dirs[0]) == _files(dirs[1])
    assert _files(dirs[0]) != _files(dirs[2])


def test_lake_plants_duplicates_and_null_keys():
    model = gen.lake_rows(1, 3, 1000)
    exp = model.expected(3)
    keyed = [r for f in model.files for r in f if all(r[k] for k in gen.KEY_FIELDS)]
    null_keyed = model.rows_generated - len(keyed)
    assert len(set(tuple(r[k] for k in gen.KEY_FIELDS) for r in keyed)) < len(keyed)
    assert null_keyed > 0
    assert exp["rows"] == len({tuple(r[k] for k in gen.KEY_FIELDS) for r in keyed}) + null_keyed
    # a late re-delivery lands in a later day's file but appends nothing
    assert sum(exp["appended"]) == exp["rows"] < model.rows_generated


def test_equal_check_rejects_a_wrong_count():
    c = Checks()
    c.equal("rows", 10, 10)
    c.equal("rows", 11, 10)
    assert c.attempted == 2 and len(c.failures) == 1


def test_day_sums_reject_an_ingest_that_keeps_duplicates():
    model = gen.lake_rows(2, 3, 500)
    want = model.expected(3)["day_sums"]
    assert day_sums_error(dict(want), want) is None
    naive: dict[str, float] = {}
    for f in model.files:
        for r in f:
            naive[r[0][:10]] = naive.get(r[0][:10], 0.0) + float(r[3])
    assert day_sums_error(naive, want) is not None
    missing = dict(want)
    missing.pop(next(iter(missing)))
    assert day_sums_error(missing, want) is not None


def _pairs():
    return pd.DataFrame({"doc_a": [1, 2, 5], "doc_b": [3, 4, 9], "est_jaccard": [0.9, 0.8, 1.0]})


def test_frames_check_rejects_changed_missing_or_renamed_output():
    exp = _pairs()
    assert frames_error(exp.sample(frac=1, random_state=0), exp) is None
    wrong_value = exp.copy()
    wrong_value.loc[1, "est_jaccard"] = 0.81
    assert frames_error(wrong_value, exp) is not None
    assert frames_error(exp.iloc[:2], exp) is not None
    assert frames_error(exp.rename(columns={"doc_b": "doc_c"}), exp) is not None


def test_planted_recall_rejects_a_missed_exact_duplicate():
    assert planted_recall(_pairs(), [(3, 1), (9, 5)]) == 1.0
    assert planted_recall(_pairs(), [(3, 1), (7, 8)]) == 0.5


def test_recall_at_k_against_exact_numpy_topk():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8))
    exact = exact_topk(vecs, np.array([0, 10]), 3)
    assert all(q in nn for q, nn in exact.items())  # a vector is its own nearest
    rows = [(q, c) for q, nn in exact.items() for c in nn]
    right = pd.DataFrame(rows, columns=["query_id", "candidate_id"])
    assert recall_at_k(right, exact, 3) == 1.0
    wrong = right.copy()
    wrong.loc[0, "candidate_id"] = 49 if 49 not in exact[int(wrong.loc[0, "query_id"])] else 48
    assert recall_at_k(wrong, exact, 3) < 1.0


def test_distinct_chunk_oracle_counts_a_duplicated_document_once(tmp_path):
    pytest.importorskip("pyspark")
    from workloads import CorpusCurate

    from tests.oracle import duckdb_connect

    rng = np.random.default_rng(0)
    text, other = (" ".join(rng.choice(gen._VOCAB, 80)) for _ in range(2))

    def count(texts):
        d = tmp_path / str(len(list(tmp_path.iterdir())))
        d.mkdir()
        pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts, "lang": "en", "source": "src0",
             "n_chars": [len(t) for t in texts]}
        ).to_parquet(d / "documents.parquet")
        con = duckdb_connect(str(d))
        try:
            return con.execute(CorpusCurate(str(d), 0).distinct_chunks_sql()).fetchone()[0]
        finally:
            con.close()

    one = count([text])
    assert one > 0
    assert count([text, text]) == one
    assert count([text, other]) > one


def test_benchmark_json_lists_what_the_runs_emit():
    import json

    import run

    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, run.unit_of(n)) for n in run.per_layer_names()
    ]
    assert {w["name"] for w in bench["workloads"]} <= set(__import__("workloads").WORKLOADS)


def test_stage_time_leaves_out_tracing_nested_under_it():
    from tracing import Tracer

    spans = [
        {"id": 0, "name": "pipeline.ingest", "module": "pipeline", "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "name": "ingest.append.pre", "module": "trace", "parent": 0, "t0": 1.0, "t1": 3.0},
        {"id": 2, "name": "ingest.append", "module": "ingest", "parent": 0, "t0": 3.0, "t1": 8.0},
        {"id": 3, "name": "ledger.hash.pre", "module": "trace", "parent": 2, "t0": 4.0, "t1": 5.0},
    ]
    net = Tracer.net_of_tracing(spans)
    assert net[0] == 7.0 and net[2] == 4.0 and net[1] == 2.0


def test_cpu_s_counts_children_that_have_exited():
    # A parent that runs a CPU-bound child to completion and then idles,
    # as the pyspark daemon does with its workers.
    child = "x = 0\nfor i in range(3_000_000): x += i"
    parent = (
        "import subprocess, sys, time; "
        f"subprocess.run([sys.executable, '-c', {child!r}]); "
        "print('done', flush=True); time.sleep(30)"
    )
    p = subprocess.Popen([sys.executable, "-c", parent], stdout=subprocess.PIPE, text=True)
    try:
        assert p.stdout.readline().strip() == "done"
        own = os.times()
        assert probes.cpu_s(p.pid) - (own.user + own.system) > 0.1
    finally:
        p.kill()
        p.wait()
