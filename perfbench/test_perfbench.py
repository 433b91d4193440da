"""Tests of the benchmark itself (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import gen
import report
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _all_inputs(tmp_path, seed: int) -> str:
    corpus = gen.write_backfill(str(tmp_path / f"l{seed}"), seed, 600)
    delta = gen.refresh_delta(corpus, seed, 40, 10)
    reads = gen.reader_mix(delta.truth, delta.marks, seed, 24)
    docs = gen.corpus_docs(seed, 200)
    batch = gen.admit_batch(seed, 0, docs, 50, 0.2)
    vecs = gen.corpus_vectors(seed, 300, 8)
    queries, planted = gen.query_vectors(seed, 0, vecs, 10)
    return gen.digest(corpus.landing, sorted(delta.files.items()),
                      [(r.fn, r.args, r.expect) for r in reads], docs,
                      batch.docs, sorted(batch.planted), vecs, queries,
                      planted)


def test_generator_is_deterministic(tmp_path):
    assert _all_inputs(tmp_path, 7) == _all_inputs(tmp_path / "again", 7)
    assert _all_inputs(tmp_path, 7) != _all_inputs(tmp_path, 8)


def test_feeds_are_valid_and_ramped(tmp_path):
    corpus = gen.write_backfill(str(tmp_path), 3, 2500)
    sizes = []
    for year in gen.YEARS:
        name = tmp_path / (gen.feed_name(year) + ".json")
        doc = json.loads(name.read_bytes())
        sizes.append(len(doc["CVE_Items"]))
        meta = (tmp_path / (gen.feed_name(year) + ".meta")).read_text()
        assert f"size:{name.stat().st_size}" in meta
    assert sizes == sorted(sizes) and sizes[-1] > 10 * sizes[0]
    assert sum(sizes) == len(corpus.truth)


def test_refresh_delta_spans_every_year_and_overlaps(tmp_path):
    corpus = gen.write_backfill(str(tmp_path), 5, 3000)
    delta = gen.refresh_delta(corpus, 5, 100, 20)
    assert {int(i[4:8]) for i in delta.updated} == set(gen.YEARS)
    assert len(delta.truth) == len(corpus.truth) + 20
    modified = json.loads(delta.files[gen.feed_name("modified") + ".json"])
    recent = json.loads(delta.files[gen.feed_name("recent") + ".json"])
    ids_m = {it["cve"]["CVE_data_meta"]["ID"] for it in modified["CVE_Items"]}
    ids_r = {it["cve"]["CVE_data_meta"]["ID"] for it in recent["CVE_Items"]}
    assert ids_r <= set(delta.added) and ids_m & ids_r
    for i in delta.updated:
        assert delta.truth[i].lmd > corpus.truth[i].lmd
        assert delta.truth[i].score != corpus.truth[i].score


def test_tally_off_by_one_is_a_failed_op():
    ledger = workloads.Ledger()
    stats = {"feeds": 2, "tally_after": 1001}
    ok = ledger.settle("refresh", workloads.ingest_problems(
        stats, 29, feeds=2, tally=1000, history=29))
    assert not ok and (ledger.attempted, ledger.failed) == (1, 1)
    ledger.settle("refresh", workloads.ingest_problems(
        {"feeds": 2, "tally_after": 1000}, 29, feeds=2, tally=1000,
        history=29))
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_wrong_answers_are_failed_ops():
    ledger = workloads.Ledger()
    read = gen.Read("cve_tally", (), 5)
    ledger.settle("read", workloads.read_problems(read, [(4,)]))
    ledger.settle("read", workloads.read_problems(read, [(5,)]))
    planted = {(100, 1), (101, 2)}
    ledger.settle("admit", workloads.pair_problems({(100, 1)}, planted))
    ledger.settle("admit", workloads.pair_problems(planted | {(102, 3)},
                                                   planted))
    ledger.settle("admit", workloads.pair_problems(set(planted), planted))
    ledger.settle("ann", workloads.ann_problems({0: 9, 1: 4}, {0: 7}, 2))
    assert (ledger.attempted, ledger.failed) == (6, 4)


def test_an_op_that_raises_is_a_failed_op():
    run = workloads.Run(None, tracing.NullTracer(), 1, 1.0, "/nonexistent")

    def boom():
        raise ValueError("broken program")

    out, problems = run.op("update", boom, cpu=False)
    assert out is None and "broken program" in problems[0]
    assert "update_s" not in run.samples


def test_self_time_subtracts_children():
    spans = [tracing.Span(0, "a", None, "cycle", 0.0, 10.0),
             tracing.Span(1, "b", 0, "cycle", 1.0, 4.0),
             tracing.Span(2, "c", 0, "cycle", 5.0, 6.0),
             tracing.Span(3, "d", 1, "cycle", 2.0, 3.0)]
    assert tracing.self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert "p90" not in report.percentiles_ms([0.1] * 99)
    assert "p75" in report.percentiles_ms([0.1] * 99)
    assert "p90" in report.percentiles_ms([0.1] * 100)


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        report.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("seed", [1, 2])
def test_planted_queries_are_nearest_to_their_source(seed):
    vecs = gen.corpus_vectors(seed, 2000, 64)
    q, planted = gen.query_vectors(seed, 0, vecs, 50)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for row, src in planted.items():
        assert int(np.argmax(norm @ q[row])) == src
