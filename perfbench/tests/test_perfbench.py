"""Tests of the benchmark's own parts that need no Spark session:
generator determinism, the metric contract, and that a wrong answer
trips the correctness checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _batches(seed: int, n: int = 3) -> list[gen.Batch]:
    g = gen.CsvGenerator(seed)
    return [g.batch(i, 400) for i in range(n)]


# -- determinism -------------------------------------------------------------


def test_csv_batches_repeat_per_seed():
    a, b = _batches(7), _batches(7)
    assert [x.files for x in a] == [x.files for x in b]
    assert [x.files for x in _batches(8)] != [x.files for x in a]


def test_serve_ops_repeat_per_seed():
    a, b = gen.ServeOpGenerator(7), gen.ServeOpGenerator(7)
    assert [a.round() for _ in range(3)] == [b.round() for _ in range(3)]
    assert gen.ServeOpGenerator(8).round() != gen.ServeOpGenerator(7).round()


def test_corpus_repeats_per_seed():
    a, b = gen.corpus(7, 120), gen.corpus(7, 120)
    assert a.docs == b.docs and a.embeddings == b.embeddings
    assert a.doc_cluster == b.doc_cluster
    assert gen.corpus(8, 120).docs != a.docs


def test_batch_shares_are_fixed():
    batch = _batches(3, 2)[1]
    assert batch.expected_failed_files == 2
    assert "README.txt" in batch.files and "statement_export.csv" in batch.files
    assert any(n.startswith("chase") for n in batch.files)
    assert any("synthetic" in n for n in batch.files)
    good = batch.expected_uploaded
    assert 0.9 * 400 < good < 400  # bad rows dropped, dups kept
    keys = {tuple(r[c] for c in gen.TRANSACTION_KEY) for r in batch.good_rows}
    assert len(keys) < good  # intra-batch duplicates present


def _shingles(text: str) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_near_dup_clusters_have_identical_shingle_sets():
    corpus = gen.corpus(5, 200)
    by_root: dict[int, list[dict]] = {}
    for d in corpus.docs:
        by_root.setdefault(corpus.doc_cluster[d["doc_id"]], []).append(d)
    clusters = [ds for ds in by_root.values() if len(ds) > 1]
    assert clusters
    for ds in clusters:
        first = _shingles(ds[0]["text"])
        assert all(_shingles(d["text"]) == first for d in ds)
        assert min(d["doc_id"] for d in ds) == corpus.doc_cluster[ds[0]["doc_id"]]


# -- metric contract ---------------------------------------------------------


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_metric_with_its_unit():
    spec = _benchmark()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("traced", [False, True])
def test_result_line_emits_every_metric_with_its_unit(traced):
    outcome = workloads.Outcome(attempted=3)
    outcome.e2e = {name: 1.5 for name in workloads.E2E_UNITS}
    layers = {name: 2.5 for name in workloads.LAYER_UNITS} if traced else None
    line = run.result_line(outcome, layers)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    units = workloads.LAYER_UNITS if traced else workloads.E2E_UNITS
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
    assert line["correct"] is True


# -- correctness checks ------------------------------------------------------


def _write_lake(root: str, model: gen.LakeModel) -> str:
    """A one-version lake in the transactional layout, written with
    pyarrow from the model's live rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tp = os.path.join(root, "transactions")
    by_source: dict[str, list[dict]] = {}
    for row, _ in model.live.values():
        by_source.setdefault(row["data_source"], []).append(row)
    partitions = {}
    for source, rows in by_source.items():
        sub = f"data_source={source}"
        d = os.path.join(tp, "_versions", "v1", sub)
        os.makedirs(d)
        cols = [c for c in gen.TRANSACTION_KEY if c != "data_source"]
        table = pa.table(
            {
                **{c: [r[c] for r in rows] for c in cols},
                "amount": [float(r["amount"]) for r in rows],
            }
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        partitions[sub] = [os.path.join("_versions", "v1")]
    os.makedirs(os.path.join(tp, "_manifest"))
    with open(os.path.join(tp, "_manifest", "v1.json"), "w") as fh:
        json.dump({"version": 1, "partitions": partitions}, fh)
    with open(os.path.join(tp, "_CURRENT"), "w") as fh:
        fh.write("v1.json")
    return tp


def test_lake_check_passes_on_the_right_state_and_trips_on_a_wrong_one(tmp_path):
    model = gen.LakeModel()
    for b in _batches(11):
        model.apply_batch(b)
    tp = _write_lake(str(tmp_path), model)
    state = checks.lake_state(tp)
    assert checks.check_lake(state, model) == []

    wrong = gen.LakeModel(live=dict(model.live))
    key = next(iter(wrong.live))
    row, n = wrong.live[key]
    wrong.live[key] = ({**row, "amount": f"{float(row['amount']) + 1:.2f}"}, n)
    assert checks.check_lake(state, wrong)  # a lost upsert shows
    del wrong.live[key]
    assert checks.check_lake(state, wrong)  # a lost or extra row shows


def test_ingest_and_serve_checks_trip_on_wrong_answers():
    batch = _batches(2, 1)[0]

    class Result:
        records_uploaded = batch.expected_uploaded
        failed_files = batch.expected_failed_files
        processed_files = batch.expected_processed_files

    assert checks.check_ingest(Result, batch) == []
    Result.records_uploaded += 1
    assert checks.check_ingest(Result, batch)

    row = {"description": "API INSERT 000001"}
    assert checks.check_lookup([row], row) == []
    assert checks.check_lookup([], row)
    assert checks.check_lookup([{"description": "other"}], row)
    assert checks.check_lookup([row], None)  # a miss that hits
    assert checks.check_count("history", 4, 5)


def test_curation_checks_trip_on_a_second_survivor():
    corpus = gen.corpus(4, 150)
    sizes = corpus.expected_dup_weight()
    rows = [
        {"doc_id": d, "cluster_id": corpus.doc_cluster[d], "cluster_size": sizes[d]}
        for d in sizes
    ]
    assert checks.check_lane("q_dup_weight", rows, corpus) == []
    member = next(r for r in rows if r["cluster_id"] != r["doc_id"])
    member["cluster_id"] = member["doc_id"]  # now a second survivor
    assert checks.check_lane("q_dup_weight", rows, corpus)


def test_knn_check_trips_on_a_wrong_neighbour_or_similarity():
    corpus = gen.corpus(4, 150)
    sims = corpus.cosines_to(0)
    labels = {e["vec_id"]: e["label"] for e in corpus.embeddings}
    exact = corpus.exact_top(0, 10)
    # an approximate answer: the exact top 9 and the 12th
    ids = exact[:9] + [sorted(sims, key=lambda i: -sims[i])[11]]
    rows = [
        {"vec_id": i, "label": labels[i], "sim": round(sims[i], 9), "hits_at_10": 9}
        for i in ids
    ]
    assert checks.check_lane("q_knn_ivfpq", rows, corpus) == []
    for field, value in (("sim", 0.5), ("hits_at_10", 10), ("vec_id", 0), ("vec_id", ids[0])):
        bad = [dict(r) for r in rows]
        bad[-1][field] = value
        assert checks.check_lane("q_knn_ivfpq", bad, corpus), (field, value)
