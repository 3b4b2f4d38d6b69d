"""Correctness checks against the generators' answers.

The lake is read back with DuckDB through its current manifest — an
independent reader, not Spark reading its own writes. Every check
returns a list of mismatch messages; an empty list means correct.
"""

from __future__ import annotations

import glob
import json
import math
import os

from gen import TRANSACTION_KEY, Batch, Corpus, LakeModel


def manifest_files(transactions_path: str) -> tuple[list[str], int]:
    """(parquet files the current manifest references, number of
    version dirs it lists)."""
    with open(os.path.join(transactions_path, "_CURRENT")) as fh:
        name = fh.read().strip()
    with open(os.path.join(transactions_path, "_manifest", name)) as fh:
        manifest = json.load(fh)
    files: list[str] = []
    n_dirs = 0
    for subdir, dirs in manifest["partitions"].items():
        for d in dirs:
            n_dirs += 1
            base = transactions_path if d == "." else os.path.join(transactions_path, d)
            files += sorted(glob.glob(os.path.join(base, subdir, "*.parquet")))
    return files, n_dirs


def lake_state(transactions_path: str) -> dict:
    """Row count, distinct 5-key count, amount sum in cents and bytes
    of the live lake, read by DuckDB."""
    import duckdb

    files, _ = manifest_files(transactions_path)
    con = duckdb.connect()
    try:
        keys = ", ".join(TRANSACTION_KEY)
        rows, distinct, cents = con.execute(
            f"SELECT count(*), count(DISTINCT ({keys})), "
            "CAST(sum(round(amount * 100)) AS BIGINT) "
            "FROM read_parquet(?, hive_partitioning = true, union_by_name = true)",
            [files],
        ).fetchone()
    finally:
        con.close()
    return {
        "rows": rows,
        "distinct_keys": distinct,
        "amount_cents": cents or 0,
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def check_lake(state: dict, model: LakeModel) -> list[str]:
    errors = []
    if state["rows"] != state["distinct_keys"]:
        errors.append(
            f"lake holds {state['rows']} rows for {state['distinct_keys']} keys"
        )
    if state["distinct_keys"] != model.live_rows():
        errors.append(
            f"lake has {state['distinct_keys']} live keys, expected {model.live_rows()}"
        )
    if state["amount_cents"] != model.amount_cents():
        errors.append(
            f"lake amount sum {state['amount_cents']} cents, "
            f"expected {model.amount_cents()}"
        )
    return errors


def check_ingest(result, batch: Batch) -> list[str]:
    got = (result.records_uploaded, result.failed_files, result.processed_files)
    want = (
        batch.expected_uploaded,
        batch.expected_failed_files,
        batch.expected_processed_files,
    )
    if got != want:
        return [f"ingest batch {batch.index}: (uploaded, failed, processed) {got} != {want}"]
    return []


def check_lookup(rows: list, expected_row: dict | None) -> list[str]:
    if expected_row is None:
        return [] if not rows else [f"lookup of an unknown id returned {len(rows)} rows"]
    if len(rows) != 1:
        return [f"lookup of an issued id returned {len(rows)} rows"]
    if rows[0]["description"] != expected_row["description"]:
        return [f"lookup returned {rows[0]['description']!r}"]
    return []


def check_count(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: {got} rows, expected {want}"]


# -- curation ----------------------------------------------------------------


def canonical(rows: list) -> list[tuple]:
    """Order-free, float-tolerant form of a lane result."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 9) if math.isfinite(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def check_lane(lane: str, rows: list, corpus: Corpus) -> list[str]:
    """Lane results against the corpus generator's answers, where the
    generator can compute them; other lanes are checked cold-vs-warm."""
    if lane == "q_dup_weight":
        want = corpus.expected_dup_weight()
        got = {r["doc_id"]: r["cluster_size"] for r in rows}
        if got != want:
            bad = sorted(d for d in want if got.get(d) != want[d])[:5]
            return [f"{lane}: cluster sizes differ for docs {bad}"]
        roots = {r["doc_id"]: r["cluster_id"] for r in rows}
        if roots != corpus.doc_cluster:
            return [f"{lane}: a near-dup cluster has more than one survivor"]
        return []
    if lane == "q_knn_ivfpq":
        return check_knn(lane, rows, corpus)
    return []


def check_knn(lane: str, rows: list, corpus: Corpus, k: int = 10) -> list[str]:
    """Approximate top-k of vec 0: k distinct other ids, each with its
    true cosine and label, in descending similarity, and the recall
    witness equal to the overlap with the exact top-k."""
    ids = [r["vec_id"] for r in rows]
    if len(ids) != k or len(set(ids)) != k:
        return [f"{lane}: {len(set(ids))} distinct neighbours in {len(ids)} rows, expected {k}"]
    sims = corpus.cosines_to(0)
    labels = {e["vec_id"]: e["label"] for e in corpus.embeddings}
    errors = []
    for r in rows:
        if r["vec_id"] not in sims:
            errors.append(f"{lane}: neighbour {r['vec_id']} is the anchor or unknown")
        elif abs(r["sim"] - sims[r["vec_id"]]) > 1e-6:
            errors.append(f"{lane}: sim of {r['vec_id']} is {r['sim']}, expected {sims[r['vec_id']]:.9f}")
        elif r["label"] != labels[r["vec_id"]]:
            errors.append(f"{lane}: label of {r['vec_id']} is {r['label']}")
    if [r["sim"] for r in rows] != sorted((r["sim"] for r in rows), reverse=True):
        errors.append(f"{lane}: neighbours are not in descending similarity")
    hits = len(set(ids) & set(corpus.exact_top(0, k)))
    if any(r["hits_at_10"] != hits for r in rows):
        errors.append(f"{lane}: hits_at_10 is {rows[0]['hits_at_10']}, exact overlap is {hits}")
    return errors[:5]
