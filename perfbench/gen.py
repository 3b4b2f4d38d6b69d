"""Seeded input generators and the independent answer models.

Everything here is plain Python (plus pyarrow to write parquet): the
expected answers are computed from the generated inputs alone, never
by asking the program under test.

- Bank-export CSV batches (``chase####.csv`` and ``*synthetic*.csv``
  names, re-delivered keys, intra-batch duplicates, bad date and
  amount rows, one non-CSV file and one CSV whose name names no data
  source) plus :class:`LakeModel`, the expected lake state.
- The serve op sequence (lookups of API-issued ids and of random ids,
  history windows, single-row inserts, ingest batches).
- A near-duplicate document corpus and embedding table with the
  schemas of the testdata `documents` and `embeddings` tables, plus
  the expected clusters.
"""

from __future__ import annotations

import calendar
import datetime as dt
import math
import os
import random
import struct
import uuid
from dataclasses import dataclass, field

CSV_HEADER = (
    "Details,Posting Date,Description,Category,Amount,Type,Balance,"
    "Check or Slip #"
)
# Same columns, another order and case: a second header signature.
ALT_HEADER = (
    "posting date,DETAILS,description,amount,category,type,balance,"
    "check or slip #"
)
CHASE_ACCOUNTS = ("1234", "5678", "9012")
TYPES = ("ACH_DEBIT", "DEBIT_CARD", "ACH_CREDIT", "CHECK_PAID")
CATEGORIES = ("Food", "Travel", "Bills", "Shopping", "Income")
DAY0 = dt.date(2023, 1, 1)
N_DAYS = 730

# Shares of a batch's good-file rows (fixed for every seed).
REDELIVERED_SHARE = 0.20
INTRA_DUP_SHARE = 0.03
BAD_SHARE = 0.04
# Rows in the CSV whose name yields no data source (rejected whole).
UNEXTRACTABLE_ROWS = 40

TRANSACTION_KEY = (
    "details", "posting_date", "description", "data_source", "account_id",
)


def day_str(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).strftime("%m/%d/%Y")


def day_epoch_s(day: int) -> int:
    d = DAY0 + dt.timedelta(days=day)
    return calendar.timegm(d.timetuple())


def csv_line(row: dict) -> str:
    return ",".join(
        [
            row["details"],
            row["posting_date"],
            row["description"],
            row["category"],
            row["amount"],
            row["type"],
            row["balance"],
            row["check_or_slip_num"],
        ]
    )


def _alt_line(row: dict) -> str:
    return ",".join(
        [
            row["posting_date"],
            row["details"],
            row["description"],
            row["amount"],
            row["category"],
            row["type"],
            row["balance"],
            row["check_or_slip_num"],
        ]
    )


@dataclass
class Batch:
    """One delivery directory's worth of files, plus what ingest()
    must report for it."""

    index: int
    files: dict[str, str]  # file name -> full text
    good_rows: list[dict]  # valid rows, in delivery order
    expected_uploaded: int
    expected_failed_files: int
    expected_processed_files: int

    @property
    def csv_rows(self) -> int:
        """Data rows across every CSV file, bad and rejected ones too."""
        return sum(
            text.count("\n") - 1
            for name, text in self.files.items()
            if name.lower().endswith(".csv")
        )

    def write(self, directory: str) -> int:
        """Write the files; returns the bytes delivered."""
        os.makedirs(directory, exist_ok=True)
        total = 0
        for name, text in self.files.items():
            with open(os.path.join(directory, name), "w") as fh:
                fh.write(text)
            total += len(text.encode())
        return total


@dataclass
class LakeModel:
    """Expected live lake state: key -> (row, CSV line bytes)."""

    live: dict[tuple, tuple[dict, int]] = field(default_factory=dict)
    issued: list[tuple[str, dict]] = field(default_factory=list)

    def apply_batch(self, batch: Batch) -> None:
        # MERGE: one survivor per key inside the batch (max over the
        # non-key columns, amount first), then it replaces the stored row.
        best: dict[tuple, dict] = {}
        for row in batch.good_rows:
            k = tuple(row[c] for c in TRANSACTION_KEY)
            if k not in best or float(row["amount"]) > float(best[k]["amount"]):
                best[k] = row
        for k, row in best.items():
            self.live[k] = (row, len(csv_line(row).encode()) + 1)

    def apply_insert(self, txn_id: str, row: dict) -> None:
        k = tuple(row[c] for c in TRANSACTION_KEY)
        self.live[k] = (row, len(csv_line(row).encode()) + 1)
        self.issued.append((txn_id, row))

    def live_rows(self) -> int:
        return len(self.live)

    def amount_cents(self) -> int:
        return sum(round(float(r["amount"]) * 100) for r, _ in self.live.values())

    def live_csv_bytes(self) -> int:
        return sum(n for _, n in self.live.values())

    def history_count(self, txn_type: str, day_lo: int, day_hi: int) -> int:
        return sum(
            1
            for row, _ in self.live.values()
            if row["type"] == txn_type and day_lo <= row["_day"] <= day_hi
        )


class CsvGenerator:
    """Seeded bank-export batches over a growing key space."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.next_key = 0
        # (source, account) -> key ids delivered so far
        self.delivered: dict[tuple[str, str], list[int]] = {}

    def _row(self, key_id: int, source: str, account: str) -> dict:
        rng = self.rng
        day = (key_id * 7919) % N_DAYS
        return {
            "details": "DEBIT" if key_id % 3 else "CREDIT",
            "posting_date": day_str(day),
            "description": f"PAYEE {key_id:07d} REF{key_id % 97:02d}",
            "category": CATEGORIES[key_id % len(CATEGORIES)],
            "amount": f"{rng.randrange(1, 10_000_000) / 100:.2f}",
            "type": TYPES[key_id % len(TYPES)],
            "balance": (
                "" if rng.random() < 0.05
                else f"{rng.randrange(0, 100_000_000) / 100:.2f}"
            ),
            "check_or_slip_num": (
                str(rng.randrange(1000, 9999)) if key_id % 11 == 0 else ""
            ),
            "data_source": source,
            "account_id": account,
            "_day": day,
        }

    def _bad_row(self, source: str, account: str) -> dict:
        row = self._row(self._new_key(), source, account)
        if self.rng.random() < 0.5:
            row["posting_date"] = self.rng.choice(["13/45/2023", "", "2023-02-01"])
        else:
            row["amount"] = self.rng.choice(["N/A", "", "12..5"])
        return row

    def _new_key(self) -> int:
        k = self.next_key
        self.next_key += 1
        return k

    def batch(self, index: int, rows: int) -> Batch:
        """`rows` good-file rows over 3 chase accounts and one
        synthetic export, plus a non-CSV file and an unextractable CSV."""
        rng = self.rng
        streams = [("chase", a) for a in CHASE_ACCOUNTS] + [("synthetic", "0000")]
        per = rows // len(streams)
        files: dict[str, str] = {}
        good: list[dict] = []
        for source, account in streams:
            pool = self.delivered.setdefault((source, account), [])
            n_redeliver = min(int(per * REDELIVERED_SHARE), len(pool))
            n_dup = int(per * INTRA_DUP_SHARE)
            n_bad = int(per * BAD_SHARE)
            n_new = per - n_redeliver - n_dup - n_bad
            fresh = [self._new_key() for _ in range(n_new)]
            keys = rng.sample(pool, n_redeliver) + fresh
            file_rows = [self._row(k, source, account) for k in keys]
            dups = []
            for src in rng.sample(file_rows, n_dup):
                again = dict(src)
                again["amount"] = f"{rng.randrange(1, 10_000_000) / 100:.2f}"
                dups.append(again)
            file_rows += dups
            good += file_rows
            file_rows += [self._bad_row(source, account) for _ in range(n_bad)]
            rng.shuffle(file_rows)
            pool += fresh
            if source == "chase":
                name = f"chase{account}.csv"
                text = CSV_HEADER + "\n" + "".join(csv_line(r) + "\n" for r in file_rows)
            else:
                name = f"bank_synthetic_export_{index:03d}.csv"
                text = ALT_HEADER + "\n" + "".join(_alt_line(r) + "\n" for r in file_rows)
            files[name] = text
        orphan = [self._row(self._new_key(), "none", "none") for _ in range(UNEXTRACTABLE_ROWS)]
        files["statement_export.csv"] = CSV_HEADER + "\n" + "".join(
            csv_line(r) + "\n" for r in orphan
        )
        files["README.txt"] = "exported by the bank portal\n"
        return Batch(
            index=index,
            files=files,
            good_rows=good,
            expected_uploaded=len(good),
            expected_failed_files=2,
            expected_processed_files=len(streams),
        )


# -- serve ops ---------------------------------------------------------------

# One round of the ingest_serve closed loop: 14 API reads (read_ms is
# their median), one insert and one ingest() batch. The insert lands in
# the chase partition, so every read after it unions one more version
# dir until the batch's merge folds the partition back to one dir. A
# run is one round: a second would add a 10 s batch and a second lake
# state to the reads, and the 48 runs of a full measurement (4 + 22 per
# workload) must fit in 3 420 s.
ROUND = (
    "lookup_hit", "history", "insert", "lookup_miss", "lookup_hit",
    "history", "lookup_hit", "lookup_miss", "lookup_hit", "lookup_hit",
    "lookup_miss", "lookup_hit", "lookup_hit", "lookup_miss", "lookup_hit",
    "ingest",
)


@dataclass(frozen=True)
class ServeOp:
    kind: str
    pick: float = 0.0  # lookup_hit: which issued id, as a fraction
    txn_id: str = ""  # lookup_miss: an id the API never issued
    txn_type: str = ""
    day_lo: int = 0
    day_hi: int = 0
    row: dict | None = None  # insert


class ServeOpGenerator:
    """Seeded op rounds: ROUND with fresh parameters each time."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed ^ 0x5EED)
        self.inserted = 0

    def op(self, kind: str) -> ServeOp:
        rng = self.rng
        if kind == "lookup_hit":
            return ServeOp(kind, pick=rng.random())
        if kind == "lookup_miss":
            return ServeOp(kind, txn_id=str(uuid.UUID(int=rng.getrandbits(128), version=4)))
        if kind == "history":
            lo = rng.randrange(0, N_DAYS - 31)
            return ServeOp(
                kind, txn_type=rng.choice(TYPES), day_lo=lo, day_hi=lo + 30
            )
        if kind == "insert":
            n = self.inserted
            self.inserted += 1
            day = rng.randrange(N_DAYS)
            return ServeOp(
                kind,
                row={
                    "details": "API",
                    "posting_date": day_str(day),
                    "description": f"API INSERT {n:06d}",
                    "category": rng.choice(CATEGORIES),
                    "amount": f"{rng.randrange(1, 1_000_000) / 100:.2f}",
                    "type": rng.choice(TYPES),
                    "balance": f"{rng.randrange(0, 1_000_000) / 100:.2f}",
                    "check_or_slip_num": "",
                    "data_source": "chase",
                    "account_id": CHASE_ACCOUNTS[0],
                    "_day": day,
                },
            )
        return ServeOp(kind)

    def round(self) -> list[ServeOp]:
        return [self.op(kind) for kind in ROUND]


# -- curation corpus ---------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
VOCAB = tuple(f"w{i:04d}" for i in range(4000))
SOURCES = tuple(f"src{i}" for i in range(4))
LANGS = ("en", "de", "fr", "es")
EMB_DIM = 64
# Fixed shares of the corpus (every seed).
NEAR_DUP_CLUSTERS = 0.06  # clusters per doc
NEAR_DUP_COPIES = 2  # variants per cluster base
EXACT_DUP_SHARE = 0.04


@dataclass
class Corpus:
    docs: list[dict]
    embeddings: list[dict]
    # doc_id -> min doc_id of its near/exact duplicate cluster
    doc_cluster: dict[int, int]

    def write(self, directory: str) -> int:
        """Write documents.parquet and embeddings.parquet; returns bytes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(directory, exist_ok=True)
        docs = pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in self.docs], pa.int64()),
                "text": pa.array([d["text"] for d in self.docs], pa.string()),
                "lang": pa.array([d["lang"] for d in self.docs], pa.string()),
                "source": pa.array([d["source"] for d in self.docs], pa.string()),
                "n_chars": pa.array(
                    [len(d["text"]) for d in self.docs], pa.int64()
                ),
            }
        )
        emb = pa.table(
            {
                "vec_id": pa.array(
                    [e["vec_id"] for e in self.embeddings], pa.int64()
                ),
                "embedding": pa.array(
                    [e["embedding"] for e in self.embeddings],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(
                    [e["label"] for e in self.embeddings], pa.int32()
                ),
            }
        )
        paths = [
            os.path.join(directory, "documents.parquet"),
            os.path.join(directory, "embeddings.parquet"),
        ]
        pq.write_table(docs, paths[0])
        pq.write_table(emb, paths[1])
        return sum(os.path.getsize(p) for p in paths)

    def expected_dup_weight(self) -> dict[int, int]:
        """doc_id -> cluster size (q_dup_weight's weight is 1/size)."""
        size: dict[int, int] = {}
        for root in self.doc_cluster.values():
            size[root] = size.get(root, 0) + 1
        return {d: size[r] for d, r in self.doc_cluster.items()}

    def cosines_to(self, anchor: int) -> dict[int, float]:
        """vec_id -> cosine to vector `anchor`, every other vector, in
        double precision over the float32 values the parquet holds."""
        fmt = f"{EMB_DIM}f"
        f32 = {
            e["vec_id"]: struct.unpack(fmt, struct.pack(fmt, *e["embedding"]))
            for e in self.embeddings
        }
        q = f32[anchor]
        qn = math.sqrt(sum(x * x for x in q))
        return {
            i: sum(x * y for x, y in zip(v, q)) / (math.sqrt(sum(x * x for x in v)) * qn)
            for i, v in f32.items()
            if i != anchor
        }

    def exact_top(self, anchor: int, k: int) -> list[int]:
        """The exact `k` nearest vec_ids by cosine (ties by id)."""
        sims = self.cosines_to(anchor)
        return sorted(sims, key=lambda i: (-round(sims[i], 9), i))[:k]


def _doc_text(rng: random.Random, n_tokens: int) -> list[str]:
    toks = [
        rng.choice(STOPWORDS) if rng.random() < 0.12 else rng.choice(VOCAB)
        for _ in range(n_tokens)
    ]
    # A run of one token three times: a variant that lengthens the run
    # keeps the word 3-shingle set identical (Jaccard 1.0) while the
    # text differs, so every MinHash band collides and the pair always
    # verifies — recall is exact, not probabilistic.
    pos = rng.randrange(1, n_tokens - 4)
    run = rng.choice(VOCAB)
    toks[pos : pos + 3] = [run, run, run]
    return toks


def corpus(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed ^ 0xC0C0)
    n_clusters = max(1, int(n_docs * NEAR_DUP_CLUSTERS))
    n_exact = max(1, int(n_docs * EXACT_DUP_SHARE))
    n_base = n_docs - n_clusters * NEAR_DUP_COPIES - n_exact
    bases = [_doc_text(rng, rng.randrange(30, 90)) for _ in range(n_base)]
    texts: list[tuple[str, int]] = [(" ".join(t), i) for i, t in enumerate(bases)]
    for c in rng.sample(range(n_base), n_clusters):
        toks = bases[c]
        run_at = next(
            i for i in range(len(toks) - 2)
            if toks[i] == toks[i + 1] == toks[i + 2]
        )
        for extra in range(1, NEAR_DUP_COPIES + 1):
            variant = toks[:run_at] + [toks[run_at]] * extra + toks[run_at:]
            texts.append((" ".join(variant), c))
    for c in rng.sample(range(n_base), n_exact):
        # exact duplicate after lower/trim/whitespace collapse
        texts.append(("  " + "   ".join(bases[c]).upper() + " ", c))
    order = list(range(len(texts)))
    rng.shuffle(order)
    docs = []
    first_id: dict[int, int] = {}
    for doc_id, idx in enumerate(order):
        text, base = texts[idx]
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": LANGS[base % len(LANGS)],
                "source": SOURCES[base % len(SOURCES)],
                "_base": base,
            }
        )
        first_id.setdefault(base, doc_id)
    doc_cluster = {d["doc_id"]: first_id[d["_base"]] for d in docs}

    embeddings = [
        {
            "vec_id": i,
            "embedding": [round(rng.gauss(0.0, 1.0), 4) for _ in range(EMB_DIM)],
            "label": rng.randrange(10),
        }
        for i in range(n_docs)
    ]
    return Corpus(docs, embeddings, doc_cluster)
