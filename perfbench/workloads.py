"""The benchmark's workloads: closed loop, one client thread.

Each workload gets a fresh run root (CSV drops, lake, corpus and Spark
warehouse all live under it), sets up, then runs its timed ops until
`seconds` of op time have passed, checking every answer against the
generators. A wrong answer or an exception counts as a failed op.

End-to-end metrics (every workload reports all of them):

- setup_s: process start to the first timed op.
- write_ms: the workload's state-writing op. ingest_serve: median
  wall time of one ingest() batch. curation: cold-pass wall time per
  lane call, where every index store builds.
- read_ms: the workload's read op. ingest_serve: median of
  get_transaction_by_id / get_transaction_history calls plus collect.
  curation: median warm-pass wall time per lane call (stores hit).
- write_amp: bytes new or changed under the lake (or warehouse),
  summed over snapshots taken around each write op (each pass) / input
  bytes delivered (CSV files and insert rows; the corpus files). A
  store or dir rewritten later counts again.
- space_amp: bytes at rest at the end (files the lake's current
  manifest references; the index stores) / input bytes of the live
  data (CSV bytes of the distinct live rows; the corpus files).

Peak RSS of the Python driver plus the Spark JVM is reported too, but
as the per-layer figure `process.peak_rss_mb` and in the report line:
under the session's default 8g driver heap the JVM grows its heap when
its collector decides to, so the peak moves by about a quarter from
run to run and cannot carry a regression bound.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import gen

E2E_UNITS = {
    "setup_s": "s",
    "write_ms": "ms",
    "read_ms": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

LAYER_UNITS = {
    "csv_source.files": "count",
    "csv_source.header_groups": "count",
    "csv_source.scan_s": "s",
    "csv_source.rows_per_s": "rows/s",
    "normalize.rows_in": "count",
    "normalize.valid_ratio": "ratio",
    "normalize.s": "s",
    "pipeline.status_write_s": "s",
    "pipeline.totals_s": "s",
    "pipeline.files_failed": "count",
    "merge.batch_dup_ratio": "ratio",
    "merge.s": "s",
    "tx_lake.commit_s": "s",
    "tx_lake.bytes_written": "bytes",
    "tx_lake.files_written": "count",
    "tx_lake.rows_rewritten_per_row_delivered": "ratio",
    "tx_lake.commit_retries": "count",
    "tx_lake.manifest_dirs": "count",
    "tx_lake.read_plan_s": "s",
    "parquet_lake.read_s": "s",
    "parquet_lake.sync_log_s": "s",
    "api.lookup_s": "s",
    "api.history_s": "s",
    "api.insert_s": "s",
    "api.files_opened_per_op": "count",
    "api.rows_scanned_per_row_returned": "ratio",
    "dedup.signature_s": "s",
    "dedup.candidates": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "graph.components_s": "s",
    "ann.build_s": "s",
    "ann.probe_s": "s",
    "ann.candidates_per_query": "count",
    "index_store.accesses": "count",
    "index_store.hit_ratio": "ratio",
    "index_store.build_s": "s",
    "index_store.bytes": "bytes",
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_s": "s",
}

# ingest_serve sizing: base lake rows / batch rows is what makes the
# copy-on-write merge's rewrite of touched partitions visible.
BASE_ROWS = 20_000
BATCH_ROWS = 5_000
# curation sizing
CORPUS_DOCS = 200
# Set-up warms the JVM on a second, smaller corpus (other content, so
# other store fingerprints): one pass there pays the class loading, JIT
# and codegen a first query costs, and the passes after it carry the
# JIT past the steep part of its curve, where warm-pass times still
# fall by a third from one pass to the tenth.
WARMUP_DOCS = 100
WARMUP_PASSES = 9
# The lanes cover every curation layer: MinHash/LSH/Jaccard dedup and
# connected components (q_dup_weight), IVF-PQ build and probe
# (q_knn_ivfpq), and the index stores under both. The other curation
# lanes are left out to fit a run in the time budget.
LANES = ("q_dup_weight", "q_knn_ivfpq")
MIN_WARM_PASSES = 4


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    setup_errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors += errors

    @property
    def correct(self) -> bool:
        return not self.errors and not self.setup_errors


def call(fn, *args):
    """(seconds, result, errors): an exception is a failed op, logged
    with its traceback and never swallowed silently."""
    t = time.perf_counter()
    try:
        out = fn(*args)
    except Exception as exc:  # noqa: BLE001 - every op failure is counted
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t, None, [f"{type(exc).__name__}: {exc}"[:300]]
    return time.perf_counter() - t, out, []


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def new_bytes(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present in `after` and new or changed since `before`."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)


def peak_rss_mb(jvm_pid: int | None) -> float:
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- ingest_serve ------------------------------------------------------------


class IngestServe:
    """The loader's write path and the apiClient query surface against
    one lake: ingest() upsert batches, point lookups of API-issued ids
    and of unknown ids, type + time-window history reads, single-row
    inserts, in the fixed order of gen.ROUND."""

    def __init__(self, spark, root: str, seed: int, tracer=None) -> None:
        from babylon_data_loader_spark.sources.parquet_lake import (
            read_transactions,
        )

        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.lake = os.path.join(root, "lake")
        self.tp = os.path.join(self.lake, "transactions")
        self.csvgen = gen.CsvGenerator(seed)
        self.opgen = gen.ServeOpGenerator(seed)
        self.model = gen.LakeModel()
        self.batch_no = 0
        self.read_tx = (
            tracer.wrap(read_transactions, "parquet_lake.read")
            if tracer else read_transactions
        )
        self.trace_stats: dict[str, list[float]] = {}

    @property
    def tracing(self) -> bool:
        """Inside a traced timed op (set-up ops are never traced)."""
        return self.tracer is not None and self.tracer.op_id is not None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def _stat(self, name: str, value: float) -> None:
        self.trace_stats.setdefault(name, []).append(value)

    # ops: each returns (seconds, errors, info)

    def ingest_batch(self, rows: int):
        from babylon_data_loader_spark.config import EngineConfig
        from babylon_data_loader_spark.ingest import ingest

        batch = self.csvgen.batch(self.batch_no, rows)
        directory = os.path.join(self.root, "csv", f"b{self.batch_no:03d}")
        self.batch_no += 1
        nbytes = batch.write(directory)
        cfg = EngineConfig(
            unprocessed_dir=directory,
            processed_dir=os.path.join(self.root, "processed"),
            lake_dir=self.lake,
            move_processed_files=False,
        )
        if self.tracing:
            self._materialize_batch(directory)
        with self._span("ingest"):
            secs, result, errors = call(ingest, self.spark, cfg)
        if not errors:
            self.model.apply_batch(batch)
            errors = checks.check_ingest(result, batch) + checks.check_lake(
                checks.lake_state(self.tp), self.model
            )
            if self.tracing:
                self._stat("pipeline.files_failed", result.failed_files)
        return secs, errors, {"bytes": nbytes, "rows": batch.csv_rows,
                              "good_rows": len(batch.good_rows)}

    def _materialize_batch(self, directory: str) -> None:
        """csv_source and normalize only build plans inside ingest();
        their work runs in later jobs. The traced run materializes
        them on the same batch and books the time as overhead."""
        from pyspark.sql import functions as F

        from babylon_data_loader_spark.ingest.normalize import (
            normalize_transactions,
        )
        from babylon_data_loader_spark.sources.csv_source import (
            group_by_header,
            list_csv_files,
            read_csv_dir,
        )

        with self.tracer.overhead():
            csv_files, _ = list_csv_files(directory)
            self._stat("csv_source.files", len(csv_files))
            self._stat("csv_source.header_groups", len(group_by_header(csv_files)))
            t = time.perf_counter()
            raw = read_csv_dir(self.spark, directory)
            rows_in = raw.count()
            scan_s = time.perf_counter() - t
            self._stat("csv_source.scan_s", scan_s)
            self._stat("csv_source.rows_per_s", rows_in / scan_s if scan_s else 0.0)
            t = time.perf_counter()
            norm = normalize_transactions(raw)
            valid = F.col("_valid_date") & F.col("_valid_amount") & F.col("data_source").isNotNull()
            agg = norm.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(valid.cast("long")).alias("valid"),
                F.count_distinct(
                    F.when(valid, F.struct(*gen.TRANSACTION_KEY))
                ).alias("keys"),
            ).collect()[0]
            self._stat("normalize.s", max(0.0, time.perf_counter() - t - scan_s))
            self._stat("normalize.rows_in", agg["n"])
            self._stat("normalize.valid_ratio", (agg["valid"] or 0) / max(1, agg["n"]))
            self._stat("merge.batch_dup_ratio", (agg["valid"] or 0) / max(1, agg["keys"]))

    def lookup(self, op: gen.ServeOp):
        from babylon_data_loader_spark.api import get_transaction_by_id

        if op.kind == "lookup_hit":
            if not self.model.issued:
                return 0.0, ["no id was issued to look up"], {}
            txn_id, expected = self.model.issued[int(op.pick * len(self.model.issued))]
            txn_type = expected["type"]
        else:
            txn_id, txn_type, expected = op.txn_id, gen.TYPES[0], None

        def run():
            df = get_transaction_by_id(self.read_tx(self.spark, self.tp), txn_id, txn_type)
            return df, df.collect()

        with self._span("lookup"):
            secs, out, errors = call(run)
        if not errors:
            errors = checks.check_lookup(out[1], expected)
            self._trace_read(*out)
        return secs, errors, {}

    def history(self, op: gen.ServeOp):
        from pyspark.sql import functions as F

        from babylon_data_loader_spark.api import get_transaction_history

        # ingest() writes no `ts_us` column, so a caller derives the
        # time column from posting_date and names it.
        def run():
            df = self.read_tx(self.spark, self.tp).withColumn(
                "posting_ts",
                F.unix_micros(F.to_timestamp("posting_date", "MM/dd/yyyy")),
            )
            df = get_transaction_history(
                df, op.txn_type, gen.day_epoch_s(op.day_lo),
                gen.day_epoch_s(op.day_hi), ts_col="posting_ts",
            )
            return df, df.collect()

        with self._span("history"):
            secs, out, errors = call(run)
        if not errors:
            want = self.model.history_count(op.txn_type, op.day_lo, op.day_hi)
            errors = checks.check_count("history", len(out[1]), want)
            self._trace_read(*out)
        return secs, errors, {}

    def insert(self, op: gen.ServeOp):
        from babylon_data_loader_spark.api import add_transaction

        row = op.row
        txn = {k: row[k] for k in (
            "details", "posting_date", "description", "category", "type",
            "check_or_slip_num", "data_source", "account_id",
        )}
        txn["amount"] = float(row["amount"])
        txn["balance"] = float(row["balance"])
        with self._span("insert"):
            secs, txn_id, errors = call(add_transaction, self.spark, self.tp, txn)
        if not errors:
            self.model.apply_insert(txn_id, row)
        nbytes = len(gen.csv_line(row).encode()) + 1
        return secs, errors, {"bytes": nbytes}

    def _trace_read(self, df, rows) -> None:
        if not self.tracing:
            return
        from tracing import scan_rows

        with self.tracer.overhead():
            self._stat("api.files_opened_per_op", len(df.inputFiles()))
            self._stat("rows_scanned", sum(scan_rows(df).values()))
            self._stat("rows_returned", len(rows))
            self._stat("tx_lake.manifest_dirs", checks.manifest_files(self.tp)[1])

    def run_op(self, op: gen.ServeOp):
        if op.kind == "ingest":
            return self.ingest_batch(BATCH_ROWS)
        if op.kind in ("lookup_hit", "lookup_miss"):
            return self.lookup(op)
        if op.kind == "history":
            return self.history(op)
        return self.insert(op)


def ingest_serve(spark, root: str, seed: int, seconds: float, t0: float,
                 tracer=None) -> Outcome:
    out = Outcome()
    w = IngestServe(spark, root, seed, tracer)
    # set-up: the base lake (also the JVM warm-up) and warm-up API
    # calls that issue the first ids
    _, errors, _ = w.ingest_batch(BASE_ROWS)
    out.setup_errors += errors
    for kind in ("insert", "lookup_hit", "history", "lookup_miss", "lookup_hit", "history"):
        _, errors, _ = w.run_op(w.opgen.op(kind))
        out.setup_errors += errors
    if tracer is not None:
        _install_lake_patches(tracer)

    setup_s = time.perf_counter() - t0
    op_time = 0.0
    times: dict[str, list[float]] = {}
    delivered = rows_delivered = ingest_time = written = 0
    n = 0
    # whole rounds, so every run sees the same op mix
    while op_time < seconds:
        for op in w.opgen.round():
            kind = "lookup" if op.kind.startswith("lookup") else op.kind
            writes = kind in ("ingest", "insert")
            # snapshots around each write op, outside its timing, so a
            # dir written and later dropped from the lake still counts
            before = tree_files(w.lake) if writes else None
            if tracer is not None:
                with tracer.op(f"op{n}", kind):
                    secs, errors, info = w.run_op(op)
            else:
                secs, errors, info = w.run_op(op)
            if writes:
                after = tree_files(w.lake)
                written += new_bytes(before, after)[0]
                if tracer is not None:
                    with tracer.overhead():
                        _trace_write(w, before, after, info)
            n += 1
            op_time += secs
            out.record(errors)
            times.setdefault(kind, []).append(secs)
            delivered += info.get("bytes", 0)
            if kind == "ingest":
                rows_delivered += info["rows"]
                ingest_time += secs

    state = checks.lake_state(w.tp)
    out.errors += checks.check_lake(state, w.model)
    reads = times.get("lookup", []) + times.get("history", [])
    out.e2e = {
        "setup_s": setup_s,
        "write_ms": 1000 * _median(times.get("ingest", [])),
        "read_ms": 1000 * _median(reads),
        "write_amp": written / max(1, delivered),
        "space_amp": state["bytes"] / max(1, w.model.live_csv_bytes()),
    }
    lookups = sorted(times.get("lookup", []))
    out.detail = {
        "ops_per_s": (n / op_time, "ops/s"),
        "ingest_rows_per_s": (rows_delivered / ingest_time if ingest_time else 0.0, "rows/s"),
        "ingest_batch_p50_s": (_median(times.get("ingest", [])), "s"),
        "lookup_p50_ms": (1000 * _median(lookups), "ms"),
        "history_p50_ms": (1000 * _median(times.get("history", [])), "ms"),
        "insert_p50_ms": (1000 * _median(times.get("insert", [])), "ms"),
        "serve_ops_per_s": (
            sum(len(times.get(k, [])) for k in ("lookup", "history", "insert"))
            / max(1e-9, sum(sum(times.get(k, [])) for k in ("lookup", "history", "insert"))),
            "ops/s",
        ),
        "lookups": (len(lookups), "count"),
        "ingest_batches": (len(times.get("ingest", [])), "count"),
    }
    if len(lookups) >= 100:
        out.detail["lookup_p90_ms"] = (1000 * lookups[int(0.9 * len(lookups))], "ms")
    if tracer is not None:
        out.layers = _lake_layers(tracer, w)
        out.detail.update(_write_shares(tracer, w))
    return out


def _write_shares(tracer, w: IngestServe) -> dict[str, tuple[float, str]]:
    """Share of the traced ingest() calls' wall time that each span
    inside them takes as self time (`ingest` itself: the pipeline's own
    code), plus the standalone csv_source scan and normalize times
    (whose work really runs inside the status and merge write jobs) as
    a share of the same."""
    ops = [op for op, kind in tracer.op_kind.items() if kind == "ingest"]
    incl = tracer.inclusive_times()
    total = sum(incl[op]["ingest"] for op in ops)
    if not total:
        return {}
    spans: dict[str, float] = {}
    for op, by_name in tracer.self_times().items():
        if op in ops:
            for name, t in by_name.items():
                if name != "op.ingest":
                    spans[name] = spans.get(name, 0.0) + t
    shares = {f"write_share.{k}": (v / total, "ratio") for k, v in sorted(spans.items())}
    for name in ("csv_source.scan_s", "normalize.s"):
        shares[f"write_share.standalone.{name}"] = (
            sum(w.trace_stats.get(name, [])) / total, "ratio"
        )
    return shares


def _install_lake_patches(tracer) -> None:
    import babylon_data_loader_spark.ingest.pipeline as pipeline
    from babylon_data_loader_spark.operators.tx_lake import (
        ConcurrentWriteError,
        TransactionalLake,
    )

    tracer.patch(pipeline, "list_csv_files", "csv_source.list")
    tracer.patch(pipeline, "read_csv_dir", "csv_source.read_plan")
    tracer.patch(pipeline, "normalize_transactions", "normalize.plan")
    tracer.patch(pipeline, "_write_status", "pipeline.status_write")
    tracer.patch(pipeline, "merge_upsert", "merge")
    tracer.patch(pipeline, "append_sync_log", "parquet_lake.sync_log")
    tracer.patch(TransactionalLake, "merge", "tx_lake.commit")
    tracer.patch(TransactionalLake, "append", "tx_lake.commit")
    tracer.patch(TransactionalLake, "read", "tx_lake.read_plan")

    tracer.retries = 0

    def count_lost_claims(original):
        def claim_and_commit(self, manifest):
            try:
                return original(self, manifest)
            except ConcurrentWriteError:
                tracer.retries += 1
                raise

        return claim_and_commit

    tracer.patch(TransactionalLake, "_claim_and_commit", make=count_lost_claims)


def _trace_write(w: IngestServe, before: dict, after: dict, info: dict) -> None:
    """Bytes, files and rows one write op put under the lake."""
    import duckdb

    nbytes, nfiles = new_bytes(before, after)
    w._stat("tx_lake.bytes_written", nbytes)
    w._stat("tx_lake.files_written", nfiles)
    if "good_rows" in info:
        fresh = [
            p for p in after
            if p.endswith(".parquet") and p not in before
            and os.sep + "_versions" + os.sep in p
        ]
        rows = duckdb.sql(
            f"SELECT count(*) FROM read_parquet({fresh!r}, union_by_name = true)"
        ).fetchone()[0] if fresh else 0
        w._stat("rows_rewritten", rows)
        w._stat("rows_delivered", info["good_rows"])


def _lake_layers(tracer, w: IngestServe) -> dict[str, float]:
    s = w.trace_stats

    def mean(name: str) -> float:
        xs = s.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    ing, reads = ("ingest",), ("lookup", "history")
    jobs, stages, tasks = tracer.spark_per_op()
    returned = sum(s.get("rows_returned", []))
    return {
        "csv_source.files": mean("csv_source.files"),
        "csv_source.header_groups": mean("csv_source.header_groups"),
        "csv_source.scan_s": _median(s.get("csv_source.scan_s", [])),
        "csv_source.rows_per_s": _median(s.get("csv_source.rows_per_s", [])),
        "normalize.rows_in": mean("normalize.rows_in"),
        "normalize.valid_ratio": mean("normalize.valid_ratio"),
        "normalize.s": _median(s.get("normalize.s", [])),
        "pipeline.status_write_s": tracer.per_op_median("pipeline.status_write", ing),
        "pipeline.totals_s": tracer.per_op_median("ingest", ing),
        "pipeline.files_failed": mean("pipeline.files_failed"),
        "merge.batch_dup_ratio": mean("merge.batch_dup_ratio"),
        "merge.s": tracer.per_op_median("merge", ing),
        "tx_lake.commit_s": tracer.per_op_median("tx_lake.commit"),
        "tx_lake.bytes_written": mean("tx_lake.bytes_written"),
        "tx_lake.files_written": mean("tx_lake.files_written"),
        "tx_lake.rows_rewritten_per_row_delivered": (
            sum(s.get("rows_rewritten", [])) / max(1, sum(s.get("rows_delivered", [])))
        ),
        "tx_lake.commit_retries": float(getattr(tracer, "retries", 0)),
        "tx_lake.manifest_dirs": mean("tx_lake.manifest_dirs"),
        "tx_lake.read_plan_s": tracer.per_op_median("tx_lake.read_plan", reads),
        "parquet_lake.read_s": tracer.per_op_median("parquet_lake.read", reads),
        "parquet_lake.sync_log_s": tracer.per_op_median("parquet_lake.sync_log", ing),
        "api.lookup_s": tracer.per_op_median("lookup", ("lookup",)),
        "api.history_s": tracer.per_op_median("history", ("history",)),
        "api.insert_s": tracer.per_op_median("insert", ("insert",)),
        "api.files_opened_per_op": mean("api.files_opened_per_op"),
        "api.rows_scanned_per_row_returned": (
            sum(s.get("rows_scanned", [])) / returned if returned else 0.0
        ),
        "spark.jobs_per_op": jobs,
        "spark.stages_per_op": stages,
        "spark.tasks_per_op": tasks,
    }


# -- curation ----------------------------------------------------------------


def _store_layer(kind: str) -> str:
    """Which operator family builds an index store of this kind."""
    k = kind.lower()
    if "comp" in k:
        return "graph"
    if any(t in k for t in ("emb", "ivf", "pq", "det", "lsh", "ann", "knn")):
        return "ann"
    return "dedup"


def curation(spark, root: str, seed: int, seconds: float, t0: float,
             tracer=None) -> Outcome:
    import babylon_data_loader_spark.queries as Q
    from babylon_data_loader_spark.operators import index_store

    out = Outcome()
    Q.load_all()
    corpus_dir = os.path.join(root, "corpus")
    corpus = gen.corpus(seed, CORPUS_DOCS)
    corpus_bytes = corpus.write(corpus_dir)
    warehouse = os.path.join(root, "warehouse")

    def run_lane(lane: str, directory: str):
        def run():
            df = Q.QUERIES[lane](spark, directory)
            return df, df.collect()

        return call(run)

    # set-up: the warm-up corpus stays on disk, so the index stores'
    # sweeps keep its stores; they are left out of every byte count
    warmup_dir = os.path.join(root, "warmup_corpus")
    warmup = gen.corpus(-1 - seed, WARMUP_DOCS)
    warmup.write(warmup_dir)
    for _ in range(WARMUP_PASSES):
        for lane in LANES:
            _, res, errors = run_lane(lane, warmup_dir)
            out.setup_errors += errors or checks.check_lane(lane, res[1], warmup)
    warmup_files = set(tree_files(warehouse))

    def stores_now() -> dict:
        return {p: v for p, v in tree_files(warehouse).items() if p not in warmup_files}

    stores = stores_now()
    if tracer is not None:
        _install_curation_patches(tracer, index_store)

    setup_s = time.perf_counter() - t0
    passes: list[float] = []
    lane_times: dict[str, list[float]] = {}
    results: dict[str, list] = {}
    written = 0
    op_time = 0.0
    n = 0
    # the cold pass, then warm passes for `seconds` (at least four)
    while len(passes) < 1 + MIN_WARM_PASSES or op_time - passes[0] < seconds:
        pass_time = 0.0
        for lane in LANES:
            if tracer is not None:
                with tracer.op(f"op{n}", f"pass{len(passes)}"):
                    with tracer.span(f"lane.{lane}"):
                        secs, res, errors = run_lane(lane, corpus_dir)
            else:
                secs, res, errors = run_lane(lane, corpus_dir)
            n += 1
            pass_time += secs
            lane_times.setdefault(lane, []).append(secs)
            if not errors:
                df, rows = res
                rows_c = checks.canonical(rows)
                errors = checks.check_lane(lane, rows, corpus)
                if lane in results and rows_c != results[lane]:
                    errors.append(f"{lane}: warm result differs from cold result")
                results.setdefault(lane, rows_c)
                if tracer is not None and lane == "q_knn_ivfpq" and passes:
                    from tracing import scan_rows

                    with tracer.overhead():
                        scanned = scan_rows(df)
                    tracer.captured["ivfpq_scan"].append(
                        sum(v for k, v in scanned.items() if "detivfpq" in k)
                    )
            out.record(errors)
        passes.append(pass_time)
        op_time += pass_time
        # per pass, so a store rebuilt in place on a warm pass counts again
        after = stores_now()
        written += new_bytes(stores, after)[0]
        stores = after

    cold, warm = passes[0], _median(passes[1:])
    at_rest = sum(v[0] for v in stores.values())
    out.e2e = {
        "setup_s": setup_s,
        "write_ms": 1000 * cold / len(LANES),
        "read_ms": 1000 * warm / len(LANES),
        "write_amp": written / corpus_bytes,
        "space_amp": at_rest / corpus_bytes,
    }
    out.detail = {
        "ops_per_s": (n / op_time, "ops/s"),
        "curation_cold_docs_per_s": (CORPUS_DOCS / cold, "docs/s"),
        "curation_warm_docs_per_s": (CORPUS_DOCS / warm, "docs/s"),
        "cold_pass_s": (cold, "s"),
        "warm_pass_p50_s": (warm, "s"),
        "warm_passes": (len(passes) - 1, "count"),
        **{f"{lane}.cold_s": (t[0], "s") for lane, t in lane_times.items()},
        **{f"{lane}.warm_p50_s": (_median(t[1:]), "s") for lane, t in lane_times.items()},
    }
    if tracer is not None:
        out.layers = _curation_layers(tracer, lane_times, at_rest)
    return out


def _install_curation_patches(tracer, index_store) -> None:
    def with_kind_and_hit(original):
        def get_or_build_parquet(source, kind, params, build, *args, **kwargs):
            mark = len(index_store.ACCESS_LOG)
            with tracer.span("index_store", kind=kind) as rec:
                result = original(source, kind, params, build, *args, **kwargs)
            log = index_store.ACCESS_LOG[mark:]
            rec["hit"] = bool(log and log[0]["hit"])
            return result

        return get_or_build_parquet

    tracer.patch_everywhere(
        "babylon_data_loader_spark.operators.index_store", "get_or_build_parquet",
        make=with_kind_and_hit,
    )
    tracer.patch_everywhere(
        "babylon_data_loader_spark.operators.dedup", "lsh_candidate_pairs",
        "dedup.candidates", capture="candidates",
    )
    tracer.patch_everywhere(
        "babylon_data_loader_spark.operators.dedup", "jaccard_verify",
        "dedup.verify", capture="verified",
    )
    tracer.patch_everywhere(
        "babylon_data_loader_spark.operators.graph", "connected_components",
        "graph.components",
    )


def _curation_layers(tracer, lane_times: dict[str, list[float]],
                     at_rest: int) -> dict[str, float]:
    incl = tracer.inclusive_times()
    cold_ops = {op for op, k in tracer.op_kind.items() if k == "pass0"}
    n_passes = len(set(tracer.op_kind.values()))
    build = {"dedup": 0.0, "graph": 0.0, "ann": 0.0}
    accesses = hits = 0
    for s, self_s in zip(tracer.spans, tracer.span_self_times()):
        if s["name"] != "index_store":
            continue
        accesses += 1
        hits += s.get("hit", False)
        if not s.get("hit") and s["op"] in cold_ops:
            build[_store_layer(s["kind"])] += self_s
    with tracer.overhead():
        cand = sum(df.count() for op, df in tracer.captured["candidates"] if op in cold_ops)
        ver = sum(df.count() for op, df in tracer.captured["verified"] if op in cold_ops)
    jobs, stages, tasks = tracer.spark_per_op()
    return {
        "dedup.signature_s": build["dedup"],
        "dedup.candidates": float(cand),
        "dedup.verified_pairs": float(ver),
        "dedup.verify_yield": ver / cand if cand else 0.0,
        "graph.components_s": sum(
            incl[op].get("graph.components", 0.0) for op in cold_ops
        ),
        "ann.build_s": build["ann"],
        "ann.probe_s": _median(lane_times["q_knn_ivfpq"][1:]),
        "ann.candidates_per_query": _median(tracer.captured["ivfpq_scan"]),
        "index_store.accesses": accesses / max(1, n_passes),
        "index_store.hit_ratio": hits / accesses if accesses else 0.0,
        "index_store.build_s": sum(build.values()),
        "index_store.bytes": float(at_rest),
        "spark.jobs_per_op": jobs,
        "spark.stages_per_op": stages,
        "spark.tasks_per_op": tasks,
    }


WORKLOADS = {"ingest_serve": ingest_serve, "curation": curation}
