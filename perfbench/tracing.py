"""Traced-run support: spans around the benchmark's calls into each
layer, Spark job/stage/task counts per op, and the self-time report.

Spans are recorded by wrapping public functions of the package for the
duration of a traced run (the wrappers live here; no package code
changes) and are kept in memory until the run ends. A span's self
time is its duration minus the time its child spans cover.

Run as a script, this compares an untraced and a traced run of one
workload and prints the per-layer table with the tracing overhead:

    python3 perfbench/tracing.py --workload ingest_serve --seed 1 --seconds 8
"""

from __future__ import annotations

import contextlib
import importlib
import json
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: str | None = None
        self.op_kind: dict[str, str] = {}
        self.jobs: dict[str, tuple[int, int, int]] = {}
        self.overhead_s = 0.0
        self.captured: dict[str, list] = defaultdict(list)

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """Root span of one client op, under its own Spark job group."""
        sc = self.spark.sparkContext
        self.op_id = op_id
        self.op_kind[op_id] = kind
        sc.setJobGroup(op_id, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            sc.setJobGroup("perfbench-idle", "idle")
            self.op_id = None
            self.jobs[op_id] = self._job_counts(op_id)

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
        return len(job_ids), stages, tasks

    @contextlib.contextmanager
    def overhead(self):
        """Work done only because tracing is on: timed apart, and its
        Spark jobs kept out of the op's job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-overhead", "overhead")
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t
            if self.op_id is not None:
                sc.setJobGroup(self.op_id, self.op_kind[self.op_id])

    # -- wrapping -----------------------------------------------------------

    def wrap(self, fn, name: str, capture: str | None = None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if capture:
                tracer.captured[capture].append((tracer.op_id, out))
            return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str = "", make=None, **kw) -> None:
        """Replace `owner.attr` by a span wrapper, or by `make(original)`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original) if make else self.wrap(original, name, **kw))

    def patch_everywhere(self, module: str, attr: str, name: str = "", make=None,
                         **kw) -> None:
        """Like :meth:`patch` on `module.attr` and on every package module
        that imported it by name, so callers that bound it at import time
        are traced too."""
        original = getattr(importlib.import_module(module), attr)
        wrapped = make(original) if make else self.wrap(original, name, **kw)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("babylon_data_loader_spark") or mod is None:
                continue
            if getattr(mod, attr, None) is original:
                self._patches.append((mod, attr, original))
                setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- report -------------------------------------------------------------

    def span_self_times(self) -> list[float]:
        """Self time of each span in `spans`, by index (0 while open)."""
        own = [
            s["end"] - s["start"] if s["end"] is not None else 0.0
            for s in self.spans
        ]
        out = list(own)
        for s, t in zip(self.spans, own):
            if s["parent"] is not None:
                out[s["parent"]] -= t
        return out

    def self_times(self) -> dict[str, dict[str, float]]:
        """op id -> span name -> summed self time in that op."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, t in zip(self.spans, self.span_self_times()):
            if s["op"] is not None and s["end"] is not None:
                out[s["op"]][s["name"]] += t
        return out

    def inclusive_times(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] is not None and s["end"] is not None:
                out[s["op"]][s["name"]] += s["end"] - s["start"]
        return out

    def per_op_median(self, name: str, kinds: tuple[str, ...] | None = None) -> float:
        """Median self time over ops (of `kinds`, if given) that ran span
        `name`."""
        vals = [
            spans[name]
            for op, spans in self.self_times().items()
            if name in spans and (kinds is None or self.op_kind[op] in kinds)
        ]
        return statistics.median(vals) if vals else 0.0

    def spark_per_op(self) -> tuple[float, float, float]:
        if not self.jobs:
            return 0.0, 0.0, 0.0
        n = len(self.jobs)
        return tuple(sum(c[i] for c in self.jobs.values()) / n for i in range(3))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "jobs": self.jobs, "ops": self.op_kind},
                fh,
            )


def scan_rows(df) -> dict[str, int]:
    """Rows each file scan of `df`'s last execution produced, keyed by
    the scanned root path; {} when the plan cannot be walked."""
    out: dict[str, int] = {}
    try:
        plan = df._jdf.queryExecution().executedPlan()
    except Exception:  # noqa: BLE001 - best effort over py4j
        return out
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        try:
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                todo.append(node.child())
                continue
            if cls == "InMemoryTableScanExec":
                todo.append(node.relation().cachedPlan())
                continue
            if cls == "FileSourceScanExec":
                rows = node.metrics().get("numOutputRows").get().value()
                roots = node.relation().location().rootPaths()
                key = str(roots.apply(0)) if roots.size() else "?"
                out[key] = out.get(key, 0) + int(rows)
            children = node.children()
            for i in range(children.size()):
                todo.append(children.apply(i))
        except Exception:  # noqa: BLE001 - skip nodes py4j cannot walk
            continue
    return out


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py --trace {trace} failed ({proc.returncode})")
    report = next(
        (json.loads(x) for x in lines if x.startswith('{"report"')), {}
    )
    return {"result": json.loads(lines[-1]), "report": report.get("report", {})}


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    args = ap.parse_args(argv)
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    print(f"# {args.workload} seed {args.seed}: per-layer (traced run)")
    for name, m in traced["result"]["metrics"].items():
        print(f"{name:44s} {m['value']:>14.6g} {m['unit']}")
    shares = {
        k: v for k, v in traced["report"].get("detail", {}).items()
        if k.startswith("write_share.")
    }
    if shares:
        print("# share of the traced ingest() wall time, by span self time")
        for name, m in shares.items():
            print(f"{name:44s} {m['value']:>14.3f}")
    print("# tracing overhead: traced minus untraced end-to-end")
    e2e_plain = plain["report"].get("end_to_end", {})
    e2e_traced = traced["report"].get("end_to_end", {})
    for name, m in e2e_plain.items():
        if name in e2e_traced:
            diff = e2e_traced[name]["value"] - m["value"]
            print(f"{name:44s} {diff:>+14.6g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
