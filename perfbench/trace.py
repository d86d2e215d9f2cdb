"""Span recorder for the traced run (``--trace 1``).

The library is not modified: ``Recorder.install`` swaps the public
entry points the workloads reach for timing wrappers, in every module
namespace that holds a reference to them, and ``uninstall`` puts the
originals back. The workloads open spans of their own around the
calls they make (``Recorder.span``).

A span records name, start, end, parent and the trace (root span) it
belongs to. Spans stay in memory until the run ends. Each span tags
its thread's Spark jobs with a job group (``pb<span id>``); after the
session stops, ``layer_metrics`` reads Spark's event log and lands
every job, its tasks and its stage metrics on the span that launched
it. Jobs launched from library threads that no span covers land on
the innermost span the load-generating thread had open when they were
submitted.

Functions that return a lazy DataFrame are materialised inside their
span (``localCheckpoint``) unless the plan is already local, so the
span covers the work and not only plan construction.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import threading
import time
from collections import defaultdict
from pathlib import Path
from typing import Dict, List, Optional

# (module, attribute, span name, materialise the returned DataFrame)
_FUNCTIONS = [
    ("bm25_chroma_spark.index.wand", "search_sharded", "wand.search", True),
    ("bm25_chroma_spark.operators.knn", "knn_bruteforce", "knn.bruteforce",
     True),
    ("bm25_chroma_spark.operators.fusion", "rrf_fuse_py", "fusion.rrf",
     False),
    ("bm25_chroma_spark.index.shards", "build_sharded_index", "shards.build",
     False),
    ("bm25_chroma_spark.index.dml", "apply_dml", "dml.apply", False),
    ("bm25_chroma_spark.index.dml", "compact_index", "dml.compact", False),
    ("bm25_chroma_spark.operators.embed", "embed_corpus", "embed.corpus",
     True),
]
# modules that import the functions above by name
_IMPORTERS = ["bm25_chroma_spark.plans.retriever"]
# ShardedIndex methods
_METHODS = [("postings_rows", "shards.postings_rows"),
            ("refresh", "shards.refresh")]

READ_SPANS = ("retriever.query", "retriever.query_df")
# per-span Spark metrics reported in the result line (all eight are
# in the trace file)
SPAN_NAMES = [
    "retriever.query", "retriever.query_df", "retriever.write",
    "wand.search", "shards.postings_rows", "shards.refresh",
    "knn.bruteforce", "fusion.rrf", "shards.build", "embed.corpus",
    "dml.apply", "dml.compact", "span_dedup.remove", "prep.annotate",
    "dedup.simhash", "lm.train", "lm.score",
]
SPARK_KEYS = [
    "jobs", "tasks", "failed_tasks", "executor_run_ms",
    "shuffle_write_bytes", "python_run_ms", "python_bytes_sent",
    "python_bytes_returned",
]
SPAN_SPARK_KEYS = ["jobs", "executor_run_ms", "python_run_ms"]
_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


class Recorder:
    """In-memory span store. With ``enabled=False`` every method is a
    no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.spark = None  # set once the session starts
        self.enabled = enabled
        self.active = False
        self.spans: List[dict] = []
        self.generation = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: List[dict] = []
        self._saved: List[tuple] = []

    # ---- spans -----------------------------------------------------

    def _stack(self) -> List[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self.active):
            yield None
            return
        stack = self._stack()
        # a span opened on a library thread hangs off the innermost
        # span of the load-generating thread, which is waiting on it
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            s = {
                "id": sid, "name": name,
                "parent": parent["id"] if parent else None,
                "trace": parent["trace"] if parent else sid,
                "thread": threading.get_ident(),
                "start": time.time(), "end": None, **attrs,
            }
            self.spans.append(s)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            s["end"] = time.time()

    # ---- patching --------------------------------------------------

    def _wrap(self, fn, name: str, materialise: bool):
        rec = self

        def traced(*args, **kwargs):
            with rec.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    if materialise and not out.isLocal():
                        out = out.localCheckpoint(eager=True)
                    if name == "shards.build":
                        s["build"] = {k: out[k] for k in
                                      ("postings", "terms", "bytes",
                                       "wall_sec")}
                if name == "shards.refresh":
                    rec.generation = args[0].generation
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        if not self.enabled:
            return
        from bm25_chroma_spark.index.shards import ShardedIndex

        for mod_name, attr, name, mat in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, mat)
            for m in [mod] + [importlib.import_module(i) for i in _IMPORTERS]:
                if getattr(m, attr, None) is orig:
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for attr, name in _METHODS:
            orig = getattr(ShardedIndex, attr)
            self._saved.append((ShardedIndex, attr, orig))
            setattr(ShardedIndex, attr, self._wrap(orig, name, False))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._saved):
            setattr(obj, attr, orig)
        self._saved.clear()

    # ---- results ---------------------------------------------------

    def layer_metrics(self, event_log_dir: Path, out_path: Path) -> Dict:
        """Per-layer metrics from the spans plus the event log; writes
        spans and per-span aggregates to ``out_path``."""
        spans = [s for s in self.spans if s["end"] is not None]
        jobs = _read_event_log(event_log_dir)
        by_id = {s["id"]: s for s in spans}
        main_spans = [s for s in spans if s["thread"] == self._main]
        for s in spans:
            s["spark"] = {k: 0 for k in SPARK_KEYS}
        for job in jobs:
            s = _owner(job, by_id, main_spans)
            if s is None:
                continue
            for k in SPARK_KEYS:
                s["spark"][k] += job[k]
        children = defaultdict(list)
        for s in spans:
            if s["parent"] in by_id:
                children[s["parent"]].append(s)

        def subtree_jobs(s) -> int:
            return s["spark"]["jobs"] + sum(
                subtree_jobs(c) for c in children[s["id"]]
            )

        for s in spans:
            s["dur_ms"] = 1000.0 * (s["end"] - s["start"])
            s["self_ms"] = s["dur_ms"] - 1000.0 * _covered(
                s, children[s["id"]]
            )
            s["subtree_jobs"] = subtree_jobs(s)

        per = defaultdict(list)
        for s in spans:
            per[s["name"]].append(s)

        def mean(*names: str, key: str = "dur_ms") -> float:
            xs = [s[key] for n in names for s in per[n]]
            return sum(xs) / len(xs) if xs else 0.0

        reads = [s for n in READ_SPANS for s in per[n]]
        queries = per["retriever.query"]
        builds = per["shards.build"]
        group_ms = [1000.0 * b["build"]["wall_sec"] for b in builds
                    if "build" in b]
        last_build = builds[-1].get("build", {}) if builds else {}
        m = {
            "retriever.query_ms": mean(*READ_SPANS),
            "retriever.self_ms": mean(*READ_SPANS, key="self_ms"),
            "retriever.zero_job_read_frac": (
                sum(1 for s in queries if s["subtree_jobs"] == 0)
                / len(queries) if queries else 0.0
            ),
            "retriever.write_self_ms": mean("retriever.write", key="self_ms"),
            "wand.search_ms": mean("wand.search"),
            "wand.jobs_per_call": mean("wand.search", key="subtree_jobs"),
            "shards.postings_rows_ms": mean("shards.postings_rows"),
            "shards.refresh_ms": mean("shards.refresh"),
            "shards.generation_at_read": (
                sum(s.get("generation", 0) for s in reads) / len(reads)
                if reads else 0.0
            ),
            "knn.leg_ms": mean("knn.bruteforce"),
            "knn.jobs_per_call": mean("knn.bruteforce", key="subtree_jobs"),
            "fusion.rrf_ms": mean("fusion.rrf"),
            "shards.build_ms": mean("shards.build"),
            "shards.group_pass_ms": (
                sum(group_ms) / len(group_ms) if group_ms else 0.0
            ),
            "shards.postings": float(last_build.get("postings", 0)),
            "shards.terms": float(last_build.get("terms", 0)),
            "shards.bytes": float(last_build.get("bytes", 0)),
            "embed.ms": mean("embed.corpus"),
            "dml.apply_ms": mean("dml.apply"),
            "dml.compact_ms": mean("dml.compact"),
            "dml.compactions": float(len(per["dml.compact"])),
            "span_dedup.ms": mean("span_dedup.remove"),
            "prep.annotate_ms": mean("prep.annotate"),
            "dedup.simhash_ms": mean("dedup.simhash"),
            "lm.train_ms": mean("lm.train"),
            "lm.score_ms": mean("lm.score"),
        }
        # the partials (tokenize) pass is the part of a build outside
        # its bucket-group jobs
        m["shards.tokenize_pass_ms"] = max(
            m["shards.build_ms"] - m["shards.group_pass_ms"], 0.0
        )
        for k in SPARK_KEYS:
            m[f"spark.{k}"] = float(sum(s["spark"][k] for s in spans))
        for name in SPAN_NAMES:
            for k in SPAN_SPARK_KEYS:
                m[f"spark.{name}.{k}"] = float(
                    sum(s["spark"][k] for s in per[name])
                )
        out_path.parent.mkdir(parents=True, exist_ok=True)
        out_path.write_text(json.dumps({
            "spans": spans,
            "per_span": {
                n: {"calls": len(ss),
                    "dur_ms": sum(s["dur_ms"] for s in ss),
                    "self_ms": sum(s["self_ms"] for s in ss),
                    **{k: sum(s["spark"][k] for s in ss)
                       for k in SPARK_KEYS}}
                for n, ss in sorted(per.items())
            },
            "jobs_unattributed": sum(
                1 for j in jobs if _owner(j, by_id, main_spans) is None
            ),
        }, indent=1, default=str))
        return m


def _covered(parent: dict, kids: List[dict]) -> float:
    """Seconds of the parent's interval covered by the union of its
    children's intervals (children on sibling threads may overlap)."""
    ivs = sorted(
        (max(k["start"], parent["start"]), min(k["end"], parent["end"]))
        for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _owner(job: dict, by_id: Dict[int, dict], main_spans: List[dict]
           ) -> Optional[dict]:
    """The span whose job group the job carries. A job without one came
    from a library thread no span covers; it works for the innermost
    span the load-generating thread had open when it was submitted."""
    group = job["group"] or ""
    if group.startswith("pb") and group[2:].isdigit():
        return by_id.get(int(group[2:]))
    t = job["submit"] / 1000.0
    open_at = [s for s in main_spans if s["start"] <= t <= s["end"]]
    return max(open_at, key=lambda s: s["start"]) if open_at else None


def _read_event_log(event_log_dir: Path) -> List[dict]:
    """-> one dict per job: group, submission time (ms), and the sums
    of its completed stages' metrics and task counts."""
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    stages: Dict[int, dict] = {}
    failed: Dict[int, int] = defaultdict(int)
    for path in sorted(event_log_dir.iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = {"tasks": info.get("Number of Tasks", 0)}
                    for acc in info.get("Accumulables", []):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key:
                            st[key] = st.get(key, 0) + int(
                                float(acc.get("Value") or 0))
                    stages[info["Stage ID"]] = st
                elif kind == "SparkListenerTaskEnd":
                    reason = ev.get("Task End Reason", {}).get("Reason")
                    if reason != "Success":
                        failed[ev["Stage ID"]] += 1
    out = []
    for jid, job in sorted(jobs.items()):
        row = {"group": job["group"], "submit": job["submit"], "jobs": 1}
        for k in SPARK_KEYS[1:]:
            row[k] = 0
        for sid, owner in stage_job.items():
            if owner != jid:
                continue
            st = stages.get(sid, {})
            for k in SPARK_KEYS[1:]:
                row[k] += st.get(k, 0)
            row["failed_tasks"] += failed.get(sid, 0)
        out.append(row)
    return out
