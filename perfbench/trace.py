"""Layer spans and Spark event-log accounting for the traced run.

A span wraps one call into a layer's public function and forces that
layer's output to materialize inside it, so each span covers one layer.
While a span is open, every Spark job it starts carries the span's tag as
a local property; after the session stops, the event log Spark wrote is
read back and each task's metrics are charged to the tag of its stage.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

TAG = "perfbench.span"

LAYERS = (
    "text", "kbbuild", "canonicalize", "mentions", "retrieval", "context",
    "inference", "ensemble", "triples", "dedup", "io",
)
# per-layer metrics: wall_s and rows_out from the spans, the rest from the
# event log
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("rows_out", "count", "higher"),
    ("cpu_s", "s", "lower"),
    ("python_s", "s", "lower"),
    ("arrow_bytes", "bytes", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("gc_s", "s", "lower"),
    ("task_skew", "ratio", "lower"),
)
# the pipeline's stage tables
STAGES = (
    "extracted", "sentences", "kb_sentences", "canonical", "mentions",
    "retrievals", "retrievals2", "ensembled", "triples",
)
EXTRA_METRICS = (
    ("retrieval.pairs_scored_per_result", "ratio", "lower"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("inference.tokens", "count", "higher"),
    ("io.bytes_written", "bytes", "lower"),
    ("io.files_written", "count", "lower"),
    *(
        (f"io.{m}.{stage}", u, "lower")
        for stage in STAGES
        for m, u in (("bytes_written", "bytes"), ("files_written", "count"))
    ),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_spec() -> list[dict]:
    """Every per-layer metric the traced run prints, with unit and direction."""
    spec = [
        {"name": f"{layer}.{m}", "unit": u, "better": b}
        for layer in LAYERS
        for m, u, b in LAYER_METRICS
    ]
    spec += [{"name": n, "unit": u, "better": b} for n, u, b in EXTRA_METRICS]
    return spec


class Tracer:
    """Records layer spans; a disabled tracer is a no-op."""

    def __init__(self, spark, enabled: bool, name: str = ""):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.name = name
        self.iteration = 0
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def tag(self, iteration: int, layer: str) -> str:
        """The Spark local-property value of a span; keys the event log."""
        return f"{self.name}/{iteration}:{layer}"

    @contextmanager
    def span(self, layer: str):
        """Open a span for `layer`; the caller may add to rec["rows"].

        Spans nest: jobs started inside are charged to the innermost span,
        and rec["self_s"] is the span's time minus its child spans'."""
        if not self.enabled:
            yield {}
            return
        rec = {"iteration": self.iteration, "layer": layer, "rows": 0, "child_s": 0.0}
        prev = self.sc.getLocalProperty(TAG)
        self.sc.setLocalProperty(TAG, self.tag(self.iteration, layer))
        self._open.append(rec)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["self_s"] = rec["wall_s"] - rec["child_s"]
            self._open.pop()
            if self._open:
                self._open[-1]["child_s"] += rec["wall_s"]
            self.sc.setLocalProperty(TAG, prev)
            self.spans.append(rec)

    def call(self, layer: str, fn, *args, **kwargs):
        """fn(*args, **kwargs) in a span of `layer`, its DataFrame result (or
        tuple of them) materialized inside the span. Untraced: a plain call
        whose result stays lazy."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer) as rec:
            out = fn(*args, **kwargs)
            many = isinstance(out, tuple)
            dfs = [self.materialize(d, rec) for d in (out if many else (out,))]
        return tuple(dfs) if many else dfs[0]

    def materialize(self, df, rec: dict | None = None):
        """Compute `df` now and count its rows into span `rec` (default: the
        innermost open span)."""
        df = df.localCheckpoint(eager=True)
        (rec if rec is not None else self._open[-1])["rows"] += df.count()
        return df


@contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace `module.name` with wrapper(original)."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


# --- event log ----------------------------------------------------------------

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")
_SCORE_AGG = re.compile(r"(?<![a-z_])sum\(contrib")


def read_event_log(log_dir: str) -> dict:
    """Charge every task in the log to its stage's span tag.

    Returns tag -> totals (cpu_s, python_s, arrow_bytes, shuffle_bytes,
    spill_bytes, gc_s, task times per stage) and the plan row counts the
    extras need (scored_pairs, verified_rows, candidate_rows)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_tag: dict[int, str] = {}
    exec_tag: dict[int, str] = {}
    acc_type: dict[int, str] = {}
    acc_total: dict[int, float] = {}
    plans: dict[int, list[dict]] = {}
    tags: dict[str, dict] = {}

    def bucket(tag: str) -> dict:
        return tags.setdefault(tag, {
            "cpu_s": 0.0, "python_s": 0.0, "arrow_bytes": 0.0,
            "shuffle_bytes": 0.0, "spill_bytes": 0.0, "gc_s": 0.0,
            "task_ms": {},
        })

    def note_plan(eid: int, plan: dict) -> None:
        plans.setdefault(eid, []).append(plan)
        todo = [plan]
        while todo:
            node = todo.pop()
            for m in node.get("metrics", ()):
                acc_type[m["accumulatorId"]] = m["metricType"]
            todo.extend(node.get("children", ()))

    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerStageSubmitted":
                tag = (e.get("Properties") or {}).get(TAG)
                if tag:
                    stage_tag[e["Stage Info"]["Stage ID"]] = tag
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get(TAG) and "spark.sql.execution.id" in props:
                    exec_tag[int(props["spark.sql.execution.id"])] = props[TAG]
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                note_plan(e["executionId"], e["sparkPlanInfo"])
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if tag is None or tm is None:
                    continue
                b = bucket(tag)
                b["cpu_s"] += (tm["Executor CPU Time"] + tm["Executor Deserialize CPU Time"]) / 1e9
                b["gc_s"] += tm["JVM GC Time"] / 1e3
                b["spill_bytes"] += tm["Disk Bytes Spilled"]
                b["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                b["task_ms"].setdefault(e["Stage ID"], []).append(tm["Executor Run Time"])
                for acc in e["Task Info"].get("Accumulables", ()):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if not isinstance(upd, (int, float)) or isinstance(upd, bool):
                        try:
                            upd = float(upd)
                        except (TypeError, ValueError):
                            continue
                    acc_total[acc["ID"]] = acc_total.get(acc["ID"], 0.0) + upd
                    if name == "time to run Python workers":
                        scale = 1e9 if acc_type.get(acc["ID"]) == "nsTiming" else 1e3
                        b["python_s"] += upd / scale
                    elif name in ("data sent to Python workers",
                                  "data returned from Python workers"):
                        b["arrow_bytes"] += upd

    for eid, plan_list in plans.items():
        tag = exec_tag.get(eid)
        if tag is None:
            continue
        b = bucket(tag)
        found = {"scored_pairs": set(), "verified_rows": set(), "candidate_rows": set()}
        for plan in plan_list:
            _plan_rows(plan, found)
        for key, ids in found.items():
            b[key] = b.get(key, 0.0) + sum(acc_total.get(i, 0.0) for i in ids)
    return tags


_ROW_METRICS = ("number of output rows", "shuffle records written")


def _rows_acc(node: dict) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] in _ROW_METRICS:
            return m["accumulatorId"]
    return None


def _plan_rows(node: dict, found: dict) -> None:
    """Collect row accumulators: the BM25 score aggregate's output, and the
    n-gram verify join (its condition intersects the shingle arrays) with
    the candidate pairs flowing into it from the left."""
    name = node["nodeName"]
    text = node.get("simpleString", "")
    if "Aggregate" in name and _SCORE_AGG.search(text):
        acc = _rows_acc(node)
        if acc is not None:
            found["scored_pairs"].add(acc)
    if name in _JOINS and "array_intersect" in text and node.get("children"):
        out, into = _rows_acc(node), _first_rows_acc(node["children"][0])
        if out is not None and into is not None:
            found["verified_rows"].add(out)
            found["candidate_rows"].add(into)
    for child in node.get("children", ()):
        _plan_rows(child, found)


def _first_rows_acc(node: dict) -> int | None:
    """Row accumulator of `node` or, through single-child nodes, the first
    descendant that counts rows."""
    while True:
        acc = _rows_acc(node)
        if acc is not None:
            return acc
        kids = node.get("children", ())
        if len(kids) != 1:
            return None
        node = kids[0]
