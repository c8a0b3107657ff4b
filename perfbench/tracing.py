"""Spans around the benchmark's calls into each layer, and Spark's own stage
metrics attributed to them.

Spans (name, start, end, parent, iteration) are kept in memory and written
out when the run ends. In a traced run Spark's event log is on; after the
session stops, every stage is attributed to the innermost layer span that
contains its submission time. That is sound here because one client issues
jobs back to back, and because the helper threads ``execute()`` starts for
pass 2 submit their jobs inside the ``runner.execute`` span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

LAYER_SPANS = [
    "drift.baseline",
    "runner.execute",
    "runner.clean",
    "tableio.bucketize",
    "tableio.run_killed",
    "tableio.run_resume",
    "dedup.minhash",
    "dedup.simhash",
    "dedup.ngram",
    "similarity.emb_lsh",
    "similarity.emb_exact",
]
SPAN_METRICS = [
    ("shuffle_write_bytes", "B"),
    ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
    ("core_util", "ratio"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration = 0

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def read_event_log(log_dir: str) -> list[dict]:
    """Stages of a finished application: submission time (epoch s) and the
    metrics of each of its tasks."""
    stages: dict[tuple, dict] = {}
    files = sorted(
        os.path.join(r, n) for r, _, names in os.walk(log_dir) for n in names
        if not n.startswith(".")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageSubmitted"' not in line and (
                    '"SparkListenerTaskEnd"' not in line
                ):
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages.setdefault(key, {"tasks": []})["submitted"] = (
                        info.get("Submission Time", 0) / 1000.0
                    )
                elif ev["Event"] == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    stages.setdefault(key, {"tasks": []})["tasks"].append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "read": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "write": wr.get("Shuffle Bytes Written", 0),
                    })
    return [s for s in stages.values() if "submitted" in s]


def attribute(spans: list[dict], stages: list[dict], cores: int) -> dict:
    """Per layer span name: Spark stage metrics per span instance.

    Measured iterations (id >= 1) are used where the span ran in them; a
    span that runs only in set-up (``drift.baseline``) uses its set-up
    instances."""
    layer = [s for s in spans if s["name"] in LAYER_SPANS and s["end"]]
    owner: dict[int, list[dict]] = {s["id"]: [] for s in layer}
    for st in stages:
        t = st["submitted"]
        inside = [s for s in layer if s["start"] <= t <= s["end"]]
        if inside:
            innermost = max(inside, key=lambda s: s["start"])
            owner[innermost["id"]].append(st)
    out: dict[str, dict] = {}
    for name in LAYER_SPANS:
        inst = [s for s in layer if s["name"] == name]
        measured = [s for s in inst if s["iteration"] >= 1]
        inst = measured or inst
        if not inst:
            continue
        tasks = [t for s in inst for st in owner[s["id"]] for t in st["tasks"]]
        n = len(inst)
        wall = sum(s["end"] - s["start"] for s in inst)
        runs = [t["run_s"] for t in tasks]
        med = statistics.median(runs) if runs else 0.0
        out[name] = {
            "shuffle_write_bytes": sum(t["write"] for t in tasks) / n,
            "shuffle_read_bytes": sum(t["read"] for t in tasks) / n,
            "spill_bytes": sum(t["spill"] for t in tasks) / n,
            "gc_s": sum(t["gc_s"] for t in tasks) / n,
            "task_skew": (max(runs) / med) if med > 0 else 0.0,
            "core_util": sum(runs) / (wall * cores) if wall > 0 else 0.0,
        }
    return out
