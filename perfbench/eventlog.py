"""Offline parser for Spark's JSON event log (``spark.eventLog.enabled``,
``compress=false``; a v2 log is a directory of ``events_<n>_<app>``).

Every Spark job carries the description the benchmark set around the
layer call that started it: ``pb|<phase>|<index>|<layer>``. Task-side SQL
metric updates are attributed to a description through stage -> job;
driver-side updates through their SQL execution. Plan nodes are labelled
once from the plan trees (the first plan and every adaptive re-plan), so
a metric is read as (label, metric name) summed over matching
descriptions.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _labels(node: dict) -> set[str]:
    """Labels of one plan node, from its name, its plan string and, for a
    few shapes, its subtree."""
    name, simple = node["nodeName"], node["simpleString"]
    out = set()
    if name == "ArrowEvalPython":
        out.add("pip.eval")
    elif name == "FlatMapGroupsInPandas":
        out.add("index.build")
    elif name in ("MapInPandas", "PythonMapInArrow", "MapInArrow"):
        out.add("images.verify")
    elif name.startswith("Scan "):
        out.add("scan")
    elif name == "Sort":
        out.add("sort")
    elif name == "BroadcastNestedLoopJoin":
        out.add("join.candidates")
    elif name == "BroadcastHashJoin" and "Inner" in simple:
        out.add("join.candidates")
    if name == "Filter" and _first_real_child(node, "ArrowEvalPython"):
        out.add("pip.hits")
    if name == "BroadcastExchange" and _subtree_has(node, "FlatMapGroupsInPandas"):
        out.add("index.broadcast")
    if name == "HashAggregate" and "tile_x" in simple:
        out.add("tiles.agg")
    if name == "Exchange":
        out.add("exchange")
        if "tile_x" in simple:
            out.add("tiles.exchange")
    return out


def _first_real_child(node: dict, want: str) -> bool:
    for ch in node["children"]:
        while ch["nodeName"] == "InputAdapter" or ch["nodeName"].startswith("WholeStageCodegen"):
            if not ch["children"]:
                break
            ch = ch["children"][0]
        if ch["nodeName"] == want:
            return True
    return False


def _subtree_has(node: dict, want: str) -> bool:
    return any(ch["nodeName"] == want or _subtree_has(ch, want) for ch in node["children"])


class EventLog:
    def __init__(self, log_dir: str):
        files = glob.glob(os.path.join(log_dir, "*", "events_*")) or glob.glob(
            os.path.join(log_dir, "events_*")
        )
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        # events_<n>_<app>: order by the part number
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        self.acc: dict[int, tuple[frozenset, str, str]] = {}  # id -> (labels, metric, type)
        self.exec_desc: dict[int, str] = {}
        self.job_desc: dict[int, str] = {}
        self.job_span: dict[int, list[int]] = {}
        self.stage_job: dict[int, int] = {}
        self.values: dict[tuple[str, int], float] = defaultdict(float)
        self.tasks: list[dict] = []
        pending_driver: list[tuple[int, int, float]] = []
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"].rsplit(".", 1)[-1]
                    if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                        if kind == "SparkListenerSQLExecutionStart":
                            self.exec_desc[ev["executionId"]] = ev.get("description") or ""
                        self._walk(ev["sparkPlanInfo"])
                    elif kind == "SparkListenerDriverAccumUpdates":
                        for acc_id, v in ev["accumUpdates"]:
                            pending_driver.append((ev["executionId"], acc_id, float(v)))
                    elif kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        self.job_desc[jid] = ev.get("Properties", {}).get("spark.job.description") or ""
                        self.job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                        for sid in ev["Stage IDs"]:
                            self.stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        self.job_span[ev["Job ID"]][1] = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        self._task(ev)
        for exec_id, acc_id, v in pending_driver:
            self.values[(self.exec_desc.get(exec_id, ""), acc_id)] += v

    def _walk(self, node: dict) -> None:
        labels = frozenset(_labels(node))
        for m in node["metrics"]:
            self.acc[m["accumulatorId"]] = (labels, m["name"], m["metricType"])
        for ch in node["children"]:
            self._walk(ch)

    def _task(self, ev: dict) -> None:
        info = ev["Task Info"]
        if info.get("Failed") or info.get("Killed"):
            return
        desc = self.job_desc.get(self.stage_job.get(ev["Stage ID"], -1), "")
        labels: set[str] = set()
        for a in info.get("Accumulables", []):
            if a.get("Metadata") != "sql":
                continue
            key, v = (desc, a["ID"]), float(a["Update"])
            meta = self.acc.get(a["ID"])
            if meta:
                labels |= meta[0]
            if meta and "peak" in meta[1]:  # a peak is a max, not a sum
                self.values[key] = max(self.values[key], v)
            else:
                self.values[key] += v
        tm = ev.get("Task Metrics") or {}
        self.tasks.append(
            {
                "desc": desc,
                "stage": ev["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "shuffle_write": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "labels": labels,
            }
        )

    # ------------------------------------------------------------ queries ---

    @staticmethod
    def _match(desc: str, phase: str, layer: str | None) -> bool:
        parts = desc.split("|")
        if len(parts) != 4 or parts[0] != "pb" or parts[1] != phase:
            return False
        return layer is None or parts[3].startswith(layer)

    def metric(self, label: str, name: str, phase: str, layer: str | None = None, agg=sum) -> float:
        """Aggregate of SQL metric ``name`` over nodes labelled ``label``,
        for jobs of ``phase`` (and a layer name starting with ``layer``);
        times in seconds."""
        vals = []
        for (desc, acc_id), v in self.values.items():
            meta = self.acc.get(acc_id)
            if meta and label in meta[0] and meta[1] == name and self._match(desc, phase, layer):
                vals.append(v * _TIME_SCALE.get(meta[2], 1.0))
        return float(agg(vals)) if vals else 0.0

    def jobs(self, phase: str, layer: str | None = None) -> list[int]:
        return [j for j, d in self.job_desc.items() if self._match(d, phase, layer)]

    def job_seconds(self, phase: str, layer: str | None = None) -> float:
        return sum((self.job_span[j][1] - self.job_span[j][0]) / 1000.0 for j in self.jobs(phase, layer))

    def stages(self, phase: str) -> set[int]:
        """Stages of ``phase`` that ran tasks (a reused shuffle's stage is
        skipped and runs none)."""
        return {t["stage"] for t in self.task_rows(phase)}

    def task_rows(self, phase: str, layer: str | None = None) -> list[dict]:
        return [t for t in self.tasks if self._match(t["desc"], phase, layer)]

    def task_skew(self, phase: str) -> float:
        """Per job index of ``phase``: max / median task time of its
        heaviest stage (most summed task time); median over indices."""
        by_index: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))
        for t in self.task_rows(phase):
            by_index[t["desc"].split("|")[2]][t["stage"]].append(t["dur_ms"])
        skews = []
        for stages in by_index.values():
            durs = max(stages.values(), key=sum)
            med = statistics.median(durs)
            if len(durs) >= 2 and med > 0:
                skews.append(max(durs) / med)
        return statistics.median(skews) if skews else 1.0
