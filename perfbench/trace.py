"""Spans and the Spark event-log fold for the traced run.

The traced run drives the engine's own entry points and sets one Spark job
group per layer (named after the engine module doing the work) around each
layer's work, recording a span (name, start, end, parent, run id) around
the same call. After the run, the JSON event log is folded into one row
per layer: task CPU, shuffle bytes written, spill, slowest ÷ median task
of the layer's heaviest stage, and the Python-worker time and bytes of
the Arrow kernels (the JVM↔Python boundary split).

Three splits happen inside one job group:

- A ``StageStore`` commit runs the write, which computes the stage
  (charged to the layer that owns the stage), and a follow-up row count
  per partition plus parquet footer reads (charged to ``snapshots``).
  Commit jobs run under ``<layer>|commit`` and are told apart by the
  driver entry point in the SQL execution's call stack.
- The ``candidates`` commit of the two-channel join computes the exact
  channel (``pem.candidate_join``) and the LSH channel into two cached
  sub-plans. A stage whose SQL operators all lie in a cached sub-plan free
  of the LSH channel's ``band_hash`` column is the exact channel: ``pem``.
- ``dedup.near_dup_clusters`` ends in the connected-components loop, which
  reads its round checkpoints back: a stage of a SQL execution that scans
  a checkpoint (``Scan ExistingRDD``) is charged to ``clustering``.

A layer's wall time is the self time of its spans; the wall time of the
stages split out of a span (their merged run intervals) moves with them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

COMMIT_SUFFIX = "|commit"
_COUNT_ENTRY = "Dataset.collectToPython"
_CC_CHECK_ENTRY = "Dataset.count("
_LSH_MARK = "band_hash"
_CHECKPOINT_SCAN = "Scan ExistingRDD"
_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """In-memory spans; job groups follow the innermost span."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _open(self, name: str, layer: str | None, group: str | None, start: float) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id, "id": len(self.spans), "name": name,
            "layer": layer, "parent": parent["id"] if parent else None,
            "group": group or layer or (parent["group"] if parent else "untraced"),
            "start": start,
        }
        self.spans.append(rec)
        return rec

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A finished span under the current one (work whose start and end
        are seen in two different calls)."""
        self._open(name, layer, None, start)["end"] = end

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, group: str | None = None):
        """Time ``name``; Spark jobs inside run under ``group``, else under
        ``layer``, else under the enclosing span's group."""
        rec = self._open(name, layer, group, time.time())
        self._stack.append(rec)
        self.set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.set_group(self._stack[-1]["group"] if self._stack else "untraced")

    def wall(self, layer: str) -> float:
        """Self time of ``layer``'s spans: each span's duration minus that
        of its direct children that belong to another layer."""
        total = 0.0
        for s in self.spans:
            if s["layer"] != layer:
                continue
            total += s["end"] - s["start"]
            total -= sum(c["end"] - c["start"] for c in self.spans
                         if c["parent"] == s["id"] and c["layer"] not in (None, layer))
        return total

    def top_wall(self, names) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None and s["name"] in names)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _event_name(line: str) -> str:
    head = line[:120]
    i = head.find('"Event":"')
    if i < 0:
        return ""
    j = head.find('"', i + 9)
    return head[i + 9:j].rsplit(".", 1)[-1]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _Plans:
    """SQL metric accumulator -> cached-sub-plan region, and which SQL
    executions scan a checkpoint, from every plan version the log holds."""

    def __init__(self):
        self.region: dict[int, str] = {}
        self.scans_checkpoint: set[int] = set()

    def add(self, exec_id: int, node: dict, region: str = "top") -> None:
        name = node.get("nodeName", "")
        if name.startswith(_CHECKPOINT_SCAN):
            self.scans_checkpoint.add(exec_id)
        for m in node.get("metrics", []):
            self.region[m["accumulatorId"]] = region
        for child in node.get("children", []):
            r = region
            if name.startswith("InMemoryTableScan"):
                r = "lsh" if _LSH_MARK in json.dumps(child) else "exact"
            self.add(exec_id, child, r)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Event log(s) under ``log_dir`` -> {layer: metrics}. Jobs outside any
    layer group are left out."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    stage_time: dict[int, tuple[float, float]] = {}
    exec_entry: dict[int, str] = {}
    tasks: dict[int, list[tuple]] = {}
    stage_accs: dict[int, set] = {}
    plans = _Plans()
    keep = {"SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd",
            "SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = _event_name(line)
                if ev not in keep:
                    continue
                e = json.loads(line)
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    eid = props.get("spark.sql.execution.id")
                    job_exec[jid] = int(eid) if eid is not None else None
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if si.get("Submission Time") and si.get("Completion Time"):
                        stage_time[si["Stage ID"]] = (si["Submission Time"] / 1e3,
                                                      si["Completion Time"] / 1e3)
                elif ev == "SparkListenerSQLExecutionStart":
                    exec_entry[e["executionId"]] = e.get("details", "").split("\n", 1)[0]
                    plans.add(e["executionId"], e.get("sparkPlanInfo") or {})
                elif ev == "SparkListenerSQLAdaptiveExecutionUpdate":
                    plans.add(e["executionId"], e.get("sparkPlanInfo") or {})
                else:
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    accs = ti.get("Accumulables", [])
                    acc = {a.get("Name"): a.get("Update") for a in accs}
                    stage_accs.setdefault(e["Stage ID"], set()).update(a["ID"] for a in accs)
                    sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.setdefault(e["Stage ID"], []).append((
                        ti["Finish Time"] - ti["Launch Time"],
                        tm.get("Executor CPU Time", 0),
                        sw,
                        tm.get("Disk Bytes Spilled", 0),
                        float(acc.get(_PY_RUN) or 0),
                        sum(float(acc.get(k) or 0) for k in _PY_BYTES),
                    ))

    def stage_layer(sid: int, jid: int) -> tuple[str | None, str | None]:
        """(layer, the group's layer when the stage is split out of it)."""
        g = job_group.get(jid) or ""
        if g in ("", "untraced"):
            return None, None
        eid = job_exec.get(jid)
        if g.endswith(COMMIT_SUFFIX):
            g = g[: -len(COMMIT_SUFFIX)]
            if eid is None or _COUNT_ENTRY in exec_entry.get(eid, ""):
                return "snapshots", g
        if g == "blocking":
            regions = {plans.region[a] for a in stage_accs.get(sid, ()) if a in plans.region}
            if regions and regions <= {"exact"}:
                return "pem", g
        if g == "dedup" and eid in plans.scans_checkpoint:
            return "clustering", g
        return g, None

    rows: dict[str, dict] = {}

    def row(layer: str) -> dict:
        return rows.setdefault(layer, {
            "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "py_run_s": 0.0, "py_bytes_mb": 0.0, "_stages": [], "_moved": {},
        })

    cc_checks: set = set()
    for sid, ts in tasks.items():
        jid = stage_job.get(sid)
        layer, split_from = stage_layer(sid, jid) if jid is not None else (None, None)
        if layer is None:
            continue
        r = row(layer)
        r["task_cpu_s"] += sum(t[1] for t in ts) / 1e9
        r["shuffle_write_mb"] += sum(t[2] for t in ts) / 2**20
        r["spill_mb"] += sum(t[3] for t in ts) / 2**20
        # the Python-worker timing metric counts milliseconds
        r["py_run_s"] += sum(t[4] for t in ts) / 1e3
        r["py_bytes_mb"] += sum(t[5] for t in ts) / 2**20
        r["_stages"].append([t[0] for t in ts])
        if split_from and sid in stage_time:
            r["_moved"].setdefault(split_from, []).append(stage_time[sid])
        eid = job_exec.get(jid)
        if layer == "clustering" and _CC_CHECK_ENTRY in exec_entry.get(eid, ""):
            cc_checks.add(eid)
    for layer, r in rows.items():
        # wall time of the stages split out of other layers, by source
        r["moved_in_s"] = {src: _union_s(iv) for src, iv in r.pop("_moved").items()}
        stages = r.pop("_stages")
        heavy = max(stages, key=sum, default=[])
        med = statistics.median(heavy) if heavy else 0
        r["task_skew"] = (max(heavy) / med) if med > 0 else (1.0 if heavy else 0.0)
    if "clustering" in rows:
        rows["clustering"]["convergence_checks"] = len(cc_checks)
    return rows
