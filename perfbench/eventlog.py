"""Read the per-operator SQL metrics Spark records in its event log.

Only an uncompressed log is read (``spark.eventLog.compress=false``).
Every plan Spark posts for an execution (the initial one and each
adaptive re-plan) names its operators' metric accumulators; task-end
events carry each task's update and driver-side updates carry the rest
(file listing sizes, write statistics).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
DRIVER_ACCUMS = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)
PY_RUN = "time to run Python workers"


class EventLog:
    def __init__(self, log_dir: str):
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        ) or sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        # accumulator id -> (execution id, metric, type, under a Python operator)
        self.accums: dict[int, tuple] = {}
        self.descriptions: dict[int, str] = {}
        # (stage id, task duration ms, {accumulator id: update})
        self.tasks: list[tuple[int, int, dict]] = []
        self.driver_updates: dict[int, float] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind in (SQL_START, SQL_ADAPTIVE):
            ex = e["executionId"]
            if kind == SQL_START:
                self.descriptions[ex] = e.get("description", "")
            self._walk(ex, e["sparkPlanInfo"], False)
        elif kind == DRIVER_ACCUMS:
            for acc_id, value in e["accumUpdates"]:
                self.driver_updates[acc_id] = (
                    self.driver_updates.get(acc_id, 0) + float(value)
                )
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                return
            updates = {}
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql":
                    try:
                        updates[a["ID"]] = float(a["Update"])
                    except (TypeError, ValueError):
                        continue
            self.tasks.append(
                (e["Stage ID"], info["Finish Time"] - info["Launch Time"], updates)
            )

    def _walk(self, ex: int, node: dict, under_python: bool) -> None:
        names = {m["name"] for m in node.get("metrics", ())}
        for m in node.get("metrics", ()):
            self.accums[m["accumulatorId"]] = (
                ex, m["name"], m["metricType"], under_python)
        below = under_python or PY_RUN in names
        for child in node.get("children", ()):
            self._walk(ex, child, below)

    # -- queries -----------------------------------------------------------

    def _ids(self, metric: str, executions=None,
             under_python: bool | None = None) -> set:
        return {
            i for i, (ex, name, _t, up) in self.accums.items()
            if name == metric
            and (executions is None or ex in executions)
            and (under_python is None or up == under_python)
        }

    def total(self, metric: str, **sel) -> float:
        """Sum of a metric over tasks and driver updates. Timings come
        back in seconds, sizes in MB, counts as counts."""
        ids = self._ids(metric, **sel)
        raw = sum(v for _s, _d, u in self.tasks for i, v in u.items() if i in ids)
        raw += sum(v for i, v in self.driver_updates.items() if i in ids)
        return _scale(self._type_of(ids), raw)

    def per_task(self, metric: str, **sel) -> list[float]:
        """One value per task that reported the metric, in the metric's
        raw unit (ms for timings)."""
        ids = self._ids(metric, **sel)
        out = []
        for _s, _d, u in self.tasks:
            hit = [v for i, v in u.items() if i in ids]
            if hit:
                out.append(sum(hit))
        return out

    def python_stages(self, executions=None) -> list[int]:
        """Stages whose tasks ran a Python operator, in submission order."""
        ids = self._ids(PY_RUN, executions=executions)
        stages = []
        for sid, _d, u in self.tasks:
            if sid not in stages and any(i in ids for i in u):
                stages.append(sid)
        return stages

    def task_skew(self, stages) -> float:
        """Median over ``stages`` of (slowest task / median task)."""
        ratios = []
        for sid in stages:
            durs = [d for s, d, _u in self.tasks if s == sid]
            med = statistics.median(durs) if durs else 0
            if med > 0:
                ratios.append(max(durs) / med)
        return float(statistics.median(ratios)) if ratios else 0.0

    def stage_count(self) -> int:
        return len({sid for sid, _d, _u in self.tasks})

    def executions_described(self, prefix: str) -> dict[str, set]:
        """Execution ids grouped by job description (``prefix`` stripped)."""
        out: dict[str, set] = {}
        for ex, desc in self.descriptions.items():
            if desc.startswith(prefix):
                out.setdefault(desc[len(prefix):], set()).add(ex)
        return out

    def _type_of(self, ids) -> str:
        for i in ids:
            return self.accums[i][2]
        return "sum"


def _scale(mtype: str, raw: float) -> float:
    if mtype == "timing":
        return raw / 1e3
    if mtype == "nsTiming":
        return raw / 1e9
    if mtype == "size":
        return raw / (1 << 20)
    return raw


def spark_layer_metrics(log: EventLog, executions=None) -> dict:
    """The Spark-side layer split shared by every workload: Python worker
    start/init/run, the Arrow boundary, shuffle, scan and write."""
    sel = {"executions": executions}
    init_ms = log.per_task("time to initialize Python workers", **sel)
    return {
        "workerenv.py_start_s": log.total("time to start Python workers", **sel),
        "workerenv.py_init_s": log.total("time to initialize Python workers", **sel),
        "workerenv.py_init_ms_p50": float(statistics.median(init_ms)) if init_ms else 0.0,
        "py_run_s": log.total(PY_RUN, **sel),
        "to_python_mb": log.total("data sent to Python workers", **sel),
        "from_python_mb": log.total("data returned from Python workers", **sel),
        "shuffle_mb": log.total("shuffle bytes written", **sel),
        "shuffle_below_python_mb": log.total(
            "shuffle bytes written", under_python=True, **sel),
        "table_io.scan_s": log.total("scan time", **sel),
        "table_io.scan_mb": log.total("size of files read", **sel),
        "table_io.write_s": log.total("task commit time", **sel)
        + log.total("job commit time", **sel),
        "table_io.write_mb": log.total("written output", **sel),
        "table_io.files_written": log.total("number of written files", **sel),
    }
