"""Per-module numbers from Spark event logs (JSON lines, uncompressed).

Attribution rule: a job belongs to the module of the innermost `graft.<module>.`
frame in the call site of the action that ran it: the SQL execution's `details`
stack for DataFrame actions (whose stages adaptive execution submits from a pool
thread), else the stack of the job's result stage. So `parquet at
TableStore.scala:NN` belongs to `store`, `take at Staging.scala:NN` to `ingest`,
`count at TreeExplode.scala:NN` to `ops`. Frames of the serving harness
(`perfbench.`) belong to `query`: the harness's only actions collect
`graft.query.Queries` results. A job's stages and tasks go with the job; serving
jobs are also grouped by the job group the harness sets (`query.<op>`).
"""

import json

MODULES = ("pipeline", "ingest", "ops", "store", "query")
FIELDS = ("jobs", "tasks", "task_run_s", "gc_s", "task_wait_s", "shuffle_bytes",
          "spill_bytes", "input_bytes", "output_bytes", "tasks_failed")


def module_of(details):
    for frame in (details or "").splitlines():
        frame = frame.strip()
        if frame.startswith("perfbench."):
            return "query"
        if frame.startswith("graft."):
            pkg = frame.split("(")[0].split(".")[1]
            return pkg if pkg[:1].islower() else "suite"
    return "other"


class Summary:
    def __init__(self):
        self.modules = {m: dict.fromkeys(FIELDS, 0) for m in MODULES}
        self.groups = {}  # job group -> {jobs, tasks, records_read, task_wait_ms}
        self.app_start_ms = None

    def add(self, path):
        """Fold one event log in; returns its application start time (epoch ms)."""
        stage_module, stage_submit, stage_group, sql_module = {}, {}, {}, {}
        for line in open(path, encoding="utf-8"):
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                self.app_start_ms = e["Timestamp"]
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_module[str(e["executionId"])] = module_of(e.get("details"))
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                infos = e["Stage Infos"]
                module = sql_module.get(str(props.get("spark.sql.execution.id")))
                if module is None and infos:
                    module = module_of(max(infos, key=lambda si: si["Stage ID"]).get("Details"))
                for si in infos:
                    stage_module.setdefault(si["Stage ID"], module)
                    if group:
                        stage_group[si["Stage ID"]] = group
                self._module(module)["jobs"] += 1
                if group:
                    self._group(group)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stage_submit[si["Stage ID"]] = si.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                m = self._module(stage_module.get(sid, "other"))
                wait_ms = max(0, info["Launch Time"] - (stage_submit.get(sid) or info["Launch Time"]))
                m["tasks"] += 1
                m["tasks_failed"] += 1 if info.get("Failed") or info.get("Killed") else 0
                m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["task_wait_s"] += wait_ms / 1e3
                m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                group = stage_group.get(sid)
                if group:
                    g = self._group(group)
                    g["tasks"] += 1
                    g["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    g["task_wait_ms"] += wait_ms
        return self.app_start_ms

    def _module(self, name):
        # jobs outside the five modules (Spark-internal call sites) are not reported
        return self.modules.get(name) or dict.fromkeys(FIELDS, 0)

    def _group(self, name):
        return self.groups.setdefault(name, {"jobs": 0, "tasks": 0, "records_read": 0,
                                             "task_wait_ms": 0})
