"""Per-layer metrics read from Spark's status store after a traced run.

Spark already measures every physical plan node (SQL metrics) and every
stage (executor run, CPU and GC time); both stores stay readable with
``spark.ui.enabled=false``. This module reads the executions, jobs and
stages a run started, gives each plan node to the package layer it comes
from, and sums the node metrics per layer. Nothing here runs a Spark job.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_STAGE_OF_MAX = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_SCAN_COLUMNS = re.compile(r"^FileScan \w+ \[([^\]]*)\]")

# (node metric name) -> layer metric, per node role
_SESSIONIZE = {"time to run Python workers": "sessionize.py_run_s"}
_YEARFIX = {"time to run Python workers": "yearfix.py_run_s"}
_PARSE = {
    "time to run Python workers": "parse.py_run_s",
    "time to initialize Python workers": "parse.py_init_s",
    "data sent to Python workers": "parse.arrow_in_bytes",
    "data returned from Python workers": "parse.arrow_out_bytes",
    "number of output rows": "parse.rows_out",
}
_SCAN = {"scan time": "scan.time_s", "size of files read": "scan.bytes"}
_ENRICH = {"time to collect": "enrich.broadcast_collect_s", "time to build": "enrich.broadcast_build_s"}
_SESSIONIZE_EXCHANGE = {"shuffle bytes written": "sessionize.shuffle_bytes",
                        "fetch wait time": "sessionize.fetch_wait_s"}
_MERGE_EXCHANGE = {"shuffle bytes written": "merge.shuffle_bytes"}
_ROUTE_EXCHANGE = {"shuffle bytes written": "route.shuffle_bytes"}
_MERGE_SORT = {"spill size": "merge.spill_bytes"}
_ROUTE_WRITE = {
    "task commit time": "route.task_commit_s",
    "job commit time": "route.job_commit_s",
    "number of written files": "route.files",
    "written output": "route.bytes",
}

def scan_columns(desc: str) -> set[str]:
    """Columns a file scan reads. Scans are told apart by their columns:
    Spark cuts the location in a scan's description to 100 characters."""
    found = _SCAN_COLUMNS.match(desc)
    return {c.split("#")[0] for c in found.group(1).split(",")} if found else set()


def is_docs_scan(desc: str) -> bool:
    cols = scan_columns(desc)
    return {"doc_id", "tokens", "source"} <= cols and "msg_no" not in cols


def metric_value(text: str) -> float:
    """A formatted SQL metric as seconds, bytes or a count. Multi-task
    metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    number, _, unit = text.split(" (", 1)[0].strip().partition(" ")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)


@dataclass(frozen=True)
class Mark:
    executions: int
    last_job: int


class StatusReader:
    """Reads the SQL and core status stores through Jackson, one JSON
    document per call, so a read costs a few py4j round trips."""

    def __init__(self, spark):
        jvm = spark._jvm
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def mark(self) -> Mark:
        # the stores are filled by listeners on an asynchronous bus: let
        # them take every event posted so far before reading
        self._bus.waitUntilEmpty(30_000)
        return Mark(int(self._sql.executionsCount()), max((j["jobId"] for j in self._jobs()), default=-1))

    def read(self, since: Mark, until: Mark) -> dict[str, float]:
        """Per-layer metrics of the executions and jobs between two marks."""
        out: dict[str, float] = defaultdict(float)
        execs = self._json(self._sql.executionsList(since.executions, until.executions - since.executions))
        sort_stages = set()
        for ex in execs:
            graph = self._json(self._sql.planGraph(ex["executionId"]))
            self._node_metrics(graph, ex.get("metricValues") or {}, out, sort_stages)
            if ex["rootExecutionId"] == ex["executionId"] and ex.get("completionTime"):
                layer = self._action_layer(ex, graph)
                if layer:
                    out[layer] += (ex["completionTime"] - ex["submissionTime"]) / 1000.0
        jobs = [j for j in self._jobs() if since.last_job < j["jobId"] <= until.last_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        empty = self._gateway.new_array(self._jvm.double, 0)
        stages = [s for s in self._json(self._core.stageList(None, False, False, empty, None))
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        out["pipeline.jobs"] = len(jobs)
        out["pipeline.stages"] = len(stages)
        out["pipeline.tasks"] = sum(s["numCompleteTasks"] for s in stages)
        out["exec.run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        out["exec.cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
        out["exec.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
        # the run time of the stages that range-sort, not the Sort node's
        # "sort time": that counts whole milliseconds per task, and reads 0
        # when each task sorts a few thousand rows
        out["merge.sort_s"] = sum(s["executorRunTime"] for s in stages
                                  if (s["stageId"], s["attemptId"]) in sort_stages) / 1e3
        out["merge.partition_skew"] = max((self._skew(*st) for st in sort_stages), default=1.0)
        return dict(out)

    def _skew(self, stage_id: int, attempt: int) -> float:
        """Max over median of the records each task of a sort stage read."""
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._json(self._core.taskSummary(stage_id, attempt, q))
        if not summary:
            return 1.0
        med, top = summary["shuffleReadMetrics"]["readRecords"]
        return top / med if med else 1.0

    def _action_layer(self, ex: dict, graph: dict) -> str | None:
        """The layer of a whole action, by its call site or its output."""
        desc = ex.get("description") or ""
        if "/functions/parse.py:" in desc:
            return "parse.vote_s"
        if "/operators/merge.py:" in desc:
            return "merge.source_order_s"
        if "/plans/pipeline.py:" in desc:
            return "pipeline.lineage_s"
        names = [(n["name"], n["desc"]) for n in graph["allNodes"]]
        writes = [d for n, d in names if n.startswith("Execute InsertIntoHadoopFsRelationCommand")]
        if any("/routed," in d for d in writes):
            return "route.write_s"
        if any("/sink_counts," in d for d in writes):
            return "route.count_s"
        if any("/manifest," in d for d in writes):
            return "pipeline.lineage_s"
        if not writes and any("sink_key" in scan_columns(d) for _n, d in names):
            return "route.count_s"
        return None

    def _node_metrics(self, graph: dict, values: dict, out: dict, sort_stages: set) -> None:
        nodes = {n["id"]: n for n in graph["allNodes"]}
        parents: dict[int, list[int]] = defaultdict(list)
        children: dict[int, list[int]] = defaultdict(list)
        for e in graph["edges"]:
            parents[e["fromId"]].append(e["toId"])
            children[e["toId"]].append(e["fromId"])
        seen_acc: set[int] = set()

        def add(node, table):
            for m in node["metrics"]:
                key, acc = table.get(m["name"]), m["accumulatorId"]
                if key and acc not in seen_acc and str(acc) in values:
                    seen_acc.add(acc)
                    out[key] += metric_value(values[str(acc)])

        def rows(node_id) -> float:
            """Output rows of the nearest node at or below ``node_id`` that counts them."""
            todo = [node_id]
            while todo:
                node = nodes[todo.pop()]
                for m in node["metrics"]:
                    if m["name"] == "number of output rows" and str(m["accumulatorId"]) in values:
                        return metric_value(values[str(m["accumulatorId"])])
                todo.extend(children.get(node["id"], ()))
            return 0.0

        def reaches(node_id, step, pred) -> bool:
            todo, seen = [node_id], set()
            while todo:
                nid = todo.pop()
                if nid in seen:
                    continue
                seen.add(nid)
                if pred(nodes[nid]):
                    return True
                todo.extend(step.get(nid, ()))
            return False

        for node in nodes.values():
            name, desc = node["name"].strip(), node["desc"]
            if name == "MapInPandas":
                if "_sessionize_batches(" in desc:
                    add(node, _SESSIONIZE)
                elif "msg_no#" in desc.split(")#", 1)[0]:  # takes messages: the year fix
                    add(node, _YEARFIX)
                else:
                    add(node, _PARSE)
            elif name.startswith("Scan parquet") and is_docs_scan(desc):
                add(node, _SCAN)
            elif name == "Filter" and re.search(r"\bts#\d+ [<>]=", desc):
                out["filters.rows_out"] += rows(node["id"])
                out["filters.rows_in"] += sum(rows(c) for c in children.get(node["id"], ()))
            elif name == "BroadcastExchange" and reaches(
                node["id"], children, lambda n: "facility" in scan_columns(n["desc"])
            ):
                add(node, _ENRICH)
            elif name == "Exchange":
                if desc.startswith("Exchange rangepartitioning(ts#"):
                    add(node, _MERGE_EXCHANGE)
                elif desc.startswith("Exchange hashpartitioning(sink_key#") and "REPARTITION_BY_NUM" in desc:
                    add(node, _ROUTE_EXCHANGE)
                elif desc.startswith("Exchange hashpartitioning(doc_id#") and reaches(
                    node["id"], parents,
                    lambda n: n["name"] == "MapInPandas" and "_sessionize_batches(" in n["desc"],
                ):
                    add(node, _SESSIONIZE_EXCHANGE)
            elif name == "Sort" and desc.startswith("Sort [ts#"):
                add(node, _MERGE_SORT)
                for m in node["metrics"]:
                    found = _STAGE_OF_MAX.search(values.get(str(m["accumulatorId"]), ""))
                    if m["name"] == "sort time" and found:
                        sort_stages.add((int(found.group(1)), int(found.group(2))))
            elif name.startswith("Execute InsertIntoHadoopFsRelationCommand") and "/routed," in desc:
                add(node, _ROUTE_WRITE)
