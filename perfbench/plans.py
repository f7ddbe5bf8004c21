"""Executed-plan metrics, read from outside the program.

A ``QueryExecutionListener`` implemented in Python (through the py4j
callback server) receives the ``QueryExecution`` of every finished Spark
query, the program's own actions and its eager construction-time jobs
included.  ``walk`` flattens an executed plan into node rows, stepping
through AQE wrappers (``AdaptiveSparkPlan`` -> query stage -> ``plan()`` ->
children), and ``layer_metrics`` maps those rows to the benchmark's
per-layer names.

Every time metric Spark keeps per node is a SUM OVER TASKS, not wall time:
``python_*_ms`` is worker time summed across tasks (``pythonInitTime`` is
paid once per task, so it can exceed the hop's total), and ``pipelineTime``
includes time a codegen stage spends blocked on an Arrow hop beneath it.
``codegen.exclusive_ms`` therefore subtracts the Python time of the hops
each codegen stage pulls from.
"""

from __future__ import annotations

import statistics
import threading

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "MapInArrow")
# Arrow hops, named by the function whose call put them in the plan
HOP_UDFS = {
    "encode_hop": ("s2_cell_id_from_phash", "s2_cell_id("),
    "stab_hop": ("seg_of", "cell_seg"),
    "refine_hop": ("parity_contains",),
    "token_hop": ("s2_token",),
    "ring_hop": ("s2_all_neighbors",),
}
JOIN_NODES = ("BroadcastNestedLoopJoin", "BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin", "CartesianProduct")
_DESC_FIELDS = 400
_RING_JOIN_KEYS = "[bucket#"


class PlanListener:
    """Collects (func, QueryExecution, duration_ms) of finished queries."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._done: list[tuple] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # -- the Java interface --------------------------------------------
    def onSuccess(self, func_name, qe, duration_ns):
        with self._lock:
            self._done.append((str(func_name), qe, duration_ns / 1e6, None))

    def onFailure(self, func_name, qe, exception):
        with self._lock:
            self._done.append((str(func_name), qe, 0.0, str(exception)))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # ------------------------------------------------------------------
    def drain(self) -> list[dict]:
        """Plans of queries finished since the last drain, as row dicts."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            done, self._done = self._done, []
        return [
            {"func": f, "duration_ms": d, "error": err, "nodes": walk(qe.executedPlan())}
            for f, qe, d, err in done
        ]

    def unregister(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)


def _metrics(plan) -> dict[str, float]:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        mtype = m.metricType()
        if mtype == "nsTiming":
            v /= 1e6  # report every time in ms
        out[kv._1()] = v
    return out


def walk(plan) -> list[dict]:
    """Depth-first node rows: id, parent, node, desc, metrics, stage,
    codegen (nearest WholeStageCodegen ancestor in the same stage) and, for
    shuffle stages, the map-output bytes per reduce partition."""
    rows: list[dict] = []

    def visit(p, parent, stage, codegen):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan(), parent, stage, codegen)
        if cls == "CommandResultExec":
            return visit(p.commandPhysicalPlan(), parent, stage, codegen)
        row = {"id": len(rows), "parent": parent, "node": p.nodeName(), "stage": stage, "codegen": codegen}
        rows.append(row)
        if cls.endswith("QueryStageExec"):
            stage = int(p.id())
            if cls == "ShuffleQueryStageExec":
                stats = p.mapStats()
                if stats.isDefined():
                    row["map_bytes"] = [int(b) for b in stats.get().bytesByPartitionId()]
            row["metrics"] = {}
            row["desc"] = cls
            return visit(p.plan(), row["id"], stage, None)
        row["desc"] = p.simpleString(_DESC_FIELDS)
        row["metrics"] = _metrics(p)
        if cls == "WholeStageCodegenExec":
            codegen = row["id"]
        elif cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            codegen = None
        kids = p.children().iterator()
        while kids.hasNext():
            visit(kids.next(), row["id"], stage, codegen)

    visit(plan, None, None, None)
    return rows


def _hop_kind(row: dict) -> str | None:
    if not row["node"].startswith(PYTHON_NODES):
        return None
    for kind, names in HOP_UDFS.items():
        if any(n in row["desc"] for n in names):
            return kind
    return "other_hop"


def join_arm(nodes: list[dict]) -> str:
    """The pip_join arm visible in an executed plan."""
    descs = " ".join(r["desc"] for r in nodes)
    if "_pkey" in descs or "_ckey" in descs:
        return "prefix"
    if "cell_seg" in descs or "_seg" in descs:
        return "stab"
    if any(r["node"] == "BroadcastNestedLoopJoin" for r in nodes):
        return "range"
    return "other"


def _skew(map_bytes: list[int]) -> float:
    nonzero = [b for b in map_bytes if b > 0]
    if not nonzero:
        return 0.0
    return max(nonzero) / statistics.median(nonzero)


def layer_metrics(queries: list[dict]) -> dict[str, float]:
    """Per-layer counters and task-time sums over a job's queries."""
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    skew = 0.0
    for q in queries:
        nodes = q["nodes"]
        by_id = {r["id"]: r for r in nodes}
        for r in nodes:
            mt = r["metrics"]
            node = r["node"]
            hop = _hop_kind(r)
            if hop is not None:
                add("plan.arrow_hops", 1)
                add(f"{hop}.rows_in", mt.get("pythonNumRowsReceived", 0))
                add(f"{hop}.bytes_to_python", mt.get("pythonDataSent", 0))
                add(f"{hop}.bytes_from_python", mt.get("pythonDataReceived", 0))
                add(f"{hop}.python_total_ms", mt.get("pythonTotalTime", 0))
                add(f"{hop}.python_init_ms", mt.get("pythonInitTime", 0))
                add(f"{hop}.python_boot_ms", mt.get("pythonBootTime", 0))
                if r["codegen"] is not None:
                    add("_nested_python_ms", mt.get("pythonTotalTime", 0))
                if hop == "refine_hop":
                    # the refine filter sits directly above its hop
                    parent = by_id.get(r["parent"])
                    while parent is not None and parent["node"] in ("InputAdapter", "Project"):
                        parent = by_id.get(parent["parent"])
                    if parent is not None and parent["node"] == "Filter":
                        add("pip_join.matches", parent["metrics"].get("numOutputRows", 0))
            elif node == "Exchange":
                add("plan.exchanges", 1)
                add("exchange.records", mt.get("shuffleRecordsWritten", 0))
                add("exchange.bytes", mt.get("shuffleBytesWritten", 0))
            elif node == "BroadcastExchange":
                add("plan.exchanges", 1)
                add("broadcast.rows", mt.get("numOutputRows", 0))
                add("broadcast.build_ms", mt.get("buildTime", 0) + mt.get("collectTime", 0))
            elif node.startswith("Scan") and "numFiles" in mt:
                add("scan.rows", mt.get("numOutputRows", 0))
                add("scan.bytes", mt.get("filesSize", 0))
                add("scan.time_ms", mt.get("scanTime", 0))
            elif node.startswith("WholeStageCodegen"):
                add("codegen.pipeline_ms", mt.get("pipelineTime", 0))
            elif node in JOIN_NODES and _RING_JOIN_KEYS in r["desc"]:
                # geodedup's left rows joined to their bucket's one-ring: one
                # row per (point, probe bucket), ahead of the probe join
                add("geodedup.ring_rows", mt.get("numOutputRows", 0))
            add("spill.bytes", mt.get("spillSize", 0))
            if "map_bytes" in r:
                skew = max(skew, _skew(r["map_bytes"]))
    m["exchange.max_over_median_partition_bytes"] = skew
    m["pip_join.candidates"] = m.get("refine_hop.rows_in", 0.0)
    m["codegen.exclusive_ms"] = max(0.0, m.get("codegen.pipeline_ms", 0.0) - m.pop("_nested_python_ms", 0.0))
    return m
