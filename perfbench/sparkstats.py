"""Counts Spark already keeps, read from a live session: the SQL status
store (``sharedState().statusStore()``, populated with the UI off) and the
application status store's stage list."""

from __future__ import annotations

import time

from harness import parse_metric


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _app_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution so far (-1 when there is none)."""
    ids = [e.executionId() for e in _conv(spark).asJava(_sql_store(spark).executionsList())]
    return max(ids, default=-1)


def last_stage_id(spark) -> int:
    return max((s["stage_id"] for s in stages(spark)), default=-1)


def sql_executions(spark, first_id: int = 0, last_id: int | None = None,
                   settle_s: float = 5.0) -> list[dict]:
    """SQL executions with ids in ``[first_id, last_id]``, each with its
    job count and plan nodes (name, description, parsed metric totals).

    The status store is fed by an asynchronous listener, so this waits up
    to ``settle_s`` for every execution in range to be marked complete."""
    conv, store = _conv(spark), _sql_store(spark)
    deadline = time.time() + settle_s
    while True:
        execs = [
            e for e in conv.asJava(store.executionsList())
            if e.executionId() >= first_id and (last_id is None or e.executionId() <= last_id)
        ]
        if all(e.completionTime().isDefined() for e in execs) or time.time() > deadline:
            break
        time.sleep(0.1)
    out = []
    for e in execs:
        eid = e.executionId()
        values = dict(conv.asJava(store.executionMetrics(eid)))
        nodes = []
        for n in conv.asJava(store.planGraph(eid).allNodes()):
            metrics = {
                m.name(): parse_metric(values.get(m.accumulatorId()))
                for m in conv.asJava(n.metrics())
            }
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        out.append({"id": eid, "description": e.description(),
                    "jobs": conv.asJava(e.jobs()).size(), "nodes": nodes})
    return out


def python_udf_totals(executions: list[dict], input_rows: int) -> dict:
    """Totals over the ``ArrowEvalPython`` nodes of the given executions.

    ``udf_passes`` is rows scored by Python over input rows: per execution
    the largest row count any Python node scored (every UDF of one cascade
    pass scores the same rows), summed over executions."""
    run = start = sent = scored = 0.0
    for ex in executions:
        rows = [0.0]
        for n in ex["nodes"]:
            if n["name"] != "ArrowEvalPython":
                continue
            m = {k: v or 0.0 for k, v in n["metrics"].items()}
            run += m.get("time to run Python workers", 0.0)
            start += m.get("time to start Python workers", 0.0)
            start += m.get("time to initialize Python workers", 0.0)
            sent += m.get("data sent to Python workers", 0.0)
            rows.append(m.get("number of output rows", 0.0))
        scored += max(rows)
    return {
        "python_run_s": run,
        "python_start_s": start,
        "arrow_bytes_sent": sent,
        "udf_passes": scored / input_rows if input_rows else 0.0,
    }


def stages(spark) -> list[dict]:
    """Every stage the application status store still holds."""
    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(spark._jvm.double, 0)
    out = []
    for s in _conv(spark).asJava(_app_store(spark).stageList(None, False, False, quantiles, None)):
        out.append({
            "stage_id": s.stageId(),
            "status": s.status().toString(),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
        })
    return out


def stage_totals(spark, after_stage_id: int) -> dict:
    """Executor run time, shuffle bytes written and bytes spilled to disk
    of the completed stages with ids above ``after_stage_id``."""
    sel = [
        s for s in stages(spark)
        if s["stage_id"] > after_stage_id and s["status"] == "COMPLETE"
    ]
    return {
        "stages": len(sel),
        "run_s": sum(s["run_s"] for s in sel),
        "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in sel),
        "spill_bytes": sum(s["spill_bytes"] for s in sel),
    }
