"""Executed-plan metrics extraction — the observability hook an
operator needs before trusting a plan at 100 TB: how many bytes did
each scan actually read (did pruning work?), how many rows crossed
each exchange (did the filter push down?), how many output rows did
each operator emit.

Pure Py4J traversal of the AQE-finalized physical plan — no listener,
no callback server, no extra jobs; call it AFTER an action has run the
query. On a cluster the same numbers feed dashboards; here they feed
tests and the ``query --metrics`` CLI. ``job_digest`` adds the job and
stage side from the live status store, which Spark keeps with the UI
disabled.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame


def _final_plan(jdf):
    plan = jdf.queryExecution().executedPlan()
    # unwrap AdaptiveSparkPlanExec to the final (executed) plan so the
    # metrics reflect the stages that actually ran
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan


def _walk(node, out, path=""):
    name = node.nodeName()
    entry = {"node": name}
    metrics = node.metrics()
    it = metrics.iterator()
    while it.hasNext():
        kv = it.next()
        entry[str(kv._1())] = int(kv._2().value())
    out.append(entry)
    children = node.children()
    cit = children.iterator()
    while cit.hasNext():
        _walk(cit.next(), out, path)
    # AQE leaves (QueryStageExec / ReusedExchange) hide their subtree
    # behind plan(), not children()
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), out, path)


def executed_plan_metrics(df: DataFrame) -> list[dict]:
    """One dict per physical operator of the EXECUTED plan:
    {"node": name, <metric>: value, ...}. Values are zero if the query
    has not been executed yet — run an action first."""
    out: list[dict] = []
    _walk(_final_plan(df._jdf), out)
    return out


def scan_summary(df: DataFrame) -> dict:
    """Aggregate source-scan metrics of an executed query: file count
    and size the scans planned over (partition pruning shrinks BOTH —
    pruned partitions never reach the scan's file list), rows the
    scans emitted, and the query's output rows. ``scan_rows`` vs
    ``output_rows`` shows how much the post-scan filters cut;
    ``files_read``/``files_size`` dropping under a partition predicate
    proves pruning reached the file listing."""
    nodes = executed_plan_metrics(df)
    scans = [n for n in nodes if n["node"].lower().startswith("scan")]
    # the root WholeStageCodegen wrapper carries no row metric; the
    # first operator that does is the query's output row count
    out_rows = next(
        (n["numOutputRows"] for n in nodes if "numOutputRows" in n), 0
    )
    return {
        "scan_nodes": len(scans),
        "files_read": sum(n.get("numFiles", 0) for n in scans),
        "files_size": sum(n.get("filesSize", 0) for n in scans),
        "scan_rows": sum(n.get("numOutputRows", 0) for n in scans),
        "output_rows": out_rows,
    }


def job_digest(sc, *groups: str) -> dict:
    """What the jobs of the job groups ``groups`` did: job count,
    completed stages, their tasks, task and GC seconds, shuffle
    read+write and spill bytes, and the three longest stages. Read from
    the live status store, which keeps only the last
    ``spark.ui.retainedJobs`` / ``retainedStages`` (1000 each), so take a
    group's digest before it falls out."""
    # the store is fed by the listener bus, asynchronously to the action
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_ids = [jid for g in groups for jid in tracker.getJobIdsForGroup(g)]
    stage_ids = {sid for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds}
    run_ms = gc_ms = shuffle = spill = 0
    done = []
    for sid in stage_ids:
        # a job also lists the stages whose shuffle output it reused
        # (skipped); the store evicts skipped stages first
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if s.status().toString() != "COMPLETE":
            continue
        run_ms += s.executorRunTime()
        gc_ms += s.jvmGcTime()
        shuffle += s.shuffleReadBytes() + s.shuffleWriteBytes()
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        ms = s.completionTime().get().getTime() - s.submissionTime().get().getTime()
        done.append({"stage": sid, "s": ms / 1000, "tasks": s.numCompleteTasks(),
                     "name": re.sub(r"\S*/", "", s.name())})
    return {"jobs": len(job_ids), "stages": len(done), "tasks": sum(d["tasks"] for d in done),
            "task_s": run_ms / 1000, "gc_s": gc_ms / 1000, "shuffle_bytes": shuffle,
            "spill_bytes": spill, "top_stages": sorted(done, key=lambda d: -d["s"])[:3]}
