"""Engine work counters per Spark job group, read from outside the engine.

A traced call runs under its own job group (``sc.setJobGroup``); after it
returns, :func:`group_counters` walks the group's jobs and stages in the
application's status store and sums the per-stage task metrics. This works
with ``spark.ui.enabled=false``: the status store backs the status
tracker, not the UI.

``AppStatusStore.stageData`` takes a ``double[]`` of task-metric
quantiles; py4j cannot build one from the ``jvm.double[0]`` spelling, so
the empty array comes from ``gateway.new_array``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time

COUNTERS = ("jobs", "stages", "skipped_stages", "tasks", "cpu_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes", "output_bytes",
            "spill_bytes")

_group_ids = itertools.count()


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks: user + system, reaped
    children included) of every live, non-zombie process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited meanwhile
            continue
        f = stat[stat.rindex(")") + 2:].split()
        if f[0] != "Z":
            out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(table=None) -> set[int]:
    """This process's live descendants: the JVM and its Python workers."""
    table = _proc_table() if table is None else table
    found, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, (pp, _) in table.items() if pp in frontier}
        found |= frontier
    return found


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants: the Python
    client, the JVM and the JVM's Python workers. Read from /proc,
    outside the engine; unlike wall time it does not count the time the
    host gave to others."""
    table = _proc_table()
    pids = descendants(table) | {os.getpid()}
    return sum(table[p][1] for p in pids if p in table) / os.sysconf("SC_CLK_TCK")


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_attempts(sc, stage_id: int):
    """Every recorded attempt of one stage (``StageData`` JVM objects)."""
    gw = sc._gateway
    return list(_seq(sc._jsc.sc().statusStore().stageData(
        stage_id, False, gw.jvm.java.util.ArrayList(), False,
        gw.new_array(gw.jvm.double, 0),
    )))


def group_counters(sc, group: str) -> dict[str, float]:
    """Summed counters of every job the group ran (see ``COUNTERS``).

    ``stages`` and ``tasks`` count every stage attempt of the group's jobs
    with its planned task count, including stages skipped because their
    shuffle output already existed; ``skipped_stages`` counts those, which
    did no work and add nothing to the other counters."""
    out = dict.fromkeys(COUNTERS, 0)
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        for st in stage_attempts(sc, sid):
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
    return out


class Tracer:
    """Job-group spans around calls into the engine.

    Disabled (``enabled=False``) it only times the call, in wall and
    process-tree CPU seconds: no job group is set and no engine counter
    is read, so an untraced run leaves the engine's job properties
    untouched. Enabled, each span runs under a fresh job group and
    records its counters once the call returns.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        rec = {"layer": layer, **attrs}
        group = None
        if self.enabled:
            group = rec["group"] = f"bench-{next(_group_ids)}-{layer}"
            self.sc.setJobGroup(group, layer, interruptOnCancel=False)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["proc_cpu_s"] = tree_cpu_s() - c0
            if group is not None:
                self.sc._jsc.clearJobGroup()
                rec.update(group_counters(self.sc, group))
                self.spans.append(rec)
