"""Job-group spans around the benchmark's calls into each layer, and the
stage metrics Spark's status store keeps for the jobs of each span.

A span sets ``setJobGroup(<span id>)`` before the call, so every job the
call runs (including broadcast and subquery jobs, which inherit the
group) can be attributed to it afterwards. Spans are kept in memory and
resolved against ``statusStore().jobsList`` / ``lastStageAttempt`` once
the measured work is over, so the timed path only pays for the
``setJobGroup`` calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: str
    parent_id: str | None
    start_epoch_ms: float = 0.0
    end_epoch_ms: float = 0.0
    wall_s: float = 0.0
    # filled by resolve()
    jobs: int = 0
    job_wall_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    driver_s: float = 0.0
    self_s: float = 0.0
    resolved: bool = False


class Tracer:
    """Records spans; with ``enabled=False`` it only times them, sets no
    job group and keeps nothing."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, trace_id: str, parent: Span | None = None):
        sp = Span(name, trace_id, f"{trace_id}/{name}/{len(self.spans)}", parent.span_id if parent else None)
        if self.enabled:
            self.spans.append(sp)
            self.sc.setJobGroup(sp.span_id, name)
        sp.start_epoch_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            sp.end_epoch_ms = time.time() * 1000.0
            if self.enabled:
                self.sc.setLocalProperty(_GROUP_PROP, parent.span_id if parent else None)

    def resolve(self) -> None:
        """Attach status-store job and stage metrics to every span not
        resolved yet, then derive driver time and self time."""
        todo = [sp for sp in self.spans if not sp.resolved]
        if not self.enabled or not todo:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group: dict[str, list] = {}
        stage_owner: dict[int, int] = {}
        job_rows = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not j.jobGroup().isDefined():
                continue
            stage_ids = [j.stageIds().apply(s) for s in range(j.stageIds().size())]
            sub = j.submissionTime().get().getTime() if j.submissionTime().isDefined() else None
            end = j.completionTime().get().getTime() if j.completionTime().isDefined() else None
            job_rows.append((j.jobGroup().get(), j.jobId(), sub, end, stage_ids))
            for s in stage_ids:
                stage_owner[s] = min(stage_owner.get(s, j.jobId()), j.jobId())
        for group, job_id, sub, end, stage_ids in job_rows:
            by_group.setdefault(group, []).append((job_id, sub, end, [s for s in stage_ids if stage_owner[s] == job_id]))

        children: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.parent_id:
                children.setdefault(sp.parent_id, []).append(sp)
        for sp in todo:
            sp.resolved = True
            intervals = []
            for job_id, sub, end, stage_ids in by_group.get(sp.span_id, []):
                sp.jobs += 1
                if sub is not None and end is not None:
                    intervals.append((max(sub, sp.start_epoch_ms), min(end, sp.end_epoch_ms)))
                for sid in stage_ids:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage evicted or never submitted
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    sp.tasks += st.numTasks()
                    sp.failed_tasks += st.numFailedTasks()
                    sp.task_s += st.executorRunTime() / 1000.0
                    sp.cpu_s += st.executorCpuTime() / 1e9
                    sp.shuffle_write_bytes += st.shuffleWriteBytes()
                    sp.shuffle_read_bytes += st.shuffleReadBytes()
                    sp.input_bytes += st.inputBytes()
                    sp.input_records += st.inputRecords()
                    sp.output_bytes += st.outputBytes()
            sp.job_wall_s = _union_s(intervals)
            sp.driver_s = max(0.0, sp.wall_s - sp.job_wall_s)
            kids = [(c.start_epoch_ms, c.end_epoch_ms) for c in children.get(sp.span_id, [])]
            sp.self_s = max(0.0, sp.wall_s - _union_s(kids))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1, default=str)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length in seconds of the union of [start, end] ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


NO_TRACE = Tracer()
