"""Exact job / stage / shuffle / spill counts per job group, read from
Spark's status tracker and status store (both filled with the UI disabled).
Registry queries run under a job group named after the query; a streaming
query runs its micro-batches under a job group named after its run id."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

ZERO = {"jobs": 0, "stages": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def for_group(self, group: str) -> dict[str, int]:
        # the store is filled by the asynchronous listener bus: drain it
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = dict(ZERO)
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                it = self.store.stageData(sid, False, None, False, self._no_quantiles).iterator()
            except Py4JJavaError:  # evicted by the store's retention limit
                continue
            while it.hasNext():
                d = it.next()
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out


def add(total: dict[str, int], part: dict[str, int]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
