"""Spark job and stage counters, attributed by id range.

The DAG scheduler hands out job and stage ids from two counters in
submission order. With one client and synchronous actions, the jobs and
stages a block of work started are exactly the ids handed out between its
start and its end, whatever thread started them and whether or not they
carry a job group or description. Per-stage counters come from the
status store, which keeps only ``spark.ui.retainedStages`` entries; a
range whose stages are no longer all there raises instead of
under-reporting.
"""

from __future__ import annotations

import json

# summed per stage (all attempts) from the status store's StageData
STAGE_FIELDS = (
    "numCompleteTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


class StageEvicted(RuntimeError):
    """The status store no longer holds every stage of a measured range."""


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ssc = self._sc._jsc.sc()
        self._dag = self._ssc.dagScheduler()
        self._mapper = None
        self._stages: dict[int, dict] = {}   # stage id -> summed counters

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def _stage_json(self, newest: int | None) -> list[dict]:
        jvm = self._sc._jvm
        if self._mapper is None:
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = jvm.com.fasterxml.jackson.module.scala
            self._mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        seq = self._ssc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        if newest is not None:
            seq = seq.take(newest)   # the store lists the newest stages first
        return json.loads(self._mapper.writeValueAsString(seq))

    def fetch(self, first_stage: int, end_stage: int) -> None:
        """Pull the counters of stages [first_stage, end_stage) into the
        cache once the listener bus has delivered every event."""
        want = set(range(first_stage, end_stage)) - set(self._stages)
        if not want:
            return
        self._ssc.listenerBus().waitUntilEmpty()
        got: dict[int, dict] = {}
        for newest in (2 * (end_stage - first_stage) + 16, None):
            got = {}
            for s in self._stage_json(newest):
                if s["stageId"] in want:
                    acc = got.setdefault(s["stageId"], dict.fromkeys(STAGE_FIELDS, 0))
                    for f in STAGE_FIELDS:
                        acc[f] += s[f]
            if set(got) == want:
                break
        missing = want - set(got)
        if missing:
            raise StageEvicted(
                f"status store no longer holds {len(missing)} of the stages "
                f"{first_stage}..{end_stage - 1} (e.g. {sorted(missing)[:5]}); raise "
                "spark.ui.retainedStages or measure a shorter span"
            )
        self._stages.update(got)

    def totals(self, jobs: tuple[int, int], stages: tuple[int, int]) -> dict[str, int]:
        """Summed counters for job ids [jobs) and stage ids [stages); the
        stages must have been fetched."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in range(*stages):
            for f, v in self._stages[sid].items():
                out[f] += v
        out["jobs"] = jobs[1] - jobs[0]
        out["stages"] = stages[1] - stages[0]
        return out
