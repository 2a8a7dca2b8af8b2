"""Spark's own per-stage and per-operator metrics, read after each action.

Stage metrics (run, CPU and GC time, shuffle bytes and fetch wait,
spill, task-time spread) come from the core status store
(``AppStatusStore.stageList`` / ``taskSummary``); the Python-node SQL
metrics (time to start, initialize and run Python workers, data sent
and returned) come from the SQL status store. Both are kept with
``spark.ui.enabled=false``. The SQL store keeps metric values only as
display strings, so :func:`parse_metric` turns them back into numbers
in base units (seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

#: SQL metric name -> benchmark metric name (Python exec nodes)
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
}

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric display string -> number in base units.

    Accepts the plain forms (``'2,000,000'``, ``'5.6 KiB'``, ``'26 ms'``)
    and the per-task form whose second line starts with the total
    (``'total (min, med, max ...)\\n6.2 s (1.3 s, ...)'``). Times come
    back in seconds and sizes in bytes."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(body)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class StageStat:
    stage_id: int
    attempt: int
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_records: int
    shuffle_write_records: int
    shuffle_read_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_s: float
    spill_bytes: int
    #: max / median over the stage's tasks
    task_run_max_over_median: float = 0.0
    read_records_max_over_median: float = 0.0


@dataclass
class Window:
    """Everything Spark recorded between two marks."""

    stages: list[StageStat] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)


def _ratio(hi: float, mid: float) -> float:
    return hi / mid if mid > 0 else 0.0


def summarize(w: Window, input_rows: int) -> dict[str, float]:
    """Per-layer engine metrics of one window.

    - ``spark.*`` sums over the window's stages; ``task_max_over_median``
      is the task-time spread of the stage that ran longest, the one
      that sets the action's time.
    - ``operators.spatial.partial_agg_ratio`` is the scan stage's
      (most input records) shuffle records over ``input_rows``.
    - ``operators.spatial.skew_max_over_median`` is the spread of rows
      read per task in the reduce stage that reads the most records.

    The two aggregation-shape metrics describe the salted tile count;
    pass ``input_rows=0`` for a window without one and they stay 0.
    """
    st = w.stages
    out = {
        "spark.task_run_s": sum(s.run_s for s in st),
        "spark.task_cpu_s": sum(s.cpu_s for s in st),
        "spark.gc_s": sum(s.gc_s for s in st),
        "spark.shuffle_write_bytes": float(sum(s.shuffle_write_bytes for s in st)),
        "spark.shuffle_read_bytes": float(sum(s.shuffle_read_bytes for s in st)),
        "spark.shuffle_fetch_wait_s": sum(s.fetch_wait_s for s in st),
        "spark.spill_bytes": float(sum(s.spill_bytes for s in st)),
        "spark.task_max_over_median": 0.0,
        "operators.spatial.partial_agg_ratio": 0.0,
        "operators.spatial.skew_max_over_median": 0.0,
    }
    if st:
        longest = max(st, key=lambda s: s.run_s)
        out["spark.task_max_over_median"] = longest.task_run_max_over_median
    if st and input_rows:
        scan = max(st, key=lambda s: s.input_records)
        if scan.shuffle_write_records:
            out["operators.spatial.partial_agg_ratio"] = (
                scan.shuffle_write_records / input_rows
            )
        reduce = max(st, key=lambda s: s.shuffle_read_records)
        if reduce.shuffle_read_records:
            out["operators.spatial.skew_max_over_median"] = (
                reduce.read_records_max_over_median
            )
    for name in PYTHON_METRICS.values():
        out[name] = w.sql.get(name, 0.0)
    return out


class SparkMetrics:
    """Reads the status stores of one session through py4j.

    ``mark()`` before an action and ``since(mark)`` after it return the
    stages and SQL executions the action added."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._core = sc._jsc.sc()
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _flush(self) -> None:
        # the stores are filled by the listener bus, asynchronously
        self._core.listenerBus().waitUntilEmpty()

    def _stages(self):
        """The store and its stages, newest first."""
        store = self._core.statusStore()
        no_q = self._gw.new_array(self._jvm.double, 0)
        return store, store.stageList(None, False, False, no_q, None)

    def mark(self) -> tuple[int, int]:
        """(newest stage id, SQL execution count) before an action."""
        self._flush()
        _, stages = self._stages()
        newest = stages.apply(0).stageId() if stages.size() else -1
        return newest, self._sql.executionsCount()

    def since(self, mark: tuple[int, int]) -> Window:
        newest, n_exec = mark
        self._flush()
        store, stages = self._stages()
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        w = Window()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= newest:
                break
            if s.status().toString() != "COMPLETE":
                continue
            stat = StageStat(
                stage_id=s.stageId(), attempt=s.attemptId(),
                num_tasks=s.numTasks(),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_records=s.inputRecords(),
                shuffle_write_records=s.shuffleWriteRecords(),
                shuffle_read_records=s.shuffleReadRecords(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                spill_bytes=s.diskBytesSpilled(),
            )
            dist = store.taskSummary(stat.stage_id, stat.attempt, qs)
            if dist.isDefined():
                d = dist.get()
                run = d.executorRunTime()
                stat.task_run_max_over_median = _ratio(run.apply(1), run.apply(0))
                rec = d.shuffleReadMetrics().readRecords()
                stat.read_records_max_over_median = _ratio(rec.apply(1), rec.apply(0))
            w.stages.append(stat)
        execs = self._sql.executionsList(n_exec, 1 << 30)
        for i in range(execs.size()):
            e = execs.apply(i)
            values = self._sql.executionMetrics(e.executionId())
            ms = e.metrics()
            # an adaptive plan lists a metric once per re-planned version
            seen_acc: set[int] = set()
            for j in range(ms.size()):
                m = ms.apply(j)
                name = PYTHON_METRICS.get(m.name())
                if name is None or m.accumulatorId() in seen_acc:
                    continue
                seen_acc.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    w.sql[name] = w.sql.get(name, 0.0) + parse_metric(v.get())
        return w
