"""Outside-in measurements: the process tree, Spark plans and stream progress.

Nothing here reaches into the engine's code. Process figures come from
``/proc``; query figures from each DataFrame's own executed plan (the SQL
metrics Spark attaches to every physical operator) and from the job group
the benchmark sets around each call; stream figures from the progress
events Spark reports for every micro-batch.
"""

from __future__ import annotations

import json
import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process tree --------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` and every live process below it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the whole tree — driver, JVM, Python
    workers — including children that already exited and were reaped."""
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_rss_mb() -> float:
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])  # rss, pages (field 24)
    return total * _PAGE / 1e6


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, every_s: float = 0.25):
        self.every_s, self.peak_mb = every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- plan metrics -----------------------------------------------------------

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
             "FlatMapGroupsInPandasWithState", "AggregateInPandas",
             "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython")


def _metrics(node) -> dict[str, int]:
    out, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif cls == "ReusedExchangeExec":
        kids = []  # its metrics belong to the exchange it points at
    else:
        kids, it = [], node.children().iterator()
        while it.hasNext():
            kids.append(it.next())
    it = node.subqueries().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def plan_counters(df, infer_udf: str = "_infer") -> dict[str, float]:
    """Sum the SQL metrics of ``df``'s executed plan.

    Walks the DataFrame's own ``QueryExecution`` (the one its action ran
    through) across adaptive stages and subqueries. ``infer_rows`` counts
    rows through Python nodes whose UDF list names the inference UDF.
    """
    c = {"shuffle_bytes": 0, "spill_bytes": 0, "python_rows": 0,
         "python_init_ms": 0, "python_compute_ms": 0, "infer_rows": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        todo.extend(_children(node))
        m, name = _metrics(node), node.nodeName()
        c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
        if name in _PY_NODES:
            rows = m.get("pythonNumRowsReceived", 0)
            c["python_rows"] += rows
            c["python_init_ms"] += m.get("pythonInitTime", 0)
            c["python_compute_ms"] += m.get("pythonTotalTime", 0)
            if infer_udf in node.simpleString(25):
                c["infer_rows"] += rows
    return c


# -- stream progress ------------------------------------------------------------

def progress_dict(p) -> dict:
    if isinstance(p, dict):
        return p
    return json.loads(p.json)


def stage_summary(progress: list[dict]) -> dict[str, float]:
    """Per-stage totals over one stage run's micro-batches."""
    s = {"batches": len(progress), "addBatch_ms": 0, "queryPlanning_ms": 0,
         "walCommit_ms": 0, "commitOffsets_ms": 0, "state_rows_peak": 0,
         "state_mb_peak": 0.0, "state_commit_ms": 0,
         "rows_dropped_by_watermark": 0}
    for p in progress:
        d = p.get("durationMs", {})
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            s[f"{k}_ms"] += d.get(k, 0)
        ops = p.get("stateOperators", [])
        s["state_rows_peak"] = max(s["state_rows_peak"],
                                   sum(o.get("numRowsTotal", 0) for o in ops))
        s["state_mb_peak"] = max(s["state_mb_peak"],
                                 sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6)
        s["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        s["rows_dropped_by_watermark"] += sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return s


def make_listener():
    """A ``StreamingQueryListener`` keeping every progress event by query
    name (built lazily: the base class needs a live Spark import)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.events: dict[str, list[dict]] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = progress_dict(event.progress)
            with self._lock:
                self.events.setdefault(p.get("name") or "", []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self, name: str) -> list[dict]:
            with self._lock:
                return self.events.pop(name, [])

    return ProgressListener()


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
