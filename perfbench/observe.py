"""What a run can learn about itself from outside the engine.

* Stage facts per job group, read from the driver's status store:
  executor run time, shuffle read/write bytes, spill, and the task-time
  skew (max / median) of the group's heaviest stage.
* The Python UDF boundary, read from the SQL status store: bytes sent
  to and returned from Python workers, and the time to run, initialise
  and start them.  Spark keeps these only as formatted strings
  ("total (min, med, max ...)\\n40.3 MiB (...)"), so they are parsed
  back to numbers here.
* Host noise: 1-minute load per CPU and the CPU steal share over an
  interval, from /proc.
* Peak summed resident memory of a process tree (JVM, driver, Python
  workers), sampled as PSS from /proc/<pid>/smaps_rollup.

The status store is a private JVM surface reached through py4j; it is
pinned to the installed Spark (4.1).
"""

from __future__ import annotations

import os
import re
import threading

from py4j.protocol import Py4JJavaError

_UDF_METRICS = {
    "data sent to Python workers": "udf_bytes_to_python",
    "data returned from Python workers": "udf_bytes_from_python",
    "time to run Python workers": "udf_python_run_s",
    "time to initialize Python workers": "udf_python_init_s",
    "time to start Python workers": "udf_python_start_s",
}
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
         "TiB": 1024 ** 4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> bytes or seconds (or a count)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(line.strip())
    if m is None:
        raise ValueError(f"unparsable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def stage_facts(spark, groups) -> dict:
    """Per job group: {task_s, task_skew, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, udf_*}.  A stage is counted once,
    under the group of the first job that ran it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    facts = {g: {"task_s": 0.0, "task_skew": 1.0,
                 "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
                 "spill_bytes": 0.0,
                 **{v: 0.0 for v in _UDF_METRICS.values()}}
             for g in groups}
    heaviest: dict = {}
    seen: set = set()
    by_job: dict = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        g = by_job[j.jobId()] = g.get() if g.isDefined() else None
        if g not in facts:
            continue
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            f = facts[g]
            run_s = st.executorRunTime() / 1000.0
            f["task_s"] += run_s
            f["shuffle_read_bytes"] += st.shuffleReadBytes()
            f["shuffle_write_bytes"] += st.shuffleWriteBytes()
            f["spill_bytes"] += (st.memoryBytesSpilled()
                                 + st.diskBytesSpilled())
            if run_s > heaviest.get(g, (0.0, None))[0]:
                heaviest[g] = (run_s, (sid, st.attemptId()))
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for g, (_, (sid, att)) in heaviest.items():
        facts[g]["task_skew"] = _skew(store, sid, att, quantiles)

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        it = e.jobs().keysIterator()
        grp = None
        while it.hasNext():
            grp = by_job.get(it.next(), grp)
            if grp in facts:
                break
        if grp not in facts:
            continue
        names = {}
        ms = e.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            if m.name() in _UDF_METRICS:
                names[m.accumulatorId()] = _UDF_METRICS[m.name()]
        if not names:
            continue
        vals = sql.executionMetrics(e.executionId())
        vit = vals.iterator()
        while vit.hasNext():
            kv = vit.next()
            key = names.get(kv._1())
            if key is not None:
                facts[grp][key] += parse_metric(kv._2())
    return facts


def _skew(store, sid: int, attempt: int, quantiles) -> float:
    """max / median executor run time over the stage's tasks
    (``quantiles`` is the JVM double array [0.5, 1.0])."""
    q = store.taskSummary(sid, attempt, quantiles)
    if not q.isDefined():  # no finished task to summarise
        return 1.0
    rt = q.get().executorRunTime()
    med, mx = rt.apply(0), rt.apply(1)
    return mx / med if med > 0 else 1.0


# ------------------------------------------------------------ host noise

def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    vals = [int(x) for x in f]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class HostNoise:
    """Load per CPU and steal share, taken at ``start`` and ``stop``."""

    def __init__(self) -> None:
        self.ncpu = os.cpu_count() or 1
        self.samples: dict = {}

    def _take(self, tag: str) -> None:
        total, steal = _cpu_times()
        self.samples[tag] = {"load1_per_cpu": os.getloadavg()[0] / self.ncpu,
                             "_total": total, "_steal": steal}

    def start(self) -> None:
        self._take("before")

    def stop(self) -> dict:
        self._take("after")
        b, a = self.samples["before"], self.samples["after"]
        dt = a["_total"] - b["_total"]
        return {"load1_per_cpu_before": round(b["load1_per_cpu"], 3),
                "load1_per_cpu_after": round(a["load1_per_cpu"], 3),
                "steal_share": round((a["_steal"] - b["_steal"]) / dt, 5)
                if dt > 0 else 0.0}


# ------------------------------------------------------------ memory

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # comm may hold spaces: the ppid follows the last ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n in
    each, so a worker forked from the Python daemon does not count the
    daemon's pages a second time (summed VmRSS would).  Falls back to
    VmRSS where smaps_rollup cannot be read."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as fh:
        return fh.read().strip()


def tree_rss_bytes(root: int) -> dict:
    """Summed resident memory (PSS) of ``root`` and its descendants,
    split into the JVM and the Python processes (driver and workers)."""
    kids = _children()
    out = {"jvm": 0, "python": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            part = "jvm" if _comm(pid) == "java" else "python"
            out[part] += _pss_bytes(pid)
        except OSError:     # the process ended between listing and read
            continue
    return out


class RssSampler:
    """Background thread sampling the summed PSS of this process tree:
    ``peak`` is the peak of the sum, ``peaks`` the peak of each part."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self.peaks = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _take(self) -> None:
        parts = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, sum(parts.values()))
        for k, v in parts.items():
            self.peaks[k] = max(self.peaks[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._take()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
