"""Session set-up, timing, memory sampling and the Spark-metrics tracer.

Everything here is benchmark-side: the engine is only called through
its public functions, and traced runs read Spark's own status store
(job groups, stage and task metrics, executed plan graphs).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def host_config() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    ram_gb = mem["MemTotal"] / 2**20
    return {
        "cpus": cpus,
        "ram_gb": round(ram_gb, 1),
        "mem_available_gb": round(mem["MemAvailable"] / 2**20, 1),
        # one sixth of RAM, 1-4 GB: the host is shared, the inputs are small
        "driver_mem": f"{max(1, min(4, int(ram_gb // 6)))}g",
        "loadavg": os.getloadavg(),
    }


def spin_rate(seconds: float = 0.2) -> float:
    """Single-core busy-loop rate (M iter/s): a host-weather marker."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            n += 1
    return round(n / (time.perf_counter() - t0) / 1e6, 2)


def build(cfg: dict, work: str):
    """One SparkSession build plus a first action that starts the
    Python workers. Returns (spark, build_s, warmup_s)."""
    from engine.session import build_session

    # C1 only: a run is one fresh JVM for about a minute, too short for
    # C2 to finish compiling Spark. Under C2 pass times still fell ~5% a
    # pass after six passes and the per-run medians of gate_queries
    # spread 0.26 (IQR / median, 5 seeds); with C1 they are flat and
    # spread 0.11, at ~40% more wall time per gate pass. C1 alone gets
    # a 48 MB code cache, which Spark's generated classes fill in about
    # a minute; the sweeper then flushes and recompiles, a 4-5 s JIT
    # burst that slowed the pass it fell in by ~30%. 256 MB lasts a run.
    java_opts = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                 " -XX:ReservedCodeCacheSize=256m")
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cfg['cpus']}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(64).repartition(cfg["cpus"]).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def proc_tree() -> dict[int, tuple[int, int]]:
    """{pid: (rss bytes, cpu ticks incl. reaped children)} for this
    process and all its descendants (the JVM and its Python workers)."""
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    me, out = os.getpid(), {}
    for pid, fields in stat.items():
        p = pid
        while p > 1 and p != me:
            p = int(stat[p][1]) if p in stat else 0
        if p == me:
            out[pid] = (int(fields[21]) * PAGE, sum(int(x) for x in fields[11:15]))
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    return sum(cpu for _, cpu in proc_tree().values()) / TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak, self._done = period, 0, threading.Event()

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, sum(rss for rss, _ in proc_tree().values()))
            self._done.wait(self.period)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


class Tracer:
    """Puts each traced call in its own Spark job group and, when the
    call returns, reads its jobs, stages and tasks back from the status
    store. Spans nest: a parent's totals include its children's.

    `spent_s` is the wall time the tracer itself added to the traced
    calls (job-group switches and status-store reads): the tracing
    overhead, measured directly rather than as the difference of two
    noisy runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.stack: list[dict] = []
        self.n = 0
        self.failed_tasks = 0
        self.spent_s = 0.0

    @contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        self.n += 1
        s = {"name": name, "group": f"perfbench-{self.n}-{name}"}
        self.stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["t0"] = time.perf_counter()
        self.spent_s += s["t0"] - c0
        try:
            yield s
        finally:
            c0 = time.perf_counter()
            s["wall_s"] = c0 - s["t0"]
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            s.update(self._collect(s["group"]))
            for k in ("jobs", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes"):
                s[k] += sum(c[k] for c in s.get("children", []))
            s["job_ids"] += [j for c in s.get("children", []) for j in c["job_ids"]]
            s["stage_tasks"] += [t for c in s.get("children", []) for t in c["stage_tasks"]]
            if self.stack:
                self.stack[-1].setdefault("children", []).append(s)
            else:
                self.failed_tasks += s["failed_tasks"]
            self.spent_s += time.perf_counter() - c0

    def _collect(self, group: str) -> dict:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"job_ids": job_ids, "jobs": len(job_ids), "tasks": 0, "failed_tasks": 0,
               "shuffle_bytes": 0, "spill_bytes": 0, "stage_tasks": []}
        for j in job_ids:
            job = self.store.job(j)
            out["failed_tasks"] += job.numFailedTasks()
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                times = []
                tasks = self.store.taskList(sid, st.attemptId(), 1 << 20).iterator()
                while tasks.hasNext():
                    m = tasks.next().taskMetrics()
                    if m.isDefined():
                        times.append(m.get().executorRunTime())
                out["stage_tasks"].append(times)
        return out

    def plan_nodes(self, job_ids: list[int]) -> dict:
        """Exchange / Sort / Window counts of the executed (final AQE)
        plans of the SQL executions that ran `job_ids`."""
        want, counts = set(job_ids), {"Exchange": 0, "Sort": 0, "Window": 0}
        execs = self.sql_store.executionsList()
        for i in range(execs.size() - 1, max(-1, execs.size() - 200), -1):
            e = execs.apply(i)
            jobs = set()
            it = e.jobs().keysIterator()
            while it.hasNext():
                jobs.add(int(it.next()))
            if not jobs & want:
                continue
            nodes = self.sql_store.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                name = nodes.next().name()
                if name in counts:
                    counts[name] += 1
        return counts


def _descendants() -> list[int]:
    return [pid for pid in proc_tree() if pid != os.getpid()]


def stop_jvm(timeout_s: float = 30) -> None:
    """Shut the py4j gateway JVM down and wait until it and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while _descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def task_skew(span: dict) -> float:
    """max / median task time of the widest stage the span ran."""
    stages = [t for t in span["stage_tasks"] if t]
    if not stages:
        return 0.0
    widest = max(stages, key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 0.0
