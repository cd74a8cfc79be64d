"""Measurement helpers shared by the workloads: process CPU and memory
from ``/proc``, times net of host contention, the percentile rule,
host-load markers, a streaming progress listener, the Spark event-log
summary and the session set-up."""

from __future__ import annotations

import bisect
import json
import os
import shutil
import statistics
import threading
import time
from datetime import datetime

# ---------------------------------------------------------------------------
# Process tree CPU and memory (psutil is not installed)
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant: the Python driver, its JVM
    (via the spark-submit launcher) and the JVM's Python workers."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the process tree, reaped children
    included."""
    total = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (MB) of the Python driver and of its JVM (the
    gateway process); short-lived Python workers are left out."""
    from pyspark import SparkContext

    pids = {"python": os.getpid()}
    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        pids["jvm"] = proc.pid
    out = {}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as fh:
            out[name] = next(int(line.split()[1]) for line in fh
                             if line.startswith("VmHWM:")) / 1024.0
    return out


def live_mem_mb(spark) -> float:
    """Memory the run holds on to: the Python driver's resident set plus
    the JVM heap still in use after a full collection. Unlike the peak,
    it does not depend on when the collector chose to grow the heap."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open("/proc/self/status") as fh:
        rss_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    return rss_kb / 1024.0 + heap.getUsed() / (1024.0 * 1024.0)


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def busy_steal_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs since boot: time this VM ran
    something, and time it had something to run but the host ran
    another tenant instead."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f + [0] * (8 - len(f))
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Times net of host contention.

    On a shared host the hypervisor runs other tenants on this VM's
    CPUs while the run wants them. The stolen share ``s`` of the CPU
    time the VM wanted (busy + stolen) swings from 0 to 40 % between
    runs, and it stretches the run twice over: the stolen time itself,
    a factor 1 / (1 - s), and the run's own CPU time, which rises about
    as 1 / (1 - s) too while the same neighbours load the shared caches
    and preempt lock holders (paravirtual steal accounting keeps stolen
    time out of a process's CPU time, so that rise is real work). Over
    25 runs of the two workloads the wall times fit an exponent of 1.5
    to 2.4 on 1 / (1 - s). So ``net`` scales an interval's wall time by
    (1 - s) ** 2 and ``net_cpu`` its CPU seconds by (1 - s): the
    figures a quiet host would show. A background thread samples the
    VM's cumulative busy and stolen ticks; times are epoch seconds
    (``time.time()``)."""

    #: Sampling period; /proc/stat counts in 10 ms ticks.
    PERIOD_S = 0.1

    def __init__(self) -> None:
        self._times: list[float] = []
        self._ticks: list[tuple[int, int]] = []
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="steal-clock", daemon=True)

    def start(self) -> "StealClock":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._done.set()
        if self._thread.is_alive():
            self._thread.join()
        self._sample()

    def _sample(self) -> None:
        ticks = busy_steal_ticks()
        with self._lock:
            self._times.append(time.time())
            self._ticks.append(ticks)

    def _loop(self) -> None:
        while not self._done.wait(self.PERIOD_S):
            self._sample()

    def _at(self, t: float) -> tuple[float, float]:
        """Cumulative (busy, steal) ticks at ``t``, interpolated between
        the samples around it; the reading itself right now if ``t`` is
        later than the last sample."""
        if t >= self._times[-1]:
            self._sample()
        with self._lock:
            times, ticks = self._times, self._ticks
            i = min(max(bisect.bisect_right(times, t), 1), len(times) - 1)
            (t0, (b0, s0)), (t1, (b1, s1)) = (times[i - 1], ticks[i - 1]), (times[i], ticks[i])
        w = min(max((t - t0) / (t1 - t0), 0.0), 1.0) if t1 > t0 else 1.0
        return b0 + w * (b1 - b0), s0 + w * (s1 - s0)

    def stolen_share(self, t0: float, t1: float) -> float:
        """Stolen share of the CPU time the VM wanted over [t0, t1]."""
        (b0, s0), (b1, s1) = self._at(t0), self._at(t1)
        wanted = (b1 - b0) + (s1 - s0)
        return (s1 - s0) / wanted if wanted > 0 else 0.0

    def net(self, t0: float, t1: float) -> float:
        """Wall time of [t0, t1] on a quiet host."""
        return (t1 - t0) * (1.0 - self.stolen_share(t0, t1)) ** 2

    def net_cpu(self, t0: float, t1: float, cpu_s: float) -> float:
        """``cpu_s`` CPU seconds spent over [t0, t1], on a quiet host."""
        return cpu_s * (1.0 - self.stolen_share(t0, t1))


def cpu_probe(spark) -> float:
    """Fixed CPU-bound Spark job (no IO, no shuffle); its wall time
    calibrates how much of a run's drift is the host."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def weighted_quantile(pairs, q: float) -> float:
    """Quantile of (value, count) pairs: the smallest value whose
    cumulative count reaches ``q`` of the total."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    if total <= 0:
        raise ValueError("quantile of no samples")
    need, acc = q * total, 0
    for value, count in pairs:
        acc += count
        if acc >= need:
            return value
    return pairs[-1][0]


#: Tail percentiles a timing may report beside its median, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0)


def supported_percentile(n: int) -> float | None:
    """Highest tail percentile with at least ten samples beyond it, or
    None when not even p75 has (fewer than 40 samples). The median is
    reported with its sample count whatever ``n`` is."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_time_s(stamp: str) -> float:
    """Epoch seconds of a StreamingQueryProgress ``timestamp``."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def batch_commit_times(progress: list[dict]) -> list[tuple[float, float]]:
    """(trigger start, commit time) of each micro-batch, by start: the
    batch commits at trigger start + ``triggerExecution``."""
    out = []
    for p in progress:
        start = progress_time_s(p["timestamp"])
        out.append((start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0))
    return sorted(out)


def event_latencies(groups, commits: list[tuple[float, float]],
                    span=lambda t0, t1: t1 - t0) -> list[tuple[float, int]]:
    """(latency_s, count) for each (processing_ts, event_ts, count) group
    of committed rows. A row's ``processing_timestamp`` is its
    micro-batch's ``current_timestamp``, taken just after the trigger
    started, so its batch is the last one that started at or before it;
    the row's latency is ``span`` from its creation to that batch's
    commit."""
    starts = [s for s, _ in commits]
    out = []
    for proc_ts, event_ts, count in groups:
        i = bisect.bisect_right(starts, proc_ts + 1e-6) - 1
        if i < 0 or proc_ts > commits[i][1]:
            raise KeyError(f"no micro-batch ran at {proc_ts!r}")
        out.append((span(event_ts, commits[i][1]), count))
    return out


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` of the session, by query
    name, through a ``StreamingQueryListener``."""

    def __init__(self) -> None:
        self.by_name: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._lock:
                    log.by_name.setdefault(p.get("name") or "?", []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def batches(self, names=None, since: float = 0.0, until: float = float("inf"),
                with_data: bool = True) -> list[dict]:
        """Progress records of ``names`` (all if None) whose trigger
        started within [since, until); only those that read rows unless
        ``with_data`` is False."""
        with self._lock:
            items = [p for n, ps in self.by_name.items()
                     if names is None or n in names for p in ps]
        return [p for p in items
                if (p.get("numInputRows", 0) > 0 or not with_data)
                and since <= progress_time_s(p["timestamp"]) < until]


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-micro-batch phase medians of ``batches``."""
    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return float(median(vals)) if vals else 0.0

    state = [op for p in batches for op in p.get("stateOperators", [])]
    return {
        "stream.batches": float(len(batches)),
        "stream.batch_ms": med("triggerExecution"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.state_commit_ms": float(median(
            [op.get("commitTimeMs", 0) for op in state])) if state else 0.0,
        "stream.state_rows": float(max(
            (op.get("numRowsTotal", 0) for op in state), default=0)),
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_LAYER_KEYS = (
    "spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.deserialize_s", "spark.scheduler_delay_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb",
)


def summarize_event_log(log_dir: str, since_ms: float = 0.0) -> dict[str, float]:
    """Executor-side totals of every job and task that started at or
    after ``since_ms`` (epoch ms) in the uncompressed event logs under
    ``log_dir`` (Spark 4 writes rolling ``eventlog_v2_*/events_*``)."""
    out = dict.fromkeys(SPARK_LAYER_KEYS, 0.0)
    mb = 1024.0 * 1024.0
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir)
             for f in files if f.startswith(("events_", "local-"))]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    if json.loads(line).get("Submission Time", 0) >= since_ms:
                        out["spark.jobs"] += 1
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                if info.get("Launch Time", 0) < since_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                deser_ms = m.get("Executor Deserialize Time", 0)
                ser_ms = m.get("Result Serialization Time", 0)
                fetch_ms = info.get("Getting Result Time", 0)
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                out["spark.tasks"] += 1
                out["spark.executor_run_s"] += run_ms / 1000.0
                out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                out["spark.deserialize_s"] += deser_ms / 1000.0
                out["spark.scheduler_delay_s"] += max(
                    0, dur_ms - run_ms - deser_ms - ser_ms - fetch_ms) / 1000.0
                out["spark.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
                out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                out["spark.spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
                out["spark.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / mb
                out["spark.output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / mb
    return out


# ---------------------------------------------------------------------------
# Session and work directory
# ---------------------------------------------------------------------------


def prepare_workdir(root: str) -> str:
    """A fresh scratch directory inside the checkout; the program's
    staging, Spark's local dirs and the JVM's temp dir all live here."""
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "spark-local", "staging", "eventlog", "warehouse"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SBP_STAGING_DIR"] = os.path.join(root, "staging")
    # Stream state stays on this disk too, not on a tmpfs outside it.
    os.environ["SBP_STATE_STAGING_MAX_BYTES"] = "0"
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return root


def start_session(workdir: str, trace: bool, fair: bool):
    """The engine's own session (``build_spark``), with every file it
    writes kept under ``workdir``; ``trace`` adds an uncompressed event
    log (no zstd/lz4 module is installed to read a compressed one)."""
    from streamandbatchprocessing_spark.session import build_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(workdir, "eventlog"),
        })
    return build_spark(app_name="perfbench", enable_fair_scheduler=fair, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait until it and every worker it started have exited."""
    from pyspark import SparkContext

    pids = process_tree()[1:]
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Phases:
    """Wall-clock marks of a run's phases, for the detail line."""

    def __init__(self) -> None:
        self._last = time.perf_counter()
        self.seconds: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = round(now - self._last, 3)
        self._last = now


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
