"""Spark session lifecycle, host probes and Spark job counters.

The session is built through ``shovel_spark.session.get_spark`` with three
benchmark-side settings: a driver heap derived from ``/proc/meminfo`` (the
engine's default asks for more than some hosts have), every scratch
directory inside the run's work directory, and console progress off.

Job counters are taken by job-id range from the status store, never by
``jobsList().size()``: that list stops growing at ``spark.ui.retainedJobs``,
so the benchmark raises the retention limits and reads jobs by id.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

MB = 1024 * 1024
#: Driver heap bounds (MiB): a fifth of physical memory, clamped.
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 3072
#: The young generation is fixed at this fraction of the heap.
YOUNG_GEN_SHARE = 6


def driver_memory_mb(meminfo: str = "/proc/meminfo") -> int:
    """A fifth of ``MemTotal``, rounded down to 256 MiB and clamped."""
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            raise RuntimeError(f"no MemTotal in {meminfo}")
    mb = total_mb // 5 // 256 * 256
    return max(DRIVER_MEM_MIN_MB, min(DRIVER_MEM_MAX_MB, mb))


def host_state() -> dict:
    """``nproc``, the 1/5/15-minute load averages, CPU time stolen by the
    hypervisor since boot and, where the kernel reports it, CPU pressure
    (the share of time runnable tasks waited for a CPU), recorded at the
    start and end of every run: a virtual machine's speed drifts with its
    neighbours' load."""
    state = {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()), "ts": time.time()}
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    if len(fields) > 8:
        state["steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    try:
        with open("/proc/pressure/cpu") as fh:
            state["cpu_pressure"] = fh.readline().strip()
    except OSError:
        pass
    return state


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}, {arg}) failed")


def die_with_parent() -> None:
    """Have the kernel kill this process when its parent ends."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants: a process whose
    parent ends (a pyspark worker daemon when the JVM exits, for example)
    becomes this process's child rather than init's, so
    :func:`reap_children` can see it and wait for it."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def _live_children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if int(ppid) == me and state != "Z":
            kids.append(int(entry))
    return kids


def reap_children(grace_s: float = 10.0) -> list[int]:
    """Stop every remaining child (orphaned descendants included, after
    :func:`adopt_orphans`) and wait until each has ended: ``SIGTERM`` first,
    ``SIGKILL`` after ``grace_s``. Returns the pids that had to be signalled."""
    deadline = time.monotonic() + grace_s
    signalled: list[int] = []
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return signalled
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _live_children():
            if pid not in signalled:
                signalled.append(pid)
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Sessions:
    """Owns the run's Spark JVM: starts sessions at a given core count (one
    at a time), and on :meth:`close` stops the JVM and waits for it to end.
    """

    def __init__(self, work_dir: str):
        self.tmp = os.path.join(work_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        # pyspark's gateway handshake file and the JVM's scratch space
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        self.spark: SparkSession | None = None
        self.cores = 0
        self.jvm_pid: int | None = None
        #: wall time of the first session start (JVM launch included)
        self.start_s = 0.0

    def start(self, cores: int) -> SparkSession:
        from shovel_spark.session import get_spark

        if self.spark is not None:
            if self.cores == cores:
                return self.spark
            self.spark.stop()
        mem_mb = driver_memory_mb()
        conf = {
            "spark.driver.memory": f"{mem_mb}m",
            # a fixed heap and young generation keep peak RSS repeatable
            # (adaptive sizing moved it by a fifth between identical runs)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Xms{mem_mb}m -Xmn{mem_mb // YOUNG_GEN_SHARE}m"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            master=f"local[{cores}]",
            app_name="perfbench",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if not self.start_s:
            self.start_s = time.perf_counter() - t0
        self.cores = cores
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def peak_rss_mb(self) -> float:
        """``VmHWM`` of the Spark JVM plus this Python driver."""
        jvm = vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        return jvm + vm_hwm_mb(os.getpid())

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            proc.stdin.close()
            proc.wait(timeout=120)


@dataclass
class StageTotals:
    stages: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0


class JobCounters:
    """Spark work done by a range of job ids ``[lo, hi)``.

    Each stage is owned by the lowest job id that lists it, so stages a
    later job reuses are not counted twice. Skipped stages count nothing.
    Read only after the jobs of a range have ended.
    """

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._loaded_to = -1
        self._stage_of_job: dict[int, list[int]] = {}
        self._stage: dict[int, tuple] = {}

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def _load(self, hi: int) -> None:
        """Fetch job -> stage lists and the metrics of newly seen stages for
        every job id below ``hi`` not fetched yet."""
        if hi <= self._loaded_to:
            return
        store = self._sc.statusStore()
        default = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
        for jid in range(max(self._loaded_to, 0), hi):
            it = store.job(jid).stageIds().iterator()
            ids = []
            while it.hasNext():
                ids.append(int(it.next()))
            self._stage_of_job[jid] = ids
            for sid in ids:
                if sid in self._stage:
                    continue
                attempts = store.stageData(sid, *default)
                # (ran, task_s, shuffle_write_mb, spill_mb, output_mb)
                totals = [0, 0.0, 0.0, 0.0, 0.0]
                for i in range(attempts.size()):
                    a = attempts.apply(i)
                    if a.status().toString() == "SKIPPED":
                        continue
                    totals[0] = 1
                    totals[1] += a.executorRunTime() / 1000.0
                    totals[2] += a.shuffleWriteBytes() / MB
                    totals[3] += a.diskBytesSpilled() / MB
                    totals[4] += a.outputBytes() / MB
                self._stage[sid] = tuple(totals)
        self._loaded_to = hi

    def totals(self, lo: int, hi: int) -> StageTotals:
        self._load(hi)
        owner: dict[int, int] = {}
        for jid in sorted(self._stage_of_job):
            for sid in self._stage_of_job[jid]:
                owner.setdefault(sid, jid)
        out = StageTotals()
        for sid, jid in owner.items():
            if lo <= jid < hi:
                ran, task_s, shuffle_mb, spill_mb, output_mb = self._stage[sid]
                out.stages += ran
                out.task_s += task_s
                out.shuffle_write_mb += shuffle_mb
                out.spill_mb += spill_mb
                out.output_mb += output_mb
        return out
