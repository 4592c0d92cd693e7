"""Shared pieces of a benchmark run: the Spark session, the run's work
directory, correctness bookkeeping, file-system snapshots for write
amplification, CPU clocks, the host-speed probe, peak memory and summary
statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list[float]) -> float:
    return statistics.median(values)


def trend(values: list[float]) -> float:
    """Least-squares slope per step (0 for fewer than two values)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(values) / n
    num = sum((i - mx) * (v - my) for i, v in enumerate(values))
    return num / sum((i - mx) ** 2 for i in range(n))


def parquet_inodes(root: str) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every committed parquet file under
    ``root``; staging directories (``.tmp-*``, ``.old-*``) are skipped."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


@dataclass
class CommitDelta:
    bytes_new: int
    files_new: int
    files_kept: int


def commit_delta(before: dict, after: dict) -> CommitDelta:
    """Files committed between two snapshots: a file is new when its
    inode did not exist before; hard-linked carried files keep theirs."""
    new = [k for k in after if k not in before]
    return CommitDelta(sum(after[k] for k in new), len(new), len(after) - len(new))


_TICK = os.sysconf("SC_CLK_TCK")
# JVM pid -> task ids of its JIT compiler threads; the session starts the
# JVM with -XX:-UseDynamicNumberOfCompilerThreads, so these threads live
# as long as the JVM and their CPU never moves into the process total
_COMPILER_TIDS: dict[int, list[str]] = {}


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def tree_cpu_s() -> tuple[float, float]:
    """(work, jit): CPU seconds (user + system) this process and every
    descendant have used so far — the Python driver, its JVM and the
    JVM's Python workers — without the JVM's JIT compiler threads, and
    those threads' own CPU seconds. Children that ended count through
    their parent's ``cutime``/``cstime``. Time the host takes from the VM
    (steal) is charged to no process, so unlike wall time this does not
    move with host load; JIT compilation is the JVM's warm-up, which a
    run of a minute never finishes and a long-lived process does not pay
    per cycle."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    jvms = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None:
            continue
        pid = int(name)
        parent[pid] = int(st[1][1])
        ticks[pid] = sum(int(x) for x in st[1][11:15])
        if st[0] == "java":
            jvms.append(pid)
    me = os.getpid()
    mine = set()
    for pid in ticks:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            mine.add(pid)
    total = sum(ticks[pid] for pid in mine)
    jit = 0
    for pid in (j for j in jvms if j in mine):
        if pid not in _COMPILER_TIDS:
            tids = []
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and "CompilerThre" in st[0]:
                    tids.append(tid)
            _COMPILER_TIDS[pid] = tids
        for tid in _COMPILER_TIDS[pid]:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                jit += int(st[1][11]) + int(st[1][12])
    return (total - jit) / _TICK, jit / _TICK


class Stopwatch:
    """Wall seconds, CPU seconds of the process tree without JIT
    compilation (``cpu``) and JIT compiler CPU seconds (``jit``) of one
    ``with`` block."""

    def __enter__(self):
        self.cpu, self.jit = tree_cpu_s()
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall
        cpu, jit = tree_cpu_s()
        self.cpu, self.jit = cpu - self.cpu, jit - self.jit
        return False


# thread CPU seconds of one _probe_work on a CPU at reference speed (the
# faster of the two speeds the probe shows on a 4-vCPU VM); the scale of
# every host-speed-adjusted metric
PROBE_REF_S = 0.075


def _probe_work() -> int:
    acc = 0
    for i in range(450_000):
        acc = (acc * 1103515245 + i) % 2147483648
    return len(sorted(range(acc % 7, 300_000, 3)))


def speed_probe() -> list[float]:
    """Thread CPU seconds of a fixed single-threaded computation on each
    CPU this process may use, run while the engine is idle. The host's
    speed drifts (CPU frequency, neighbours on the same cores): on one
    4-vCPU VM, with no steal on either side, every CPU second of a run —
    JVM start, first load, sync cycle — shrank by the same ~0.67 from one
    quarter hour to the next. At any moment the probe takes either ~0.075
    or ~0.105 s on a CPU of that VM; the mean over CPUs and over the run
    tracks the share of slow CPUs, which the engine's threads, spread
    over all CPUs, see too."""
    cpus = sorted(os.sched_getaffinity(0))
    out = []
    try:
        for c in cpus:
            os.sched_setaffinity(0, {c})
            t = time.thread_time()
            _probe_work()
            out.append(time.thread_time() - t)
    finally:
        os.sched_setaffinity(0, cpus)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MiB."""
    def hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = os.getpid()
    total = hwm(me)
    for child in _children(me):
        try:
            with open(f"/proc/{child}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd:
            total += hwm(child)
    return total / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


@dataclass
class Checks:
    """Operations attempted and failed: engine errors, exceptions and
    wrong results all count as failed."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 50:
                self.notes.append(what)
        return ok


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(work: str, app: str, extra: dict | None = None):
    """``local[cores]`` session whose scratch space lives under ``work``."""
    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from example_dms_dataexport_spark.session import get_spark

    conf = {
        # a fixed-size heap: peak RSS then tracks what the run touches,
        # not when the JVM decided to grow its heap
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed set of JIT compiler threads, so tree_cpu_s can tell
        # their CPU apart for the whole run
        "spark.driver.extraJavaOptions": f"-Xms3g -XX:-UseDynamicNumberOfCompilerThreads "
                                         f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    conf.update(extra or {})
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (the JVM's Python workers end with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still end it below
            proc.kill()
            proc.wait()
