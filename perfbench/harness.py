"""Process, session and measurement helpers shared by the benchmark scripts."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time
import traceback


def isolate(root: str, work: str) -> None:
    """Point every scratch file at `work` (inside the checkout), let the
    program's own defaults apply, and let Python workers import kgspark
    from the checkout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for k in [k for k in os.environ if k.startswith("KGSPARK_")]:
        del os.environ[k]
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })


def cleanup(work: str) -> None:
    """Remove `work`, and its parent once no other run uses it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


# -- process tree --------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, state) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(name)] = (int(fields[1]), fields[0])
    return table


def descendants(root: int) -> set[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_rss(me: int) -> int:
    """RSS of this process, its children (the driver JVM) and the Python
    worker daemon with its forked workers. Other descendants are short-lived
    helpers the JVM spawns; counting one caught between vfork and exec
    would add the whole JVM's RSS a second time."""
    table = _proc_table()
    return _rss_bytes(me) + sum(
        _rss_bytes(p) for p in descendants(me)
        if table.get(p, (0,))[0] == me or _is_python_worker(p))


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of `pid`, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by the program: this process's main thread
    (the driver-side Python) plus every descendant (the driver JVM, the
    Python worker daemon and its workers, and whatever they started and
    reaped). The benchmark's own sampler threads are not counted."""
    ticks = sum(_cpu_ticks(p) for p in descendants(os.getpid()))
    return time.thread_time() + ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak of `tree_rss`, sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, tree_rss(me))

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._halt.set()
        self.join()
        return self.peak / 2**20


# -- Spark session ---------------------------------------------------------------

def start_session(work: str, nproc: int, event_log: str | None = None):
    from kgspark.session import get_spark  # noqa: PLC0415

    # a fixed, pre-touched driver heap: the JVM's share of the process-tree
    # RSS is then the same in every run instead of depending on when G1
    # chose to grow the heap, so peak RSS moves with off-heap and Python
    # memory only
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.monotonic()
    spark = get_spark("kgspark-perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    return spark, time.monotonic() - t0


def warm_python_workers(spark, nproc: int) -> None:
    """Fork the Python worker daemon and import pandas/pyarrow in every
    slot's worker, so the first timed UDF stage does not pay for it."""

    def ident(batches):
        yield from batches

    spark.range(4 * nproc, numPartitions=nproc).mapInPandas(
        ident, "id long").collect()


def shutdown_jvm() -> None:
    """Stop the driver JVM and wait until it and every process it started
    (the Python worker daemon and workers) have ended."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline, killed = time.monotonic() + 30, False
    while True:
        table = _proc_table()
        alive = [p for p in kids if p in table and table[p][1] != "Z"]
        if not alive or (killed and time.monotonic() > deadline):
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.1)


# -- core speed ------------------------------------------------------------------
#
# The benchmark runs on a few vCPUs of a shared host, whose other tenants
# slow each core down by up to 3x, and by 20% from one second to the next
# (on a 4-vCPU x86-64 VM one fixed loop took 22 to 68 ms within an hour;
# its CPU time grew with its wall time, so this is slower cores, not time
# given to other guests). The CPU time
# of the set-up and of every op is therefore scaled by how slow the cores
# were while it ran, read by a fixed probe loop that a thread of the
# driver process runs all through the run.

# the probe's CPU time on an uncontended core of the 4-vCPU x86-64 VM the
# benchmark was written on; it only sets the unit of the scaled metrics
PROBE_REF_S = 0.0024


def _probe_loop() -> float:
    t0 = time.thread_time()
    x = 0
    for i in range(30_000):
        x += i * i % 7
    return time.thread_time() - t0


class CoreSampler(threading.Thread):
    """Runs the probe loop every 25 ms (about a tenth of one core) and
    keeps (time, probe CPU seconds) samples."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float]] = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.025):
            self.samples.append((time.monotonic(), _probe_loop()))

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def probe(self, t0: float, t1: float) -> float:
        """Median probe time over [t0, t1] (the nearest sample when none
        fell inside it)."""
        inside = sorted(p for t, p in self.samples if t0 <= t <= t1)
        if not inside:
            return min(self.samples, key=lambda s: abs(s[0] - t1))[1]
        return inside[len(inside) // 2]


def measure(wl, spark, seconds: float, first: int, tracer=None,
            max_ops: int = 1_000_000, min_ops: int = 1,
            cores: CoreSampler | None = None) -> list[dict]:
    """Closed loop, one client: run ops `first`, `first`+1, ... until
    `seconds` of op time are spent and `min_ops` ops are done, or
    `max_ops` ops are done. With `cores` (a running CoreSampler) each op's
    CPU time is also given scaled to the reference core (`ref_cpu_s`)."""
    ops: list[dict] = []
    busy, i = 0.0, first
    wall_cap = time.monotonic() + 4 * seconds + 60
    while ((busy < seconds or len(ops) < min_ops) and len(ops) < max_ops
           and time.monotonic() < wall_cap):
        if tracer:
            tracer.set_op(f"o{i}")
        t0 = time.monotonic()
        try:
            rec = wl.op(spark, i, tracer)
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            traceback.print_exc()
            rec = {"seconds": time.monotonic() - t0, "cpu_s": 0.0, "items": 0,
                   "ok": False, "error": True}
        rec["op"] = f"o{i}"
        if cores:
            rec["probe_s"] = cores.probe(t0, t0 + rec["seconds"])
            rec["ref_cpu_s"] = rec["cpu_s"] * PROBE_REF_S / rec["probe_s"]
        ops.append(rec)
        busy += rec["seconds"]
        i += 1
    return ops
