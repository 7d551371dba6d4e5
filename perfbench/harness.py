"""Run plumbing shared by the workloads: the Spark session fitted to
this machine, the process-tree RSS sampler, the CPU probe, the closed
client loop and the latency statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import threading
import time
from dataclasses import dataclass, field

HEAP_CAP_MB = 1024


def machine() -> dict:
    """What the run was fitted to; recorded in the artifact."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    ncpu = len(os.sched_getaffinity(0))
    heap_mb = min(HEAP_CAP_MB, mem_kb // 1024 // 4)
    return {
        "nproc": ncpu,
        "mem_total_mb": mem_kb // 1024,
        "driver_heap_mb": heap_mb,
        "master": f"local[{ncpu}]",
        "pyspark": pyspark.__version__,
    }


def start_session(info: dict, work: str):
    """SparkSession at ``local[nproc]`` with the heap kept well under
    physical RAM (the program's own default is 24g) and every scratch
    file inside the run's work directory."""
    from lighthouse_spark import get_spark

    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher's too: temp files in the work
    # dir, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = f"{info['driver_heap_mb']}m"
    info["spark.local.dir"] = local_dir
    spark = get_spark(
        "perfbench",
        cpus=info["nproc"],
        shuffle_partitions=info["nproc"],
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Peak resident set of the whole process tree (this driver, the
    JVM, the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # process -> MB at the peak
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
                fields = st[st.rindex(")") + 2:].split()
                comm[int(d)] = st[st.index("(") + 1:st.rindex(")")]
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, ValueError, IndexError):
                continue  # process exited while we read it
        tree = {me}
        grew = True
        while grew:
            grew = False
            for p, pp in parent.items():
                if pp in tree and p not in tree:
                    tree.add(p)
                    grew = True
        total = sum(rss.get(p, 0) for p in tree)
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = {f"{p}:{comm.get(p)}": rss.get(p, 0) // 1024 for p in tree}

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: run before and after the
    measurement so a co-tenant CPU burst shows in the artifact."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave to other tenants; its share over a
    run shows whether a slow run was slowed by the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    index: int = -1  # position in the closed loop's request list


@dataclass
class Ledger:
    """Every timed operation and every correctness check of a run."""

    ops: list[Op] = field(default_factory=list)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def op(self, kind: str, seconds: float, ok: bool, index: int = -1) -> None:
        self.ops.append(Op(kind, seconds, ok, index))

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + sum(not c[1] for c in self.checks)

    def latencies(self, kinds: tuple[str, ...]) -> list[float]:
        return [o.seconds for o in self.ops if o.ok and o.kind in kinds]


def closed_loop(seconds: float, requests: list, serve, ledger: Ledger, whole: int = 1) -> float:
    """One client on the calling thread, sending the next request only
    after the previous one answered, until ``seconds`` have passed and
    the requests sent are a multiple of ``whole`` (so a run serves whole
    cycles of the request mix), or the request list runs out.
    ``serve(req, i)`` returns the request's kind. Returns the loop's
    wall time."""
    t0 = time.perf_counter()
    for i, req in enumerate(requests):
        if i % whole == 0 and time.perf_counter() - t0 >= seconds:
            break
        t = time.perf_counter()
        try:
            kind, ok = serve(req, i), True
        except Exception:  # noqa: BLE001 — a failed request counts, the loop goes on
            import traceback

            traceback.print_exc()
            kind, ok = "error", False
        ledger.op(kind, time.perf_counter() - t, ok, i)
    return time.perf_counter() - t0


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    tot = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                tot += os.path.getsize(fp)
    return tot


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
