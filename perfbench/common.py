"""Shared pieces of the benchmark: the run context, the Spark session
lifecycle, the xxhash64/bit_xor sink, latency statistics and the
process-tree RSS sampler."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

# Driver heap for the benchmark session. The inputs are small; a bounded
# heap keeps the peak RSS comparable between runs and machines.
DRIVER_MEMORY = "2g"


@dataclass
class Ctx:
    """Everything one run needs: where the checkout and its scratch
    space are, the workload seed, the measuring time and the trace flag."""

    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int = field(default_factory=lambda: os.cpu_count() or 1)


def start_spark(ctx: Ctx, app: str, event_log_dir: str | None = None):
    """Start (or restart on the running JVM) the engine's session via
    ``session.get_spark``. With ``event_log_dir`` the session writes an
    uncompressed event log there; the UI stays off either way."""
    from martian_moments_spark.session import get_spark

    # -Xms = -Xmx with every heap page touched at start: the JVM's resident
    # set no longer depends on how far the collector happened to grow the
    # heap. No perf-data file is written to the system temp directory.
    java_opts = (
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}"
    )
    extra = {
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name=app, extra_conf=extra)


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the gateway JVM
    (and with it the Python workers it forked) and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if not shutdown_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def settle_jvm(spark, quiet_ms: float = 20.0, poll_s: float = 0.25, max_s: float = 8.0) -> float:
    """Collect garbage and wait until the JIT compilers have drained
    their queue (compile time grows by less than ``quiet_ms`` in one
    poll), at most ``max_s``. Right after a cold pass the compilers still
    hold seconds of work, and measuring while they run on the same cores
    makes the first passes slow by a varying amount. Returns the wait."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    comp = mf.getCompilationMXBean()
    mf.getMemoryMXBean().gc()
    t0 = now()
    last = comp.getTotalCompilationTime()
    while now() - t0 < max_s:
        time.sleep(poll_s)
        cur = comp.getTotalCompilationTime()
        if cur - last < quiet_ms:
            break
        last = cur
    return now() - t0


def sink_frame(df: DataFrame) -> DataFrame:
    """The headline sink: hash every output column of every row and XOR
    the hashes to one scalar, so nothing is pruned and nothing large
    returns to the driver (the same sink ``bench.py`` times)."""
    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("__h")).agg(F.bit_xor("__h"))


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank). Below 20 samples no percentile above the median has
    ten samples beyond it; the 90th is used and the record says so."""
    if n < 20:
        return 90
    return int(math.floor(100.0 * (n - 10) / n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class RssSampler:
    """Samples the summed resident set of this process and all of its
    descendants (the Spark JVM and its Python workers) and keeps the peak.

    A level counts once two consecutive samples reach it. The JVM starts
    its helper commands (``chmod``, ``readlink``) with vfork: until the
    child execs, it shares the JVM's memory and reports all of it as its
    own resident set, so a single sample in that instant would count the
    JVM twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2 :].split()
            children.setdefault(int(fields[1]), []).append(int(name))
        out, stack = [], [os.getpid()]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, ()))
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        """Resident set of one process in bytes; 0 once it is gone."""
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._rss(pid) for pid in self._tree())
        self.peak_bytes = max(self.peak_bytes, min(total, self._last))
        self._last = total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


def source_fingerprint(root: str) -> str:
    """Commit id of the checkout when it is a git repository, else a
    hash of the engine's sources, so result records name what was run."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "martian_moments_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + b"\0" + f.read())
    return "src-" + h.hexdigest()[:12]


def now() -> float:
    return time.perf_counter()
