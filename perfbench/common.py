"""Process, host and statistics helpers shared by the workloads.

Everything the benchmark writes goes under `.bench_build/perfbench` in
the checkout: Spark's local dirs, Python temp files and the traced
run's event log.
"""

from __future__ import annotations

import math
import os
import shlex
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "perfbench", "data")
OUT = os.path.join(REPO, ".bench_build", "perfbench")

# The traced run's only additions to the session configuration. The
# event log is written uncompressed and unrolled so stdlib json reads it.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_CLK = os.sysconf("SC_CLK_TCK")


def prepare_env(event_log_dir: str | None = None) -> None:
    """Set the environment a Spark driver of this benchmark inherits.

    Local mode gets one task slot per CPU this process may run on;
    scratch space stays inside the checkout; gate bodies skip their
    oracle-fixture export. With `event_log_dir`, spark-submit receives
    the event-log confs, so `get_spark` itself stays untouched.
    """
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["MLDB_SPARK_SKIP_FIXTURE_EXPORT"] = "1"
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + event_log_dir}
        args = " ".join(f"--conf {shlex.quote(k + '=' + v)}" for k, v in conf.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_session(app_name: str):
    """The benchmark's only session factory: `mldb_spark.session.get_spark`."""
    from mldb_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until every process this
    one started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM's gateway server exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


# -- /proc -------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped children's cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    own = (int(rest[11]) + int(rest[12])) / _CLK
    reaped = (int(rest[13]) + int(rest[14])) / _CLK
    return int(rest[1]), comm, own, reaped


def process_tree(root: int) -> dict[int, tuple[int, str, float, float]]:
    """Every live process under `root` (inclusive) with its `_stat`."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep = {root} if root in stats else set()
    grew = True
    while grew:
        grew = False
        for pid, st in stats.items():
            if pid not in keep and st[0] in keep:
                keep.add(pid)
                grew = True
    return {pid: stats[pid] for pid in keep}


def driver_cpu(driver_pid: int) -> dict[str, float]:
    """CPU seconds so far of a Spark driver's parts: the driver Python,
    its JVM, the JVM's Python workers (reaped workers included), and the
    whole tree."""
    tree = process_tree(driver_pid)
    jvms = {p for p, st in tree.items() if st[1] == "java"}
    out = {"python": 0.0, "jvm": 0.0, "workers": 0.0, "tree": 0.0}
    for pid, (_ppid, _comm, own, reaped) in tree.items():
        out["tree"] += own + reaped
        if pid == driver_pid:
            out["python"] += own
        elif pid in jvms:
            out["jvm"] += own
        elif _has_ancestor(tree, pid, jvms):
            out["workers"] += own + reaped
    return out


def _has_ancestor(tree, pid, ancestors) -> bool:
    seen = set()
    while pid in tree and pid not in seen:
        seen.add(pid)
        pid = tree[pid][0]
        if pid in ancestors:
            return True
    return False


def peak_rss_mb(driver_pid: int) -> float:
    """Sum of VmHWM over the driver Python, its JVM and Python workers."""
    total = 0.0
    for pid in process_tree(driver_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024  # kB
        except OSError:
            pass
    return total


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq) / _CLK, steal / _CLK


# -- time net of hypervisor steal ------------------------------------------------
#
# On a shared host the hypervisor takes CPU from this guest in episodes
# of seconds to minutes. Measured on a 4-vCPU guest, 10-57 vCPU-seconds
# stolen during a batch_pipeline run stretched its passes from 10 s to
# 21 s, so raw wall times of identical runs spread by 30-40%. Every time
# the benchmark reports is therefore net of steal: the interval's wall
# time less the vCPU-seconds stolen in it over the vCPU count, i.e. the
# wall time scaled by the share of the guest's CPU capacity it kept.
# This under-corrects a mostly serial critical path, so it never credits
# a run with more than the host took from it. Raw times stay in the report.


def stamp() -> tuple[float, float]:
    """(wall clock, guest-wide steal in vCPU-seconds) now."""
    return time.time(), host_cpu()[1]


def net_s(start: tuple[float, float], end: tuple[float, float]) -> float:
    """Seconds from `start` to `end` (two `stamp()`s), net of steal."""
    return (end[0] - start[0]) - (end[1] - start[1]) / (os.cpu_count() or 1)


class HostRecord:
    """Host interference over a measured region: load average before
    and after, CPU burnt by processes outside this benchmark's own
    process tree, and hypervisor steal. A stalled run carries its own
    explanation."""

    def __init__(self):
        self.loadavg_before = os.getloadavg()
        self._t0 = self._busy0 = self._steal0 = self._own0 = None
        self.region: dict[str, float] = {}

    def start(self) -> None:
        self._t0 = time.time()
        self._busy0, self._steal0 = host_cpu()
        self._own0 = driver_cpu(os.getpid())["tree"]

    def stop(self) -> None:
        busy, steal = host_cpu()
        own = driver_cpu(os.getpid())["tree"] - self._own0
        wall = time.time() - self._t0
        ncpu = os.cpu_count() or 1
        other = max(0.0, busy - self._busy0 - own)
        self.region = {
            "wall_s": wall,
            "own_cpu_s": own,
            "other_cpu_s": other,
            "steal_s": steal - self._steal0,
            "other_cpu_share": other / (wall * ncpu) if wall > 0 else 0.0,
        }

    def as_dict(self) -> dict:
        return {
            "loadavg_before": list(self.loadavg_before),
            "loadavg_after": list(os.getloadavg()),
            "host_cpus": os.cpu_count(),
            **self.region,
        }


# -- statistics ----------------------------------------------------------------


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p,
    (n+1)(1-p))-weighted mean of all order statistics. With a few dozen
    latencies from a mix of statements the plain sample quantile jumps
    between the statements around it; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 400 * n  # midpoint rule over [0, 1]; the weights are renormalised
    cdf = [0.0]
    for k in range(steps):
        x = (k + 0.5) / steps
        cdf.append(cdf[-1] + math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)))
    return sum(x * (cdf[(i + 1) * 400] - cdf[i * 400]) for i, x in enumerate(xs)) / cdf[-1]
