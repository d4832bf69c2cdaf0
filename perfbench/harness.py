"""Process, session and statistics helpers shared by the workloads.

Everything here is Spark-free except :func:`start_spark` / :func:`stop_spark`,
so the arithmetic can be unit-tested without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
DRIVER_MEM = "4g"


# ------------------------------------------------------------------ statistics


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def reportable_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None.

    With n samples, ``n * (1 - p/100)`` of them lie beyond the p-th
    percentile; a tail figure resting on fewer than ten is noise."""
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (1 - p / 100) >= 10 - 1e-9:
            return p
    return None


def row_digest(rows) -> dict:
    """Order-independent digest of an iterable of row tuples.

    Each row hashes to 64 bits (md5 of its repr); the digest is the row
    count plus the wrapping sum of those hashes, so any permutation of the
    same multiset gives the same digest and a changed, lost or duplicated
    row changes it."""
    n, acc = 0, 0
    for r in rows:
        h = hashlib.md5(repr(tuple(r)).encode("utf-8")).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
        n += 1
    return {"rows": n, "sum": f"{acc:016x}"}


# ------------------------------------------------------------------ contention


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def runnable_others(samples: int = 5, interval_s: float = 0.1) -> float:
    """Mean count of runnable tasks other than this one (/proc/loadavg's
    4th field). Unlike the load average it does not remember the previous
    run of a back-to-back series."""
    seen = []
    for _ in range(samples):
        with open("/proc/loadavg") as f:
            seen.append(int(f.read().split()[3].split("/")[0]) - 1)
        time.sleep(interval_s)
    return sum(seen) / len(seen)


class Contention:
    """nproc, load average before/after and CPU steal over the run.

    A run counts as contended when other tasks were already runnable on at
    least half the cores when it started, or when more than 5% of CPU time
    was stolen by the hypervisor during it."""

    def __init__(self) -> None:
        self.nproc = os.cpu_count() or 1
        self.load_before = os.getloadavg()
        self.runnable_before = runnable_others()
        self._ticks = _cpu_ticks()

    def record(self) -> dict:
        total0, steal0 = self._ticks
        total1, steal1 = _cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        rec = {
            "nproc": self.nproc,
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "runnable_before": self.runnable_before,
            "cpu_steal_frac": round(steal, 4),
        }
        rec["contended"] = bool(self.runnable_before >= 0.5 * self.nproc or steal > 0.05)
        return rec


# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_bytes(root_pid: int) -> int:
    """Sum of the peak resident sizes (VmHWM) of a process and all its live
    descendants: the Python driver, the JVM and Spark's Python workers.

    The kernel keeps each process's high-water mark, so the figure does not
    depend on when a sampler happened to look."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return total


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under path, ignoring Spark's .crc side files."""
    total = files = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return total, files


# ------------------------------------------------------------------ session


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it wherever the command runs."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "crawl"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the engine sizes the driver heap from the host; pin it so peak RSS
    # does not depend on how large a box the run lands on
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark(ui: bool):
    """``local[nproc]`` session with the engine's own defaults.

    Only the benchmark's concerns are overridden: width and shuffle
    partitions from nproc, no console progress bar (it glues stdout lines),
    scratch dirs inside the checkout, and the UI (needed by the stage probe)
    on in traced runs only."""
    from image_search_indexing_spark.session import get_spark

    n = os.cpu_count() or 1
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the engine's GC choice, plus scratch files kept in the checkout
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes; kill it if it does not
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
