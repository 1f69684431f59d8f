"""Host sizing, the Spark session, /proc readers and process hygiene.

Everything here is about the machine the benchmark runs on, not about
the engine: the session is sized from this host (``local[nproc]``,
shuffle partitions = nproc, driver heap = half of ``MemTotal``) and the
heap is passed explicitly, so the numbers do not move when the engine's
own default heap changes.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

HEAP_SHARE = 0.5          # of MemTotal, for the local[nproc] driver JVM


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(field: str = "MemTotal", path: str = "/proc/meminfo") -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def heap_mb(memtotal_kb: int) -> int:
    return int(memtotal_kb * HEAP_SHARE / 1024)


def status_kb(pid: int, field: str = "VmHWM", proc: str = "/proc") -> int:
    """One ``kB`` field of /proc/<pid>/status (VmHWM = peak RSS)."""
    with open(os.path.join(proc, str(pid), "status")) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _stat(pid: str, proc: str) -> tuple[str, int]:
    """(comm, ppid) from /proc/<pid>/stat; comm may contain spaces."""
    with open(os.path.join(proc, pid, "stat")) as f:
        s = f.read()
    comm = s[s.index("(") + 1:s.rindex(")")]
    return comm, int(s[s.rindex(")") + 2:].split()[1])


def descendants(root: int, proc: str = "/proc") -> dict[int, str]:
    """{pid: comm} of every live descendant of ``root``."""
    parent = {}
    for d in os.listdir(proc):
        if d.isdigit():
            try:
                comm, ppid = _stat(d, proc)
            except (OSError, ValueError):
                continue
            parent[int(d)] = (ppid, comm)
    out = {}
    for pid, (ppid, comm) in parent.items():
        p = ppid
        while p and p != root and p in parent:
            p = parent[p][0]
        if p == root and pid != root:
            out[pid] = comm
    return out


def jvm_pid(proc: str = "/proc") -> int:
    """The Spark JVM started by this process (its ``java`` descendant)."""
    jv = [p for p, c in descendants(os.getpid(), proc).items() if c == "java"]
    if len(jv) != 1:
        raise RuntimeError(f"expected one JVM child, found {jv}")
    return jv[0]


def reap_children(timeout: float = 30.0) -> None:
    """Terminate every remaining descendant and wait until it is gone."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def start_spark(app: str, repo: str, work: str, extra: dict | None = None):
    """local[nproc] session through the engine's own builder.

    The repo goes on PYTHONPATH so Python workers can import the engine
    from any working directory; Spark's scratch space and the JVM temp
    dir are kept inside ``work``.
    """
    cores = nproc()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # every JVM, the spark-submit launcher included: temp files under
    # `work`, and no hsperfdata file in /tmp
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    conf = {"spark.driver.memory": f"{heap_mb(meminfo_kb())}m"}
    conf.update(extra or {})
    from semlink.session import get_spark
    spark = get_spark(app, cores=cores, shuffle_partitions=cores, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_info(spark) -> dict:
    c = spark.sparkContext.getConf()
    return {"master": spark.sparkContext.master,
            "driver_memory": c.get("spark.driver.memory"),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "memtotal_gb": round(meminfo_kb() / 1024 ** 2, 2)}


def clear_cache(spark) -> None:
    """Drop every cached Dataset and persisted RDD; assert none remain.

    ``run_pipeline`` persists its outputs and never unpersists them, and
    ``localCheckpoint`` blocks stay registered until the JVM collects
    their RDDs, so a later repetition in the same JVM would otherwise
    start with memory (and CacheManager entries) left by an earlier one.
    """
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    if not jsc.getPersistentRDDs().isEmpty():
        raise RuntimeError("persisted RDDs survive clearCache")


def stop_spark(spark) -> None:
    """Stop the context, shut the gateway JVM down and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_children()
