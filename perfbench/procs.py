"""The processes behind a Spark session: the JVM that PySpark launches and
the Python workers it forks. Read from ``/proc``."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def jvm_pid(spark) -> int:
    # spark-submit ends in ``exec java``, so the launcher's pid is the JVM's
    return spark.sparkContext._gateway.proc.pid


def _children() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(pid: int) -> list:
    """``pid`` and all its live descendants."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(pid: int) -> tuple[float, list]:
    """Peak resident set size (VmHWM, MiB) of ``pid`` and of each of its
    live descendants."""
    out = []
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out.append(int(line.split()[1]) / 1024)
        except OSError:
            out.append(0.0)  # exited while we looked
    return out[0], out[1:]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


STOP_TIMEOUT_S = 60.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and its workers, and wait until every
    one of them has exited (killing what is left after ``STOP_TIMEOUT_S``)."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = tree(proc.pid)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except (Py4JError, OSError):  # the JVM may already be gone
            pass
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + STOP_TIMEOUT_S
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
