"""Shared pieces of the three workloads: op records, the timing loop's
statistics, HTTP client calls, answer comparison, store-directory
accounting, memory high-water marks and the run-conditions stamp."""

from __future__ import annotations

import contextlib
import http.client
import json
import math
import os
import signal
import statistics
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

# bench.py's load gate: a run whose pre-session load1 exceeds this is
# stamped contended (its numbers carry host noise)
LOAD1_GATE = 2.0


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    read: bool  # False for ops that change persisted state
    op_id: int
    error: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def latency_stats(ops: list[Op]) -> dict[str, float]:
    durs = [o.dur for o in ops]
    reads = [o.dur for o in ops if o.read]
    writes = [o.dur for o in ops if not o.read]
    span = max(o.end for o in ops) - min(o.start for o in ops)
    out = {
        "throughput_ops_s": len(ops) / span,
        "latency_p50_s": statistics.median(durs),
        "latency_p90_s": pct(durs, 0.9),
        "read_latency_p50_s": statistics.median(reads),
    }
    if writes:
        out["write_latency_p50_s"] = statistics.median(writes)
    return out


def side_by_side(*fns) -> None:
    """Run the callables in parallel threads; re-raise the first error."""
    with ThreadPoolExecutor(len(fns)) as pool:
        for f in [pool.submit(fn) for fn in fns]:
            f.result()


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it."""
    return max(0.0, (n - 10) / n) if n else 0.0


class HttpClient:
    """One blocking JSON call per request (the server speaks HTTP/1.0)."""

    def __init__(self, port: int, token: str | None = None):
        self.port = port
        self.token = token

    def call(self, method: str, path: str, body: Any = None,
             headers: dict[str, str] | None = None) -> tuple[int, Any, int]:
        hdrs = dict(headers or {})
        raw = None
        if body is not None:
            raw = json.dumps(body).encode()
            hdrs["Content-Type"] = "application/json"
        if self.token:
            hdrs["Authorization"] = f"Bearer {self.token}"
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request(method, path, body=raw, headers=hdrs)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        return resp.status, json.loads(data), len(data)


def same_answer(a: Any, b: Any, rel: float = 1e-9) -> bool:
    """Structural equality with a float tolerance: Spark may sum a
    double aggregate in another order from run to run, which moves the
    last bits; anything beyond ``rel`` is a wrong answer."""
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_answer(a[k], b[k], rel) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_answer(x, y, rel) for x, y in zip(a, b))
    return a == b


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) for every file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_delta(before: dict, after: dict) -> dict[str, int]:
    """Bytes and files written, bytes reclaimed between two snapshots."""
    written = [k for k, v in after.items() if before.get(k) != v]
    gone = [k for k in before if k not in after]
    return {
        "bytes_written": sum(after[k][0] for k in written),
        "files_written": len(written),
        "bytes_reclaimed": sum(before[k][0] for k in gone),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Resident-set high-water mark of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _ticks(stat_line: str) -> int:
    # utime + stime, after the parenthesised command name
    fields = stat_line.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(pid → parent pid, pid → CPU ticks) of every live process."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                line = f.read()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(line.rsplit(")", 1)[1].split()[1])
        ticks[pid] = _ticks(line)
    return parent, ticks


def _tree(root_pid: int, parent: dict[int, int]) -> list[int]:
    """``root_pid`` and its live descendants."""
    def in_tree(pid: int) -> bool:
        while pid > 1:
            if pid == root_pid:
                return True
            pid = parent.get(pid, 0)
        return False

    return [pid for pid in parent if in_tree(pid)]


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and its descendants (the
    driver JVM and the Python workers it forks) plus this process."""
    parent, ticks = _proc_table()
    total = sum(ticks[pid] for pid in _tree(root_pid, parent))
    total += ticks.get(os.getpid(), 0)
    return total / os.sysconf("SC_CLK_TCK")


def _running(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the driver JVM pyspark launched and the
    Python workers it forked, and wait until every one has exited.

    ``spark.stop()`` leaves the JVM running until it notices that this
    process closed its stdin, which it may do only after this process has
    exited; so close that pipe here and wait. Whatever is still running
    after ``timeout`` seconds is killed.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _tree(proc.pid, _proc_table()[0]) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for pid in tree:
            while _running(pid):
                if time.monotonic() > deadline:
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat:
    the time a hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water mark plus this process's."""
    return vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb()


def _git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def run_conditions(root: str, load1_before: float, steal: tuple) -> dict[str, Any]:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1_before": round(load1_before, 2),
        "load1_after": round(os.getloadavg()[0], 2),
        "contended": load1_before > LOAD1_GATE,
        "cpu_steal_ratio": round(steal[0] / steal[1], 4) if steal[1] else 0.0,
        "git_commit": _git_commit(root),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
