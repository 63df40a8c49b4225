"""Process control for the system under test: launch the host, send it
commands, read the CPU time, I/O and memory of its process tree, and
stop every process it started (the JVM included) before returning."""

from __future__ import annotations

import json
import os
import signal
import socket
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgrp) for every process that has not exited."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if rest[0] not in "ZX":  # zombies have ended already
            out[int(d)] = (int(rest[1]), int(rest[2]))
    return out


def _tree(pid: int) -> set[int]:
    table = _proc_table()
    pids, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, _) in table.items():
            if pp == p and c not in pids:
                pids.add(c)
                frontier.append(c)
    return pids


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot's names, cut to 15 chars


def _ticks(stat_path: str) -> list[int]:
    with open(stat_path) as f:
        return [int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15]]


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its descendants, less
    the JVM's JIT compiler threads.

    Compilation is a warm-up cost that decays over the process's first
    minute, so with it the CPU of one operation depended on how early in
    the run it came. The host JVM keeps its compiler threads for its
    whole life (``-XX:-UseDynamicNumberOfCompilerThreads``), so their
    CPU can be subtracted exactly."""
    ticks = 0
    for p in _tree(pid):
        try:
            ticks += sum(_ticks(f"/proc/{p}/stat"))  # utime stime cutime cstime
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        ticks -= sum(_ticks(f"/proc/{p}/task/{t}/stat")[:2])
        except OSError:  # the process or thread has exited
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_io_bytes(pid: int) -> int:
    """Bytes ``pid`` and its descendants passed through read and write
    system calls (``rchar + wchar``; page-cache hits included)."""
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/io") as f:
                for line in f:
                    if line.startswith(("rchar:", "wchar:")):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pid`` and its
    descendants."""
    kb = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


class HostProcess:
    """The ``perfbench/host.py`` process, in its own process group."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "PYSPARK_PYTHON": sys.executable,
        })
        self.log = open(work / "host.log", "w")
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "host.py")] + (["--trace"] if trace else []),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, text=True, start_new_session=True,
        )

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"host exited during {cmd!r}; see {self.work / 'host.log'}")
        reply = json.loads(line)
        if not reply.get("ok"):
            raise RuntimeError(f"host command {cmd!r} failed: {reply.get('error')}")
        return reply

    def peak_rss_mb(self) -> float:
        return tree_peak_rss_mb(self.proc.pid)

    def cpu_s(self) -> float:
        return tree_cpu_s(self.proc.pid)

    def io_bytes(self) -> int:
        return tree_io_bytes(self.proc.pid)

    def close(self) -> None:
        """Ask the host to stop Spark and exit, then kill whatever of its
        process group is left and wait until all of it is gone."""
        pgid = self.proc.pid
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "exit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=15)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        deadline = time.monotonic() + 10
        while True:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            if self.proc.poll() is None:
                self.proc.wait(timeout=5)
            left = [p for p, (_, g) in _proc_table().items() if g == pgid]
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        self.log.close()
