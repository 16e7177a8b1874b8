"""Client-side plumbing: launch and tear down the host process, sample the
RSS of its process tree, send REST requests, summarize timings."""

from __future__ import annotations

import http.client
import json
import math
import os
import queue
import shlex
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
MAX_CPUS = 4


def cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


class HostError(RuntimeError):
    pass


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _start_time(pid: int) -> int | None:
    """The process's start time (clock ticks since boot), None when it is
    gone or a zombie; with the pid it names one process even if the pid
    is reused later."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


class Host:
    """The program's process (perfbench/host.py) and everything it starts.

    Started in its own session with the repo on PYTHONPATH and every
    scratch path (Spark local dirs, JVM and Python temp dirs, event log)
    inside `work`.  `close()` asks it to exit, reports any process of its
    tree that outlived it, and kills what is left either way."""

    def __init__(self, work: str, spec: dict, trace: bool):
        self.work = work
        os.makedirs(work, exist_ok=True)
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        # no hsperfdata files: the JVM writes those to /tmp regardless of
        # java.io.tmpdir
        submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
        if trace:
            from perfbench import tracing

            ev = os.path.join(work, "events")
            os.makedirs(ev, exist_ok=True)
            submit += tracing.spark_conf_args(ev)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": REPO + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(s) for s in submit) + " pyspark-shell",
        })
        self.log_path = os.path.join(work, "host.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"),
             "--work", work, "--spec", spec_path, "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            env=env, cwd=work, text=True, start_new_session=True,
        )
        self.seen: dict[int, int | None] = {}
        self.peak_rss_kb = 0
        self._lines: queue.Queue = queue.Queue()
        self._stop = threading.Event()
        threading.Thread(target=self._read, daemon=True).start()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                word, _, rest = line[3:].partition(" ")
                self._lines.put((word, json.loads(rest)))
        self._lines.put(("eof", None))

    def _sample(self) -> None:
        while not self._stop.is_set():
            pids = _tree(self.proc.pid)
            for p in pids:
                self.seen.setdefault(p, _start_time(p))
            self.peak_rss_kb = max(self.peak_rss_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(0.2)

    def expect(self, word: str, timeout: float = 170.0):
        try:
            got, payload = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise HostError(f"host sent no {word!r} within {timeout:.0f}s{self.tail()}")
        if got != word:
            raise HostError(f"host sent {got!r}, expected {word!r}{self.tail()}")
        return payload

    def send(self, *words: str) -> None:
        self.proc.stdin.write(" ".join(words) + "\n")
        self.proc.stdin.flush()

    def tail(self, n: int = 30) -> str:
        self._log.flush()
        try:
            with open(self.log_path) as f:
                lines = [l for l in f.read().splitlines() if not l.startswith("\tat ")]
        except OSError:
            return ""
        return "\n--- host log tail ---\n" + "\n".join(lines[-n:])

    def close(self) -> list[str]:
        """Exit the host; returns teardown problems (a leftover JVM or
        Python worker, an active stream), empty when clean.  Whatever is
        left is killed either way."""
        problems = []
        try:
            if self.proc.poll() is None:
                self.send("exit")
                bye = self.expect("bye", timeout=60)
                if bye.get("active_streams"):
                    problems.append(f"{bye['active_streams']} streaming queries left active")
                self.proc.wait(timeout=30)
        except (HostError, OSError, subprocess.TimeoutExpired, ValueError) as e:
            problems.append(f"host did not exit cleanly: {e}")
            # the host still leads its process group: take the group down
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
        self._stop.set()
        self._sampler.join()
        deadline = time.time() + 10
        left = [p for p, t in self.seen.items() if t is not None and _start_time(p) == t]
        while left and time.time() < deadline:
            time.sleep(0.2)
            left = [p for p in left if _start_time(p) == self.seen[p]]
        for p in left:
            problems.append(f"process {p} left behind")
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self._log.close()
        return problems


def post(port: int, path: str, body: dict, timeout: float = 120.0) -> tuple[int, object, int]:
    """POST JSON; returns (status, payload, response bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        data = json.dumps(body).encode()
        conn.request("POST", path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, json.loads(raw or b"null"), len(raw)
    finally:
        conn.close()


def wait_health(port: int, timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while True:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
            conn.request("GET", "/api/health")
            r = conn.getresponse()
            body = json.loads(r.read())
            conn.close()
            if r.status == 200 and body.get("status") == "ok":
                return
        except (OSError, ValueError):
            pass
        if time.time() > deadline:
            raise HostError("/api/health never answered ok")
        time.sleep(0.1)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])
