"""Process plumbing for the benchmark: the Spark session it owns, the
process tree it samples and reaps, the run stamp and the span tracer."""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
JOB_GROUP = "perfbench-job"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout and put the
    repository on the Python workers' path, whatever the working
    directory. Must run before the JVM is launched."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_spark():
    from pii_spark.spark.session import get_spark

    n = nproc()
    spark = get_spark(
        app="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    JVM and its Python workers), sampled from /proc. Each process
    counts its proportional share (Pss) of the pages it maps, so pages
    shared by forked workers, or by a JVM and its fork-exec child,
    count once."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = {p: _pss_kb(p) for p in [os.getpid(), *descendants()]}
            total = sum(rss.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.at_peak = sorted(rss.values(), reverse=True)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak_kb = 0

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = descendants()
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in tree:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            while any(_alive(p) for p in tree) and time.time() < deadline:
                time.sleep(0.05)
            deadline = time.time() + 10


# ------------------------------------------------------------ disclosure

def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git; None
    when the checkout is not a repository."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    name = ref[5:]
    loose = ROOT / ".git" / name
    if loose.is_file():
        return loose.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    return None


def source_sha() -> str:
    """sha256 over the program's Python sources: identifies the code
    under test where there is no git commit."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "pii_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def stamp() -> dict:
    """What served: fails when the trained head does not load, so a
    rule-only run never posts numbers."""
    import pyspark

    from pii_spark.detect import serving
    from pii_spark.detect.features import FEATURE_VERSION

    if serving._head_weights() is None:
        raise RuntimeError(
            "detect.serving._head_weights() returned None: the trained "
            "head is missing or stale, serving would be rule-only"
        )
    return {
        "git_commit": git_commit(),
        "source_sha256": source_sha(),
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "token_head_sha256": hashlib.sha256(
            serving._HEAD_PATH.read_bytes()).hexdigest(),
        "feature_version": FEATURE_VERSION,
    }


# ------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path, extra: dict) -> None:
        """Write spans with their self time (duration minus the time
        covered by child spans)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1))
