"""Process-level plumbing: work directories, the Spark session, peak RSS of
the process tree, JVM shutdown and the host-window stamp."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "rdf2hk_spark", "session.py")) and \
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def work_dir(tag: str) -> str:
    """A fresh per-run directory inside the checkout; temp files of Python,
    the JVM and Spark all go below it."""
    d = os.path.join(WORK, f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(d, "tmp"), exist_ok=True)
    tmp = os.path.join(d, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "spark-local")
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = tmp
    return d


def start_spark(cpus: int, event_log_dir: str | None = None):
    """The package's own session factory, as a user calls it; the traced
    run only adds Spark's event log."""
    from rdf2hk_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", cpus=cpus, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers): every 0.25 s, the sum over the live
    tree of each process's own high-water mark (VmHWM in /proc), so a
    process's peak between two samples is not missed."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        todo, seen = [os.getpid()], []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(children.get(pid, []))
        return seen

    def sample(self) -> None:
        total, parts = 0, {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
            except OSError:
                continue
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) * 1024
                    name = status.split("\n", 1)[0].split()[-1]
                    total += hwm
                    parts[name] = parts.get(name, 0) + hwm
                    break
        with self._lock:  # the sampler thread and the caller both sample
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)

    def peak_parts_mb(self) -> dict[str, float]:
        """The peak sum split by process name (``java``, ``python3``...)."""
        return {k: round(v / (1 << 20), 1) for k, v in self.peak_parts.items()}


def source_revision() -> str:
    """The commit when run from a git checkout, else a digest of the
    engine's sources (the benchmark checkout is not a repository)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "rdf2hk_spark", "**", "*.py"),
                             recursive=True))
    for path in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def hw_ceiling() -> dict | None:
    """A short same-window reading of scripts/hw_ceiling.py (pure-Python md5
    throughput at 1 and 4 processes); None when the script is absent or
    fails."""
    script = os.path.join(ROOT, "scripts", "hw_ceiling.py")
    if not os.path.isfile(script):
        return None
    import json

    try:
        out = subprocess.run(
            [sys.executable, script, "1", "4", "100000"], cwd=ROOT,
            capture_output=True, text=True, timeout=60,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (OSError, subprocess.SubprocessError, ValueError, IndexError):
        return None


def stamp(seed: int, sizes: dict, load_before: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": round(load_before, 2),
        "loadavg_after": round(os.getloadavg()[0], 2),
        "hw_ceiling": hw_ceiling(),
        "revision": source_revision(),
        "seed": seed,
        "sizes": sizes,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
