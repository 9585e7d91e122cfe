"""Shared machinery: environment, Spark session lifetime, operation
bookkeeping, job counting and span tracing.

Everything the benchmark writes lives under ``WORK`` inside the checkout
(Spark local dirs, the warehouse, temp files, generated inputs, traces).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"


def prepare_env(work: Path) -> None:
    """Point every writer at ``work`` and make the package importable from
    the Spark driver AND from the Python workers Spark spawns, whatever the
    current directory is (workers inherit PYTHONPATH from the JVM's
    environment, which inherits it from this process)."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    root = str(ROOT)
    if root not in sys.path:
        sys.path.insert(0, root)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM sees none of the session's Java options.
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts(work)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def jvm_opts(work: Path) -> str:
    """Keep the JVMs' temp files (and no perf-data file) inside ``work``."""
    return f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def start_spark(work: Path):
    """The package's own session factory at ``local[4]``; returns the
    session and the seconds it took to get a usable one (JVM start,
    session creation, first job)."""
    from presencia_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": jvm_opts(work),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM (driver + local executors), from the
    kernel's high-water mark."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class JobCounter:
    """Spark jobs submitted between two reads, from every thread, with or
    without a job group: job ids are one sequence per SparkContext."""

    def __init__(self, spark):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()

    def now(self) -> int:
        return int(self._sched.nextJobId())


def du(path) -> int:
    """Bytes of every file under ``path`` (0 when absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def file_sizes(path) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], path) -> int:
    """Bytes of files under ``path`` that were not in the ``before``
    listing (what an operation wrote and kept)."""
    return sum(s for p, s in file_sizes(path).items() if p not in before)


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) recorded by
    wrappers patched over the package's public functions at the module
    attribute their callers resolve at call time."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.trace_id = 0
        self.op = ""

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "parent": stack[-1] if stack else getattr(self._tls, "inherited", None),
            "trace": self.trace_id, "name": name, "start": time.perf_counter(),
        }
        rec.update(attrs)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def adopt(self, parent: int | None):
        """Make ``parent`` the parent of top-level spans on this thread
        (a worker thread running on behalf of a traced caller)."""
        self._tls.inherited = parent

    def patch(self, module, attr: str, name: str = "", wrap=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        ``name`` around each call, or with ``wrap(original)``."""
        orig = getattr(module, attr)
        if wrap is None:
            @functools.wraps(orig)
            def wrapped(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
        else:
            wrapped = wrap(orig)
        setattr(module, attr, wrapped)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def spans_of(self, name: str, ops=None) -> list[dict]:
        """Spans called ``name``; with ``ops``, only those recorded under
        an operation of one of those names."""
        if ops is None:
            return [s for s in self.spans if s["name"] == name]
        op_names = {f"op.{o}" for o in ops}
        keep = {s["trace"] for s in self.spans if s["name"] in op_names}
        return [s for s in self.spans if s["name"] == name and s["trace"] in keep]

    def durations(self, name: str, ops=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans_of(name, ops)]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


class Bench:
    """One workload run: the clock, the operation log and the checks.

    Every operation counts as attempted; it counts as failed when it
    raises or when its output check reports a mismatch. An operation that
    raises records no timing.
    """

    def __init__(self, spark, seed: int, work: Path,
                 tiny: bool = False, corrupt: bool = False):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tiny = tiny
        self.corrupt = corrupt
        self.jobs = JobCounter(spark)
        self.tracer: Tracer | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.job_counts: dict[str, list[int]] = defaultdict(list)
        self.values: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.t0 = time.perf_counter()

    def note(self, what: str) -> None:
        """Progress line on stderr (the result line owns stdout)."""
        print(f"# {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr, flush=True)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"# FAILED {what}", file=sys.stderr, flush=True)

    def op(self, name: str, fn, check=None, record: bool = True):
        """Run ``fn`` as one timed operation; ``check(result)`` returns
        None when the output is right, else a description of the
        mismatch. Returns the result (None when ``fn`` raised)."""
        self.attempted += 1
        tracer = self.tracer
        if tracer is not None:
            tracer.trace_id += 1
            tracer.op = name
        j0 = self.jobs.now()
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span(f"op.{name}"):
                    res = fn()
            else:
                res = fn()
        except Exception as e:  # an operation failure is a measured outcome
            self.fail(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}")
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        if record:
            self.samples[name].append(dt)
            self.job_counts[name].append(self.jobs.now() - j0)
        if check is not None:
            try:
                problem = check(res)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            if problem:
                self.fail(f"{name}: {problem}")
        return res

    def verify(self, name: str, fn) -> None:
        """An untimed output check that counts as one operation."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception as e:
            problem = f"raised {type(e).__name__}: {e}"
        if problem:
            self.fail(f"{name}: {problem}")

    def median(self, name: str) -> float:
        return med(self.samples.get(name, []))

    def reset_samples(self) -> None:
        self.samples = defaultdict(list)
        self.job_counts = defaultdict(list)
        self.values = defaultdict(list)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True, exist_ok=True)
    return path
