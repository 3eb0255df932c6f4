"""Process set-up, timing, tracing and output checks shared by the workloads.

Everything the benchmark writes goes under one work directory inside
the checkout (Spark local dirs, the JVM's temp dir, Python's temp dir,
the lake), which is removed at exit.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import time
from collections.abc import Callable
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_DIR = Path(__file__).resolve().parent
PACKAGE = "azure_sales_etl_pipeline_spark"


def prepare_env(work: Path) -> None:
    """Point every temp and scratch location at ``work`` and pin the
    session sizing before the package (which reads its env knobs at
    import) is imported."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers import the package from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def data_files(path: Path) -> int:
    return sum(1 for f in path.rglob("*.parquet") if f.is_file())


class Session:
    """The engine SparkSession, restartable inside one JVM."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None
        self.jvm_start_s: float | None = None

    def start(self):
        """Start a SparkSession; the first call also launches the JVM.
        A previous session must have been stopped with ``spark.stop()``."""
        from azure_sales_etl_pipeline_spark.session import get_spark

        first = self.jvm_start_s is None
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if first:
            self.jvm_start_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid())

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None


# -- tracing -------------------------------------------------------------


class Tracer:
    """Spans around calls into the package's layers.

    A span records its name, parent, wall interval, the Spark job and
    stage ids the scheduler handed out during it (the counters are
    read synchronously from the DAG scheduler) and optional byte counts.
    Spans are kept in memory. When a top-level span ends, the listener
    bus is drained and the completed tasks of its stages are counted.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        #: spans are recorded only while enabled; ``installed`` says
        #: whether any entry point is wrapped at all
        self.enabled = False
        #: seconds spent in the tracer's own bookkeeping
        self.cost = 0.0

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def _dag(self):
        return self.spark.sparkContext._jsc.sc().dagScheduler()

    def _ids(self) -> tuple[int, int]:
        dag = self._dag()
        return int(dag.numTotalJobs()), int(dag.nextStageId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            **attrs,
        }
        rec["job0"], rec["stage0"] = self._ids()
        rec["wall0"] = time.time_ns()
        self.spans.append(rec)
        self.stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        self.cost += rec["t0"] - c0
        try:
            yield rec
        finally:
            rec["t1"] = c1 = time.perf_counter()
            rec["job1"], rec["stage1"] = self._ids()
            self.stack.pop()
            if rec["parent"] is None:
                self._count_tasks(rec)
            self.cost += time.perf_counter() - c1

    def _count_tasks(self, rec: dict) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc._jsc.sc().statusTracker()
        tasks = 0
        for sid in range(rec["stage0"], rec["stage1"]):
            info = st.getStageInfo(sid)
            if info.isDefined():
                tasks += int(info.get().numCompletedTasks())
        rec["tasks"] = tasks

    def wrap(self, owner, attr: str, name: str, measure: Callable | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span.
        ``measure(rec, args, kwargs)`` returns a dict merged into the
        span after the call (byte counts)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and measure is not None:
                    c0 = time.perf_counter()
                    rec.update(measure(rec, args, kwargs))
                    tracer.cost += time.perf_counter() - c0
                return out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading spans ----------------------------------------------------

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["t1"] - rec["t0"]

    @staticmethod
    def jobs(rec: dict) -> int:
        return rec["job1"] - rec["job0"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the time covered by direct children (spans of
        one thread nest, so children never overlap)."""
        return self.dur(rec) - sum(self.dur(c) for c in self.children(rec))

    def self_jobs(self, rec: dict) -> int:
        return self.jobs(rec) - sum(self.jobs(c) for c in self.children(rec))

    def descendants(self, rec: dict, name: str | None = None) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    todo.append(s["id"])
                    if name is None or s["name"] == name:
                        out.append(s)
        return out

    def dump(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def written_since_start(pos: int) -> Callable:
    """Span measure: bytes of the files under the path argument at
    position ``pos`` that were written since the span started."""

    def measure(rec, args, kwargs):
        path = Path(args[pos])
        if not path.exists():
            return {"bytes": 0}
        return {
            "bytes": sum(
                st.st_size
                for st in (f.stat() for f in path.rglob("*") if f.is_file())
                if st.st_mtime_ns >= rec["wall0"]
            )
        }

    return measure


# -- output checks -------------------------------------------------------


def load_comparator():
    """The order-insensitive comparison of ``scripts/check_oracle.py``:
    rows canonicalised as sorted tuples of full-precision cell strings,
    columns sorted by name; a strict mismatch that agrees within 1e-9
    relative is reported as fragile, not failed."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_check_oracle", ROOT / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """Collects check outcomes; ``ok`` is False after any failure."""

    def __init__(self):
        self.co = load_comparator()
        self.failures: list[str] = []
        self.fragile: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def compare(self, what: str, srows, scols, orows, ocols) -> bool:
        if sorted(scols) != sorted(ocols):
            self.fail(f"{what}: columns {sorted(scols)} != {sorted(ocols)}")
            return False
        if len(srows) != len(orows):
            self.fail(f"{what}: rows {len(srows)} != {len(orows)}")
            return False
        a, b = self.co.canon(srows, scols), self.co.canon(orows, ocols)
        if a == b:
            return True
        if self.co._rows_close(a, b):
            self.fragile.append(what)
            return True
        diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        self.fail(f"{what}: sorted row {diff}: {a[diff]} != {b[diff]}")
        return False

    def compare_duck(self, what: str, sdf_rows, scols, con, sql: str) -> bool:
        tbl = con.execute(sql).arrow()
        ocols = tbl.column_names
        orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
        return self.compare(what, sdf_rows, scols, orows, ocols)

    @property
    def ok(self) -> bool:
        return not self.failures


def duck_over(data_dir: Path):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / (t + '.parquet')}'")
    return con


def rmtree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
