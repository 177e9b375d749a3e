"""Process set-up, timing and tracing shared by the benchmark workloads.

Everything a run writes lives in one temp directory under the checkout
(``.perfbench_tmp/<pid>``): parquet fixtures, the Spark local and warehouse
directories, the JVM's ``java.io.tmpdir`` and Python's ``TMPDIR``. The
directory is removed when the run ends, after the JVM has exited.
"""

from __future__ import annotations

import importlib
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Spark settings the benchmark pins. local[4] matches a 4-core host. The
# JVM heap is capped at 2g (the program's default is 12g) so that a run
# leaves room on a host whose memory other processes share. Everything
# else, the periodic System.gc() included, is the program's own
# configuration.
CPUS = 4
DRIVER_MEMORY = "2g"


class ProgramMissing(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def prepare_process() -> Path:
    """Create the run's temp directory and point every writer at it.

    Must run before pyspark is imported: the JVM launcher reads the
    environment once.
    """
    if not (ROOT / "dbt_pro3_spark" / "__init__.py").is_file():
        raise ProgramMissing(f"no dbt_pro3_spark package under {ROOT}")
    tmp = ROOT / ".perfbench_tmp" / str(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("spark-local", "jvm-tmp", "py-tmp", "warehouse"):
        (tmp / sub).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        TMPDIR=str(tmp / "py-tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    java_opts = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'jvm-tmp'} "
        f"-Dderby.system.home={tmp / 'warehouse'}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp / 'warehouse'}"),
            "--conf", shlex.quote(f"spark.local.dir={tmp / 'spark-local'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    # relative paths (derby.log, metastore_db, stray writers) land here too
    os.chdir(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    pkg = importlib.import_module("dbt_pro3_spark")
    if not Path(pkg.__file__).resolve().is_relative_to(ROOT):
        raise ProgramMissing(f"dbt_pro3_spark imported from {pkg.__file__}, not {ROOT}")
    return tmp


def start_session():
    """The program's own session factory, under the settings above."""
    from dbt_pro3_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Jvm:
    """Driver-JVM readings: cumulative GC time and peak resident memory."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._beans))

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")


def noop_sink(df) -> None:
    """Force every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (``statistics.quantiles`` exclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


# ------------------------------------------------------------------ tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    jobs: int = 0


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` is a bare ``yield``. Enabled, each span tags its
    jobs with a Spark job group and counts, through the status tracker, the
    jobs that started while it was open: those in its group and those with
    no group (the model registry runs DAG waves on pool threads, which do
    not inherit the caller's job group).
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.run_traced = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._child_ids: dict[int, set[int]] = {}
        self._seen_job = -1

    def _job_ids(self, group: str | None) -> set[int]:
        st = self._sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if group is not None:
            ids.update(st.getJobIdsForGroup(group))
        return ids

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        # jobs started before this span belong to earlier ones
        outer = self._job_ids(self._groups[-1] if self._groups else None)
        self._seen_job = max([self._seen_job, *outer])
        base = self._seen_job
        idx = len(self.spans)
        group = f"perfbench-{idx}"
        self.spans.append(Span(name, 0.0, 0.0, parent, self.op))
        self._child_ids[idx] = set()
        self._stack.append(idx)
        self._groups.append(group)
        self._sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield self.spans[idx]
        finally:
            t1 = time.perf_counter()
            ids = {j for j in self._job_ids(group) if j > base} | self._child_ids.pop(idx)
            self._stack.pop()
            self._groups.pop()
            if self._groups:
                self._sc.setJobGroup(self._groups[-1], self.spans[parent].name)
                self._child_ids[parent] |= ids
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            sp = self.spans[idx]
            sp.start, sp.end, sp.jobs = t0, t1, len(ids)
            self._seen_job = max([self._seen_job, *ids])

    def self_times(self, ops_only: bool = False) -> dict[str, float]:
        """Total self time per span name: duration minus child coverage."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            if ops_only and sp.op < 0:
                continue
            covered = 0.0
            last = sp.start
            for c in sorted(children.get(i, []), key=lambda s: s.start):
                lo, hi = max(c.start, last), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def per_op(self, name: str, attr: str = "seconds") -> list[float]:
        """One value per traced op: the sum over that op's spans named ``name``."""
        ops: dict[int, float] = {}
        for sp in self.spans:
            if sp.op < 0:
                continue
            ops.setdefault(sp.op, 0.0)
            if sp.name == name:
                if attr == "seconds":
                    ops[sp.op] += sp.end - sp.start
                elif attr == "count":
                    ops[sp.op] += 1
                else:
                    ops[sp.op] += getattr(sp, attr)
        return list(ops.values())

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(sp)}) + "\n")
