"""Spark side of the benchmark: session rounds, the three workloads'
passes, the plan decomposition and worker memory.

Sessions come from the engine's own factory
(``plans.session.get_spark``) at ``local[nproc]``.  Every directory
Spark, the JVM and the Python workers write to is under the work
directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import pandas as pd

from . import inputs as inputs_mod

SALT = 16
DEFAULT_PARSERS = ("amount", "date")
DECOMPOSE_REPS = 3  # repetitions of each decomposition pass (median)
CHEAP_REPS = 7  # for the sub-second scan / identity passes


def configure_process(root: Path, work: Path) -> None:
    """Environment the JVM and the Python workers inherit: the
    checkout on the workers' import path (a worker started from
    another cwd cannot import receipt_scanner_spark otherwise), this
    interpreter for the workers, and temporary dirs inside the
    checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def _session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


# --- checksums -------------------------------------------------------------------

def checksum_agg(df):
    """(n, crc): row count and the sum of per-row CRC32s over the url
    and golden columns — ``inputs.expected_checksum`` computes the
    same from the goldens."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        inputs_mod.KEY_SEP,
        *[F.coalesce(F.col(c), F.lit(inputs_mod.KEY_NULL))
          for c in ("url", *inputs_mod.GOLDEN_COLUMNS)],
    )
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(key)).alias("crc"))


def _first(df) -> tuple[int, int]:
    row = df.first()
    return int(row["n"]), int(row["crc"] or 0)


# --- workloads -------------------------------------------------------------------

class Workload:
    """One workload's Spark pass.  ``fresh_udf`` builds a new UDF
    object instead of the engine's module-level ``process_udf``: a UDF
    object keeps the JVM handle and accumulator of the first session
    it ran in, so sessions that are stopped again (the set-up rounds)
    must not touch the shared one."""

    name = ""
    ocr = False

    def __init__(self, spark, inputs: inputs_mod.Inputs, nproc: int, work: Path):
        self.spark, self.inputs, self.nproc, self.work = spark, inputs, nproc, work
        self.expected = inputs_mod.expected_checksum(inputs.goldens)

    def extract_kwargs(self, fresh_udf: bool) -> dict:
        from receipt_scanner_spark.extract.ocr import ocr_pixels

        kw: dict = {"ocr_arrays": ocr_pixels} if self.ocr else {}
        if fresh_udf:
            kw["parsers"] = list(DEFAULT_PARSERS)
        return kw

    def extraction(self, path: str, fresh_udf: bool = False):
        from receipt_scanner_spark.plans.pipeline import extract_pages

        pages = self.spark.read.parquet(path)
        return extract_pages(pages, observe=False, **self.extract_kwargs(fresh_udf))

    def warm_up(self) -> None:
        """The workload's pass over the first input part file."""
        _first(checksum_agg(self.extraction(self.inputs.first_part, fresh_udf=True)))

    def verify(self) -> int:
        """Untimed pass whose every output row is compared with its
        golden; returns the number of failed documents."""
        rows = self.extraction(self.inputs.pages_path).select(
            "url", *inputs_mod.GOLDEN_COLUMNS).toPandas()
        return inputs_mod.count_failed(rows, self.inputs.goldens)

    def timed_plan(self):
        return checksum_agg(self.extraction(self.inputs.pages_path))

    def run_pass(self, plan) -> bool:
        """One timed pass; True when its output matches the goldens."""
        return _first(plan) == self.expected

    def after_pass(self) -> None:
        """Untimed clean-up after a timed pass."""


class WebExtract(Workload):
    name = "web_extract"


class ReceiptScans(Workload):
    name = "receipt_scans"
    ocr = True


class JobCommit(Workload):
    """``table.snapshots.run_resumable_extraction`` with the settings
    ``jobs/extract_job.py`` passes: zstd parquet, one commit per
    ``lang`` partition, salted repartition."""

    name = "job_commit"

    def __init__(self, *args):
        super().__init__(*args)
        self.spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        self.tables = self.work / "tables"
        self._n = 0
        self.expected_summary = inputs_mod.expected_summary(self.inputs.goldens)
        self.expected_metrics = inputs_mod.expected_commit_metrics(self.inputs.goldens)

    def extract_kwargs(self, fresh_udf: bool) -> dict:
        return dict(super().extract_kwargs(fresh_udf),
                    salt_partitions=2 * self.nproc, salt=SALT)

    def fresh_table(self):
        from receipt_scanner_spark.table.snapshots import SnapshotTable

        self._n += 1
        return SnapshotTable(str(self.tables / f"t{self._n:04d}"))

    def commit_all(self, path: str, fresh_udf: bool = False):
        from receipt_scanner_spark.table.snapshots import run_resumable_extraction

        table = self.fresh_table()
        snaps = run_resumable_extraction(
            self.spark, self.spark.read.parquet(path), table,
            partition_column="lang", **self.extract_kwargs(fresh_udf))
        return table, snaps

    def read_back(self, table) -> tuple[tuple[int, int], dict]:
        from receipt_scanner_spark.plans.pipeline import summary

        df = table.read(self.spark)
        s = summary(df).first()
        return _first(checksum_agg(df)), {"total": s.total, "amount": s.amount,
                                          "date": s.date}

    def _matches(self, table, snaps) -> bool:
        got_metrics: dict[str, int] = {}
        for snap in snaps:
            for k, v in snap.metrics.items():
                got_metrics[k] = got_metrics.get(k, 0) + v
        chk, summ = self.read_back(table)
        return (chk == self.expected and summ == self.expected_summary
                and got_metrics == self.expected_metrics)

    def drop(self, table) -> None:
        shutil.rmtree(table.root, ignore_errors=True)

    def warm_up(self) -> None:
        """The job over the first input part file: commits and read-back
        included, so the first timed pass is not the first commit."""
        table, _snaps = self.commit_all(self.inputs.first_part, fresh_udf=True)
        self.read_back(table)
        self.drop(table)

    def verify(self) -> int:
        table, snaps = self.commit_all(self.inputs.pages_path)
        rows = table.read(self.spark).select(
            "url", *inputs_mod.GOLDEN_COLUMNS).toPandas()
        failed = inputs_mod.count_failed(rows, self.inputs.goldens)
        if not self._matches(table, snaps):
            failed = max(failed, 1)
        self.drop(table)
        return failed

    def timed_plan(self):
        return self.inputs.pages_path

    def run_pass(self, plan) -> bool:
        return self._matches(*self.commit_all(plan))

    def after_pass(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)


WORKLOADS = {w.name: w for w in (WebExtract, ReceiptScans, JobCommit)}


# --- session rounds --------------------------------------------------------------

class SparkHost:
    """Owns the JVM and its sessions for one benchmark run."""

    def __init__(self, work: Path, nproc: int):
        self.work, self.nproc = work, nproc
        self.spark = None

    def start_round(self, workload_cls, inputs) -> tuple[Workload, dict]:
        """Start a session, make every Python worker import the engine,
        and warm the workload up on a slice: the set-up a job pays.
        Returns the workload bound to the new session and its timings."""
        from pyspark.sql import functions as F

        from receipt_scanner_spark.functions.udfs import build_process_udf
        from receipt_scanner_spark.plans.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.nproc,
                               extra_conf=_session_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        wl = workload_cls(self.spark, inputs, self.nproc, self.work)
        t1 = time.perf_counter()
        udf = build_process_udf(list(DEFAULT_PARSERS))
        self.spark.range(self.nproc, numPartitions=self.nproc).select(
            udf(F.lit(None).cast("binary"), F.lit(None).cast("string")).alias("r")
        ).collect()
        t2 = time.perf_counter()
        wl.warm_up()
        t3 = time.perf_counter()
        return wl, {"start_s": t1 - t0, "worker_import_s": t2 - t1,
                    "warmup_s": t3 - t2, "setup_s": t3 - t0}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for both."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_for_descendants(timeout=30)


# --- processes -------------------------------------------------------------------

def descendants() -> list[int]:
    """Live (non-zombie) processes below this one."""
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            kids.setdefault(int(ppid), []).append(int(d.name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_for_descendants(timeout: float) -> None:
    """Wait for the Python daemon and workers to exit after the JVM;
    kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def python_worker_peak_rss_mb() -> float:
    """Largest VmHWM of this process's Spark Python workers (MiB)."""
    peak = 0
    for pid in descendants():
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


# --- timed passes ----------------------------------------------------------------

def timed_passes(wl: Workload, seconds: float, min_passes: int = 5) -> dict:
    """Back-to-back passes over the whole input for ``seconds``."""
    plan = wl.timed_plan()
    rates, bad, rss = [], 0, 0.0
    deadline = time.perf_counter() + seconds
    while len(rates) < min_passes or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            ok = wl.run_pass(plan)
        except Exception as exc:  # a pass that raises fails all of its docs
            print(f"pass failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        rates.append(wl.inputs.n_docs / dt)
        bad += 0 if ok else 1
        rss = max(rss, python_worker_peak_rss_mb())
        wl.after_pass()
    return {"docs_per_s": statistics.median(rates), "rates": rates,
            "failed_passes": bad, "py_worker_peak_rss_mb": rss}


# --- plan decomposition (traced run) ---------------------------------------------

def _identity_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("html binary, text string")
    def identity(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"html": html, "text": text})

    return identity


def _median_time(fn, reps: int = DECOMPOSE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def decompose(wl: Workload) -> tuple[dict, dict]:
    """pipeline.* layer times from Spark passes over the same input:
    scan only; scan + identity pandas UDF; the full extraction plan.
    On the web rows (``web_extract``, ``job_commit``) also the
    ``job_commit`` write path: the salted identity plan and
    snapshots.* from a commit of an already-materialized result.
    Returns (metrics, check counts)."""
    from pyspark.sql import functions as F

    from receipt_scanner_spark.plans.pipeline import PAGES_COLUMNS, host_of

    spark, path = wl.spark, wl.inputs.pages_path
    pages = spark.read.parquet(path).select(*PAGES_COLUMNS)
    ident = _identity_udf()

    def payload_agg(df):
        size = F.length("html") + F.coalesce(F.length("text"), F.lit(0))
        return df.agg(F.count(F.lit(1)), F.sum(size))

    def identity_plan(df):
        return payload_agg(df.select(ident("html", "text").alias("r")).select("r.*"))

    scan = payload_agg(pages)
    identity = identity_plan(pages)
    full = checksum_agg(wl.extraction(path))
    checks = {"attempted": 0, "failed": 0}

    def full_pass():
        ok = _first(full) == wl.expected
        checks["attempted"] += wl.inputs.n_docs
        checks["failed"] += 0 if ok else wl.inputs.n_docs

    scan_s = _median_time(lambda: scan.collect(), CHEAP_REPS)
    identity_s = _median_time(lambda: identity.collect(), CHEAP_REPS)
    full_s = _median_time(full_pass)
    m = {
        "pipeline.scan_s": scan_s,
        "pipeline.arrow_s": identity_s - scan_s,
        "pipeline.udf_s": full_s - identity_s,
        "pipeline.overhead_share": identity_s / full_s,
        "pipeline.salt_shuffle_s": 0.0,
        "snapshots.write_s": 0.0,
        "snapshots.read_s": 0.0,
        "snapshots.resume_s": 0.0,
        "snapshots.bytes_written": 0,
    }
    if not wl.ocr:
        salted = identity_plan(pages.repartition(
            2 * wl.nproc,
            F.concat_ws("#", host_of(), F.pmod(F.xxhash64("url"), F.lit(SALT)).cast("string")),
        ))
        m["pipeline.salt_shuffle_s"] = (_median_time(lambda: salted.collect(), CHEAP_REPS)
                                        - identity_s)
        job = wl if isinstance(wl, JobCommit) else JobCommit(
            wl.spark, wl.inputs, wl.nproc, wl.work)
        m.update(_snapshot_layers(job, checks))
    return m, checks


def _snapshot_layers(wl: JobCommit, checks: dict) -> dict:
    from receipt_scanner_spark.table.snapshots import run_resumable_extraction

    result = wl.extraction(wl.inputs.pages_path).persist()
    result.count()
    parts = sorted(r[0] for r in result.select("lang").distinct().collect())
    write, read, resume, tables = [], [], [], []
    for _ in range(DECOMPOSE_REPS):
        table = wl.fresh_table()
        t0 = time.perf_counter()
        table.commit(result, parts)
        write.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        chk, _summary = wl.read_back(table)
        read.append(time.perf_counter() - t0)
        checks["attempted"] += wl.inputs.n_docs
        checks["failed"] += 0 if chk == wl.expected else wl.inputs.n_docs
        t0 = time.perf_counter()
        left = run_resumable_extraction(
            wl.spark, wl.spark.read.parquet(wl.inputs.pages_path), table,
            partition_column="lang", **wl.extract_kwargs(False))
        resume.append(time.perf_counter() - t0)
        if left:
            raise RuntimeError("resume re-committed partitions that were done")
        tables.append(table)
    result.unpersist()
    written = sum(f.stat().st_size for f in (tables[-1].root / "data").rglob("*.parquet"))
    for t in tables:
        wl.drop(t)
    return {"snapshots.write_s": statistics.median(write),
            "snapshots.read_s": statistics.median(read),
            "snapshots.resume_s": statistics.median(resume),
            "snapshots.bytes_written": written}
