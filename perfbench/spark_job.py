"""The Spark side of the benchmark: session life cycle, one job pass,
the per-role CPU split read from ``/proc``, and Spark's own stage, task
and SQL metrics read from the driver's status store (the REST API of the
local UI). Nothing here adds code to the program under test.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field

import procstat

# bytes in a formatted SQL size metric ("53.4 MiB")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")


def start_session(parallelism: int, work: str):
    """A session built by ``plans.pipeline.configure``, with every
    scratch directory Spark and its workers write under ``work``."""
    from pyspark.sql import SparkSession

    from html_parser_spark.plans.pipeline import configure

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    java_opts = (f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp} "
                 "-XX:-UsePerfData")
    # the environment variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's
    builder = (SparkSession.builder
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.sql.warehouse.dir",
                       os.path.join(work, "warehouse"))
               .config("spark.driver.extraJavaOptions", java_opts))
    spark = configure(builder, cpus=parallelism)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 30.0) -> None:
    """Kill whatever this process started that is still running (the
    JVM's Python workers are its grandchildren) and wait until gone."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in procstat.descendants(me)
                if p != me and not _is_zombie(p)]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, 9 if time.monotonic() > deadline - 10 else 15)
            except ProcessLookupError:
                pass
        try:  # reap direct children
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            print(f"# processes still alive at exit: {left}", file=sys.stderr)
            return
        time.sleep(0.2)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"


def _role(pid: int, me: int) -> str:
    if pid == me:
        return "driver"
    cmd = procstat.cmdline(pid)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "python"
    if "java" in cmd:
        return "jvm"
    return "other"


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far of this process tree, split into the driver
    (this process), the JVM and the Python workers (with the daemon)."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
    for pid in procstat.descendants(me):
        out[_role(pid, me)] += procstat.cpu_s(pid)
    return out


def python_worker_peak_rss_mb() -> float:
    me = os.getpid()
    return max((procstat.vm_hwm_mb(p) for p in procstat.descendants(me)
                if _role(p, me) == "python"), default=0.0)


@dataclass
class Pass:
    wall_s: float
    cpu: dict[str, float]
    steal_s: float
    write_wall_s: float = 0.0
    report: dict = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


def _delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def job_pass(spark, pages_path: str, out: str, group: str) -> Pass:
    """One run of the production job -- ``run_extraction`` with the
    ``jobs/extract_job.py`` defaults: isolate plan, resume filter on,
    spans off -- from the staged parquet to a fresh output path."""
    from html_parser_spark.plans.pipeline import run_extraction

    spark.sparkContext.setJobGroup(group, group)
    c0, s0 = cpu_by_role(), procstat.steal_s()
    t0 = time.perf_counter()
    pages = spark.read.parquet(pages_path)
    report = run_extraction(spark, pages, out, with_spans=False,
                            plan="isolate")
    wall = time.perf_counter() - t0
    c1, s1 = cpu_by_role(), procstat.steal_s()
    return Pass(wall, _delta(c0, c1), s1 - s0, report["wall_s"], report)


def noop_pass(spark, pages_path: str, group: str) -> Pass:
    """The same scan, skew plan and kernel into Spark's ``noop`` sink:
    the parquet pass minus this one is the cost of the write."""
    from html_parser_spark.operators.extract import extract_pages
    from html_parser_spark.plans.pipeline import skew_isolate

    spark.sparkContext.setJobGroup(group, group)
    c0, s0 = cpu_by_role(), procstat.steal_s()
    t0 = time.perf_counter()
    pages = spark.read.parquet(pages_path)
    parts = spark.sparkContext.defaultParallelism * 2
    (extract_pages(skew_isolate(pages, parts), with_spans=False)
     .write.mode("overwrite").format("noop").save())
    wall = time.perf_counter() - t0
    c1, s1 = cpu_by_role(), procstat.steal_s()
    return Pass(wall, _delta(c0, c1), s1 - s0)


class StatusStore:
    """Read-only view of the driver's status store over its REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; no status store to read")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def pass_metrics(self, group: str, staged_bytes: int) -> dict[str, float]:
        jobs = [j for j in self.get("jobs") if j.get("jobGroup") == group]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("stages?status=complete")
                  if s["stageId"] in stage_ids]
        parse = max(stages, key=lambda s: s["executorRunTime"])
        summary = self.get(f"stages/{parse['stageId']}/{parse['attemptId']}"
                           "/taskSummary?quantiles=0.5,1.0")
        p50_ms, max_ms = summary["executorRunTime"]
        sql = self._sql_metrics(group)
        return {
            "plan.tasks": sum(s["numCompleteTasks"] for s in stages),
            "plan.task_p50_s": p50_ms / 1000,
            "plan.task_max_s": max_ms / 1000,
            "plan.straggler_ratio": max_ms / p50_ms if p50_ms else 0.0,
            "plan.shuffle_write_mb":
                sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "plan.scan_read_ratio":
                sql.get("size of files read", 0.0) / staged_bytes,
            "jvm.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            "write.output_mb": sql.get("written output", 0.0) / 1e6,
            "write.files": sql.get("number of written files", 0.0),
            "extract.py_sent_mb":
                sql.get("data sent to Python workers", 0.0) / 1e6,
            "extract.py_recv_mb":
                sql.get("data returned from Python workers", 0.0) / 1e6,
        }

    def _sql_metrics(self, group: str) -> dict[str, float]:
        """Summed SQL metrics of the pass's query that runs the kernel."""
        totals: dict[str, float] = {}
        listing = self.get("sql?details=false&offset=0&length=1000000")
        for q in listing:
            if q.get("description") != group:
                continue
            nodes = self.get(f"sql/{q['id']}?details=true"
                             "&planDescription=false").get("nodes", [])
            if not any(n["nodeName"] == "MapInPandas" for n in nodes):
                continue
            for n in nodes:
                for m in n.get("metrics", []):
                    totals[m["name"]] = (totals.get(m["name"], 0.0)
                                         + parse_metric(m["value"]))
        return totals


def parse_metric(value: str) -> float:
    """A formatted SQL metric ("5,000", "53.4 MiB", or a
    "total (min, med, max ...)" block whose total follows the newline)
    as a number; sizes come back in bytes."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM.search(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
