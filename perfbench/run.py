"""Extraction benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``crawl_mix``: ``plans.pipeline.run_extraction`` with the
  ``jobs/extract_job.py`` defaults over the staged crawl mix;
- ``kernel_inproc``: ``engine.parse`` + ``extract_body_text`` over the
  same pages, in this process, on one thread. No Spark.

The load is a closed loop: one client runs one job at a time, passes
repeat until ``--seconds`` have been measured (at least three). Every
pass's output is checked byte for byte against the golden text.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics. Informational lines (seed, corpus, host) start with ``#``; the
last line of standard output is the JSON result. Scratch files live in
``.perfbench-tmp/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIN_PASSES = 3       # measured passes per run (2 of each kind when traced)
# full job passes before measuring: the JVM's CPU per pass falls for
# about four passes after session start while it compiles
WARM_PASSES = 4
# in-process engine rounds after the Spark passes of a traced Spark run
ENGINE_ROUNDS = 3


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def info(kind: str, payload: dict) -> None:
    print(f"# {kind} {json.dumps(payload, sort_keys=True)}", flush=True)


def median_of(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


class Run:
    """State of one benchmark run: its corpus, scratch dir and checks."""

    def __init__(self, args, work: str) -> None:
        import corpus
        from check import CheckResult

        self.args = args
        self.work = work
        self.corpus = corpus.generate(args.seed)
        self.mb = self.corpus.html_bytes / 1e6
        self.checked = CheckResult()
        info("corpus", {**self.corpus.summary(), "workload": args.workload})

    def setup_done(self) -> float:
        return time.monotonic() - T_START

    def result(self, values: dict[str, float]) -> dict:
        """The JSON result: the end-to-end metrics untraced, the
        per-layer ones traced (a layer the workload does not run, such
        as Spark on ``kernel_inproc``, reads 0)."""
        if self.args.trace:
            values["check.docs_failed_frac"] = (
                self.checked.failed / max(self.checked.attempted, 1))
            units = declared("per_layer")
            values = {k: values.get(k, 0.0) for k in units}
        else:
            units = declared("end_to_end")
        c = self.checked
        info("check", {"attempted": c.attempted, "failed": c.failed,
                       "failure_arm": c.failure_arm,
                       "mismatched": c.mismatched, "missing": c.missing,
                       "extra": c.extra})
        return {"correct": c.failed == 0 and c.attempted > 0,
                "attempted": c.attempted, "failed": c.failed,
                "metrics": {k: {"value": float(values[k]), "unit": u}
                            for k, u in units.items()}}

    def end_to_end(self, setup_s: float, walls: list[float],
                   cpu_s: list[float], peak_rss_mb: float) -> dict:
        wall = statistics.median(walls)
        return self.result({
            "setup_s": setup_s,
            "job_wall_s": wall,
            "throughput_mb_s": self.mb / wall,
            "throughput_docs_s": self.corpus.docs / wall,
            "cpu_s_per_mb": sum(cpu_s) / (self.mb * len(cpu_s)),
            "peak_rss_mb": peak_rss_mb,
        })


# ---------------------------------------------------------------- kernel

def engine_round(run: Run, plain: list, layered: list | None) -> None:
    """One plain in-process pass over the corpus, and with ``layered``
    one pass timed layer by layer; both outputs are checked."""
    import procstat
    from check import check_texts
    from engine_layers import kernel_pass, layered_pass

    pages, urls = run.corpus.html, run.corpus.urls
    me = os.getpid()

    def timed(fn):
        c0, s0 = procstat.cpu_s(me), procstat.steal_s()
        t0 = time.perf_counter()
        out = fn(pages)
        wall = time.perf_counter() - t0
        return out, {"wall": wall, "cpu": procstat.cpu_s(me) - c0,
                     "steal": procstat.steal_s() - s0}

    # an untraced pass is measured against the host (pinned and
    # probed); a traced one stays plain, like the layered pass
    cpus = sorted(os.sched_getaffinity(0)) if layered is None else None
    (texts, doc_s, batches), row = timed(
        lambda pages: kernel_pass(pages, cpus, len(plain)))
    run.checked.add(check_texts(urls, texts, run.corpus.golden))
    plain.append({**row, "doc_s": doc_s, "batches": batches})
    if layered is not None:
        split, row = timed(layered_pass)
        run.checked.add(check_texts(urls, split.texts, run.corpus.golden))
        split.texts = []
        layered.append({**row, "split": split})


def run_kernel(run: Run) -> dict:
    import procstat
    from engine_layers import kernel_pass, per_batch

    kernel_pass(run.corpus.html[::10])           # warm-up
    setup_s = run.setup_done()
    # peak RSS from here on: the measured passes, not the corpus build
    procstat.reset_peak_rss()
    plain, layered = [], []
    t_measure = time.monotonic()
    while (time.monotonic() - t_measure < run.args.seconds
           or len(plain) < MIN_PASSES - run.args.trace):
        engine_round(run, plain, layered if run.args.trace else None)
    info("passes", {"walls": [round(sum(b[0] for b in p["batches"]), 4)
                              for p in plain],
                    "steal_s": round(sum(p["steal"] for p in plain), 3)})
    if not run.args.trace:
        probes = [b[2:] for p in plain for b in p["batches"]]
        quiet = (min(w for w, _c in probes), min(c for _w, c in probes))
        info("probe", {
            "quiet_ms": [round(1000 * q, 3) for q in quiet],
            "median_ms": [round(1000 * statistics.median(x), 3)
                          for x in zip(*probes)]})
        wall, cpu = per_batch([p["batches"] for p in plain], quiet)
        return run.end_to_end(setup_s, [wall], [cpu],
                              procstat.vm_hwm_mb(os.getpid()))
    layers = engine_metrics(plain, layered)
    layers.update({
        "driver.cpu_s": median_of(plain, "cpu"),
        "cpu.accounted_frac": 1.0,
        "trace.overhead_frac":
            median_of(layered, "wall") / median_of(plain, "wall") - 1,
        "host.steal_s": median_of(plain, "steal"),
    })
    return run.result(layers)


def engine_metrics(plain: list[dict], layered: list[dict]) -> dict:
    """Engine layer metrics: medians over the layered passes, whole
    engine time from the plain passes."""
    from engine_layers import per_batch, quantile_ms

    def med(attr: str) -> float:
        return statistics.median(getattr(r["split"], attr) for r in layered)

    # unscaled, like the layered passes it is compared with
    _wall, engine_s = per_batch([p["batches"] for p in plain])
    doc_s = plain[len(plain) // 2]["doc_s"]
    return {
        "charset.sniff_cpu_s": med("sniff_s"),
        "charset.decode_cpu_s": med("decode_s"),
        "tokenizer.cpu_s": med("tokenizer_s"),
        "tokenizer.tokens": med("tokens"),
        "treebuilder.cpu_s": med("treebuilder_s"),
        "treebuilder.elements": med("elements"),
        "parser.errors": med("errors"),
        "extractor.cpu_s": med("extractor_s"),
        "engine.gc_cpu_s": med("gc_s"),
        "engine.cpu_s": engine_s,
        "engine.layer_sum_frac": med("layer_sum_s") / engine_s,
        "engine.doc_p50_ms": quantile_ms(doc_s, 0.50),
        "engine.doc_p99_ms": quantile_ms(doc_s, 0.99),
    }


# ----------------------------------------------------------------- spark

def run_spark(run: Run) -> dict:
    import corpus
    import procstat
    import spark_job
    from check import check_rows, read_output

    parallelism = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
    staged = os.path.join(run.work, "pages")
    corpus.stage(run.corpus, staged, 2 * parallelism, run.args.seed)
    staged_bytes = sum(os.path.getsize(os.path.join(staged, f))
                       for f in os.listdir(staged))
    spark = spark_job.start_session(parallelism, run.work)
    try:
        info("host", procstat.host_fingerprint(parallelism))
        golden = run.corpus.golden
        n = 0

        def one(traced: bool):
            nonlocal n
            n += 1
            group = f"pass-{n}"
            out = os.path.join(run.work, f"out-{n}")
            p = spark_job.job_pass(spark, staged, out, group)
            if traced:
                t0 = time.perf_counter()
                p.report["status"] = store.pass_metrics(group, staged_bytes)
                p.wall_s += time.perf_counter() - t0
            rows, batches = read_output(out)
            p.report["batches"] = batches
            shutil.rmtree(out)
            return p, check_rows(rows, golden)

        store = spark_job.StatusStore(spark) if run.args.trace else None
        for _ in range(WARM_PASSES):
            one(False)
        setup_s = run.setup_done()
        plain, traced = [], []
        t_measure = time.monotonic()
        while (time.monotonic() - t_measure < run.args.seconds
               or len(plain) < MIN_PASSES - run.args.trace):
            p, res = one(False)
            plain.append(p)
            run.checked.add(res)
            if run.args.trace:
                p, res = one(True)
                traced.append(p)
                run.checked.add(res)
        info("passes", {
            "walls": [round(p.wall_s, 4) for p in plain],
            "cpu_s": [round(p.cpu_s, 3) for p in plain],
            "steal_s": round(sum(p.steal_s for p in plain), 3)})
        if not run.args.trace:
            return run.end_to_end(setup_s, [p.wall_s for p in plain],
                                  [p.cpu_s for p in plain],
                                  spark_job.python_worker_peak_rss_mb())
        noop = spark_job.noop_pass(spark, staged, "noop")
    finally:
        spark_job.stop_session(spark)
    # the engine alone on the same documents, with the JVM and its
    # workers gone so they do not run beside it
    spark_job.reap_descendants()
    engine_plain, engine_layered = [], []
    for _ in range(ENGINE_ROUNDS):
        engine_round(run, engine_plain, engine_layered)
    return run.result(spark_layers(plain, traced, noop,
                                   engine_metrics(engine_plain,
                                                  engine_layered)))


def spark_layers(plain: list, traced: list, noop, layers: dict) -> dict:
    """Per-layer metrics of a traced Spark run, per job pass (medians),
    added to the engine's own ``layers`` for the same documents."""

    def med(fn) -> float:
        return statistics.median(fn(p) for p in plain + traced)

    status = {k: statistics.median(p.report["status"][k] for p in traced)
              for k in traced[0].report["status"]}
    python_s = med(lambda p: p.cpu["python"])
    total_s = med(lambda p: p.cpu_s)
    layers.update(status)
    layers.update({
        "extract.python_cpu_s": python_s,
        "extract.boundary_cpu_s": python_s - layers["engine.cpu_s"],
        "extract.batches": med(lambda p: p.report["batches"]),
        "jvm.cpu_s": med(lambda p: p.cpu["jvm"]),
        "driver.cpu_s": med(lambda p: p.cpu["driver"]),
        "cpu.accounted_frac": med(lambda p: (p.cpu_s - p.cpu["other"])
                                  / p.cpu_s),
        "write.cpu_s": total_s - noop.cpu_s,
        "report.wall_s": med(lambda p: p.wall_s - p.write_wall_s),
        "trace.overhead_frac":
            statistics.median(p.wall_s for p in traced)
            / statistics.median(p.wall_s for p in plain) - 1,
        "host.steal_s": med(lambda p: p.steal_s),
    })
    return layers


# ------------------------------------------------------------------ main

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_mix", "kernel_inproc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "html_parser_spark",
                                       "__init__.py")):
        print("perfbench: no html_parser_spark package beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import procstat
    import spark_job

    tmp_root = os.path.join(ROOT, ".perfbench-tmp")
    work = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(work)
    # the driver, the JVM and the Python workers all write temp files
    # under the run's scratch dir; workers import the package from ROOT
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        run = Run(args, work)
        steal0 = procstat.steal_s()
        if args.workload == "crawl_mix":
            result = run_spark(run)
        else:
            info("host", procstat.host_fingerprint(None))
            result = run_kernel(run)
        info("run", {"seed": args.seed, "workload": args.workload,
                     "trace": args.trace,
                     "steal_s_whole_run": round(procstat.steal_s() - steal0, 3),
                     "loadavg": procstat.loadavg()})
    finally:
        spark_job.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
