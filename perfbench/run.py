#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload extract_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` repeats the loop with spans around every call into
the program, turns on the Spark event log, and prints the per-layer
metrics. Human-readable lines come first; the last line of standard
output is the JSON result. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_extraction_spark"
WORKLOAD_NAMES = ("extract_pages", "chunk_pipeline", "checkpoint_resume", "rag_query")

SETUP_REPS = 3  # setup_s is the median of this many full set-ups
KERNEL_SAMPLE_DOCS = 200

# gated end-to-end metrics, reported by every workload
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "kernels.htmlio.decode_html_payload.us_per_doc": "us",
    "kernels.htmlio.extract_main_content.us_per_doc": "us",
    "kernels.htmlio.extract_title.us_per_doc": "us",
    "kernels.pdfio.extract_pdf_text.us_per_doc": "us",
    "kernels.text_cleaner.clean_text.us_per_doc": "us",
    "kernels.transcript.parse_transcript.us_per_doc": "us",
    "kernels.filters.keep_chunk.us_per_turn": "us",
    "kernels.categories.categorize.us_per_turn": "us",
    "kernels.quality.quality_score.us_per_turn": "us",
    "operators.extract.extract_parse.s": "s",
    "operators.extract.overhead_us_per_doc": "us",
    "operators.extract.arrow_mb_to_python": "MB",
    "operators.extract.arrow_mb_from_python": "MB",
    "operators.filters.s": "s",
    "operators.filters.keep_ratio": "ratio",
    "operators.categorize.s": "s",
    "operators.categorize.fanout": "ratio",
    "operators.project.quality_score.s": "s",
    "operators.executives.s": "s",
    "operators.executives.match_ratio": "ratio",
    "plans.pipeline.category_report.s": "s",
    "plans.pipeline.write_partitioned.s": "s",
    "plans.pipeline.output_mb": "MB",
    "plans.lineage.stage_s": "s",
    "plans.lineage.staged_mb": "MB",
    "plans.lineage.bucket_job_s_p50": "s",
    "plans.lineage.buckets_recomputed": "count",
    "operators.embed.embed_text.us": "us",
    "plans.rag.rag_search.ms": "ms",
    "plans.rag.rag_context.ms": "ms",
    "plans.rag.jobs_per_query": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    "session.get_spark.s": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="multiplies every input size")
    p.add_argument("--inject-mismatch", action="store_true",
                   help="extract_pages: alter one url's extracted text, to show the gate failing")
    return p.parse_args(argv)


class Bench:
    """Paths, the Spark session and the tracer shared by the workloads."""

    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.inject = args.inject_mismatch
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.session_s = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def size(self, n: int) -> int:
        return max(8, round(n * self.scale))

    def group(self, name):
        """Tag the following Spark jobs (traced runs only)."""
        if self.trace and name:
            self.spark.sparkContext.setJobGroup(name, name)

    def start_session(self):
        from pdf_extraction_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master="local[4]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s.append(time.perf_counter() - t0)

    def shutdown(self):
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        from perfbench.rss import descendants, wait_gone

        tree = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_gone(tree)


def _set_up(bench, cls, reps: int):
    times = []
    wl = cls(bench)
    for _ in range(reps):
        t0 = time.perf_counter()
        bench.start_session()
        wl.setup()
        times.append(time.perf_counter() - t0)
    wl.warm_up()
    return wl, times


def _traced(bench, wl, seconds: float):
    """Untraced loop and traced loop of half the run each, then every
    layer's traced pass. Only the named workload is warmed up; the others
    are set up and measured once."""
    from perfbench.kernels_bench import kernel_metrics
    from perfbench.inputs import questions
    from perfbench.tracing import EventLog
    from perfbench.workloads import WORKLOADS

    plain = wl.run(seconds / 2)
    bench.tracer.enabled = True
    bench.group("loop:traced")
    traced = wl.run(seconds / 2)

    values, kernel_us = kernel_metrics(bench.seed, bench.size(KERNEL_SAMPLE_DOCS), questions(bench.seed, 50))
    swept = []
    for name, cls in WORKLOADS.items():
        other = wl
        if name != wl.name:
            bench.tracer.enabled = False
            other = cls(bench)
            other.setup()
            bench.tracer.enabled = True
        values.update(other.layers(traced))
        swept.append(other)

    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()
    bench.spark = None
    log = EventLog(bench.path("eventlog", app_id))
    for other in swept:
        values.update(other.layers_from_log(log, kernel_us))
    values.update(log.summary(log.job_ids("loop:traced")))
    values["session.get_spark.s"] = statistics.median(bench.session_s)
    values["trace.overhead_pct"] = (plain.items_per_s - traced.items_per_s) / plain.items_per_s * 100
    traced.check((plain.attempted, plain.failed))
    return traced, values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # everything Spark and Python spill stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no hsperfdata file in /tmp
    tempfile.tempdir = None

    import pdf_extraction_spark

    if os.path.dirname(os.path.abspath(pdf_extraction_spark.__file__)) != os.path.join(ROOT, PACKAGE):
        print(f"perfbench: {PACKAGE} imported from outside {ROOT}", file=sys.stderr)
        return 2

    from perfbench.rss import RssSampler
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=False)
    bench = Bench(args, work, tracer)
    try:
        with RssSampler() as rss:
            # a traced run reports no setup_s, so it sets up once
            wl, setup_times = _set_up(bench, WORKLOADS[args.workload], 1 if args.trace else SETUP_REPS)
            if args.trace:
                out, layer_values = _traced(bench, wl, args.seconds)
            else:
                out = wl.run(args.seconds)
    finally:
        bench.shutdown()
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces",
                                  f"{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "level": "local[4]",
            "setup_reps": len(setup_times), **out.info}
    if args.trace:
        info["spans"] = len(tracer.spans)
    print("info " + json.dumps(info))
    shown = dict(out.shown)
    shown.update({
        "setup_s": (statistics.median(setup_times), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "error_rate": (out.failed / max(out.attempted, 1), "ratio"),
    })
    for name, (value, unit) in shown.items():
        print(f"metric {name} = {value:.6g} {unit}")

    if args.trace:
        values, units = layer_values, PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(setup_times),
            "items_per_s": out.items_per_s,
            "op_p50_ms": out.op_p50_ms,
            "peak_rss_mb": rss.peak_mb,
        }
        units = END_TO_END
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
