"""The four workloads.

Each workload has
- ``setup()``: inputs from the seed, the program-side tables, reference
  results (timed as ``setup_s``);
- ``warm_up()``: one untimed operation so the loop starts warm;
- ``run(seconds)``: the closed loop that the end-to-end metrics come from,
  with every output checked against the reference;
- ``layers(out)``: the traced pass that gives its layers' per-layer
  metrics, its checks counted into ``out``.

Sizes are for a 4-core box and scale with ``Bench.scale``.
"""

import os
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from pdf_extraction_spark.operators.embed import embed_documents
from pdf_extraction_spark.operators.extract import extract_parse
from pdf_extraction_spark.plans import pipeline as P
from pdf_extraction_spark.plans.lineage import completed_buckets, run_checkpointed_extraction
from pdf_extraction_spark.plans.rag import rag_context, rag_search
from pdf_extraction_spark.sources.pages import read_pages

from perfbench import gates, inputs
from perfbench.tracing import PY_RECEIVED, PY_SENT

CORES = 4
N_FILES = 8  # input files per pages table; Spark packs them into ~CORES tasks


def _median(xs):
    """Median; 0.0 when there were no samples."""
    return statistics.median(xs) if xs else 0.0


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / 1e6


class Deadline:
    """Closed-loop budget: start another operation only if, at the mean
    wall time per operation so far (checks included), it ends in time."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.end = self.start + seconds

    def more(self, done: int, min_ops: int = 1) -> bool:
        now = time.perf_counter()
        step = (now - self.start) / done if done else 0.0
        return done < min_ops or now + step <= self.end


class Outcome:
    """What one measured loop produced."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.items_per_s = float("nan")
        self.op_p50_ms = float("nan")
        self.shown = {}  # workload-specific metrics: name -> (value, unit)
        self.info = {}

    def check(self, attempted_failed):
        a, f = attempted_failed
        self.attempted += a
        self.failed += f


class Workload:
    name = ""

    def __init__(self, bench):
        self.bench = bench

    @property
    def spark(self):
        return self.bench.spark

    def fresh_dir(self, *parts) -> str:
        path = self.bench.path(self.name, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def span(self, name, **attrs):
        return self.bench.tracer.span(name, **attrs)

    def pages_dir(self, make_rows=inputs.synth_rows, reference=False) -> str:
        """Generate the seeded pages table, and its reference digests, into
        a fresh directory; every set-up does this."""
        rows = make_rows(self.bench.seed, self.bench.size(self.DOCS))
        self.n_docs = len(rows)
        self.payload_mb = inputs.payload_mb(rows)
        if reference:
            self.reference, self.n_turns = gates.reference_digests(rows)
        return inputs.write_pages(rows, self.fresh_dir("pages"), N_FILES)

    def layers_from_log(self, log, kernel_us_per_doc) -> dict:
        """Per-layer metrics read from the Spark event log after the run."""
        return {}


# --------------------------------------------------------------------------


class ExtractPages(Workload):
    """Synth pages → ``extract_parse``; local[4] jobs interleaved with
    single-core jobs on the same input."""

    name = "extract_pages"
    DOCS = 3000
    PATTERN = (4, 4, 1)  # two 4-core jobs per single-core job

    def setup(self):
        self.pages = read_pages(self.spark, self.pages_dir(reference=True))
        self.inject_url = min(self.reference) if self.bench.inject else None

    def warm_up(self):
        # the JVM keeps compiling for several jobs; four bring the job time
        # close to its plateau
        for cores in (CORES, CORES, 1, CORES):
            self._job(self._input(cores))

    def _input(self, cores):
        """The whole table, or the same table as one partition so that one
        task, on one core, does the job."""
        return self.pages if cores == CORES else self.pages.coalesce(1)

    def _job(self, pages):
        docs = extract_parse(pages)
        if self.inject_url:
            docs = docs.withColumn(
                "text",
                F.when(F.col("url") == self.inject_url, F.concat("text", F.lit("!"))).otherwise(F.col("text")),
            )
        return [(r[0], r[1]) for r in docs.select("url", gates.digest_col()).collect()]

    def run(self, seconds):
        out = Outcome()
        legs = {CORES: [], 1: []}
        loop = Deadline(seconds)
        i = 0
        while loop.more(i, min_ops=len(self.PATTERN)):
            cores = self.PATTERN[i % len(self.PATTERN)]
            i += 1
            with self.span("operators.extract.extract_parse", cores=cores):
                t0 = time.perf_counter()
                got = self._job(self._input(cores))
                legs[cores].append(time.perf_counter() - t0)
            out.check(gates.compare_digests(got, self.reference))
        dps = self.n_docs / _median(legs[CORES])
        dps1 = self.n_docs / _median(legs[1])
        out.items_per_s = dps
        out.op_p50_ms = _median(legs[CORES]) * 1e3
        out.shown = {
            "docs_per_s": (dps, "1/s"),
            "docs_per_s_1core": (dps1, "1/s"),
            "scaling_eff_1_to_4": (dps / dps1 / CORES, "ratio"),
        }
        out.info = {
            "docs": self.n_docs,
            "turns": self.n_turns,
            "payload_mb": round(self.payload_mb, 3),
            "levels": {f"local[{CORES}]": len(legs[CORES]), "single-core": len(legs[1])},
            "op_s": {str(k): [round(x, 3) for x in v] for k, v in legs.items()},
        }
        return out

    def layers(self, out):
        times = []
        self.bench.group("layer:extract")
        for _ in range(3):
            with self.span("operators.extract.extract_parse", cores=CORES):
                t0 = time.perf_counter()
                got = self._job(self.pages)
                times.append(time.perf_counter() - t0)
            out.check(gates.compare_digests(got, self.reference))
        self.extract_s = _median(times)
        return {"operators.extract.extract_parse.s": self.extract_s}

    def layers_from_log(self, log, kernel_us_per_doc):
        jobs = log.job_ids("layer:extract")
        return {
            "operators.extract.overhead_us_per_doc": self.extract_s * CORES / self.n_docs * 1e6 - kernel_us_per_doc,
            "operators.extract.arrow_mb_to_python": log.accum_total(jobs, PY_SENT) / 1e6 / max(len(jobs), 1),
            "operators.extract.arrow_mb_from_python": log.accum_total(jobs, PY_RECEIVED) / 1e6 / max(len(jobs), 1),
        }


# --------------------------------------------------------------------------


class ChunkPipeline(Workload):
    """Materialized turns → filter → categorize → score, then executives,
    category report and the partitioned write."""

    name = "chunk_pipeline"
    DOCS = 200

    def setup(self):
        turns_dir = self.fresh_dir("turns")
        P.turns_table(read_pages(self.spark, self.pages_dir())).write.parquet(turns_dir)
        self.turns = self.spark.read.parquet(turns_dir)
        turn_rows = self.turns.select("speaker", "content", "chunk_id", "company").collect()
        self.n_turns = len(turn_rows)
        self.ref_rows, self.ref_report = gates.reference_chunks(turn_rows)

    def warm_up(self):
        for k in range(2):
            self._verify(*self._op(self.fresh_dir(f"out-warmup{k}")))

    def _op(self, out_dir):
        scored = P.scored_chunks(P.categorized_chunks(P.filtered_chunks(self.turns)))
        P.executive_chunks(scored).count()
        report = P.category_report(scored).select("company", "category", "total_documents").collect()
        P.write_partitioned(scored, out_dir)
        return out_dir, report

    def _verify(self, out_dir, report):
        written = self.spark.read.schema(
            "chunk_id string, quality_score double, company string, category string"
        ).parquet(out_dir)
        got = Counter(tuple(r) for r in written.select("chunk_id", "category", "quality_score").collect())
        a, f = gates.compare_counters(got, self.ref_rows)
        groups = {(r[0], r[1]): r[2] for r in report}
        keys = set(groups) | set(self.ref_report)
        f += sum(1 for key in keys if groups.get(key) != self.ref_report.get(key))
        shutil.rmtree(out_dir, ignore_errors=True)
        return a + len(keys), f

    def run(self, seconds):
        out = Outcome()
        times = []
        loop = Deadline(seconds)
        while loop.more(len(times)):
            out_dir = self.fresh_dir(f"out-{len(times)}")
            with self.span("plans.pipeline.chunk_job"):
                t0 = time.perf_counter()
                result = self._op(out_dir)
                times.append(time.perf_counter() - t0)
            out.check(self._verify(*result))
        out.items_per_s = self.n_turns / _median(times)
        out.op_p50_ms = _median(times) * 1e3
        out.shown = {"turns_per_s": (out.items_per_s, "1/s")}
        out.info = {"docs": self.n_docs, "turns": self.n_turns, "payload_mb": round(self.payload_mb, 3),
                    "jobs": len(times), "op_s": [round(x, 3) for x in times]}
        return out

    def layers(self, out):
        """Each stage's input is persisted first, so each time is the
        stage's own."""
        self.bench.group("layer:chunk")
        turns = self.turns.persist()
        n_turns = turns.count()
        persisted = [turns]

        def stage(name, build):
            with self.span(name) as sp:
                t0 = time.perf_counter()
                df = build().persist()
                n = df.count()
                dt = time.perf_counter() - t0
            persisted.append(df)
            return df, n, dt

        kept, n_kept, t_filter = stage("operators.filters", lambda: P.filtered_chunks(turns))
        cats, n_cats, t_cat = stage("operators.categorize", lambda: P.categorized_chunks(kept))
        scored, n_scored, t_q = stage("operators.project.quality_score", lambda: P.scored_chunks(cats))
        with self.span("operators.executives"):
            t0 = time.perf_counter()
            n_exec = P.executive_chunks(scored).count()
            t_exec = time.perf_counter() - t0
        with self.span("plans.pipeline.category_report"):
            t0 = time.perf_counter()
            P.category_report(scored).collect()
            t_rep = time.perf_counter() - t0
        out_dir = self.fresh_dir("out-layers")
        with self.span("plans.pipeline.write_partitioned"):
            t0 = time.perf_counter()
            P.write_partitioned(scored, out_dir)
            t_write = time.perf_counter() - t0
        output_mb = du_mb(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        for df in persisted:
            df.unpersist()
        return {
            "operators.filters.s": t_filter,
            "operators.filters.keep_ratio": n_kept / max(n_turns, 1),
            "operators.categorize.s": t_cat,
            "operators.categorize.fanout": n_cats / max(n_kept, 1),
            "operators.project.quality_score.s": t_q,
            "operators.executives.s": t_exec,
            "operators.executives.match_ratio": n_exec / max(n_scored, 1),
            "plans.pipeline.category_report.s": t_rep,
            "plans.pipeline.write_partitioned.s": t_write,
            "plans.pipeline.output_mb": output_mb,
        }


# --------------------------------------------------------------------------


class CheckpointResume(Workload):
    """Common-Crawl-sized pages through bucket-checkpointed extraction:
    a fresh run, a run stopped at a middle bucket, and its resume."""

    name = "checkpoint_resume"
    DOCS = 240
    BUCKETS = 4

    def setup(self):
        self.pages = read_pages(self.spark, self.pages_dir(inputs.cc_rows, reference=True))

    def warm_up(self):
        self._iteration(Outcome(), "warmup")

    def _verify(self, stats):
        docs = self.spark.read.parquet(stats["docs_path"])
        got = [(r[0], r[1]) for r in docs.select("url", gates.digest_col()).collect()]
        a, f = gates.compare_digests(got, self.reference)
        lineage = self.spark.read.parquet(stats["lineage_path"])
        committed = lineage.agg(F.sum("doc_count")).first()[0]
        f += int(committed != self.n_docs) + int(stats["total_docs"] != self.n_docs)
        return a + 2, f

    def _iteration(self, out, tag, group=None):
        """Fresh run, stopped run, resume. Returns (fresh s, resume s,
        buckets re-run on resume)."""
        fresh_dir = self.fresh_dir(f"{tag}-fresh")
        stop_dir = self.fresh_dir(f"{tag}-resume")
        mid = self.BUCKETS // 2
        self.bench.group(group and f"{group}:fresh")
        with self.span("plans.lineage.run_checkpointed_extraction", mode="fresh"):
            t0 = time.perf_counter()
            stats = run_checkpointed_extraction(self.spark, self.pages, fresh_dir, n_buckets=self.BUCKETS)
            fresh_s = time.perf_counter() - t0
        out.check(self._verify(stats))

        self.bench.group(group and f"{group}:stopped")
        stopped = False
        with self.span("plans.lineage.run_checkpointed_extraction", mode="stopped"):
            try:
                run_checkpointed_extraction(
                    self.spark, self.pages, stop_dir, n_buckets=self.BUCKETS, fail_bucket=mid
                )
            except RuntimeError:
                stopped = True
        done_before = completed_buckets(self.spark, os.path.join(stop_dir, "lineage"))

        self.bench.group(group and f"{group}:resume")
        with self.span("plans.lineage.run_checkpointed_extraction", mode="resume"):
            t0 = time.perf_counter()
            stats = run_checkpointed_extraction(self.spark, self.pages, stop_dir, n_buckets=self.BUCKETS)
            resume_s = time.perf_counter() - t0
        recomputed = len(set(stats["processed_buckets"]) & done_before)
        a, f = self._verify(stats)
        ok_resume = stopped and done_before == set(range(mid)) and set(stats["skipped_buckets"]) == done_before
        out.check((a + 1, f + int(not ok_resume or recomputed > 0)))
        self.staged_mb = du_mb(os.path.join(fresh_dir, "staged"))
        shutil.rmtree(fresh_dir, ignore_errors=True)
        shutil.rmtree(stop_dir, ignore_errors=True)
        return fresh_s, resume_s, recomputed

    def run(self, seconds):
        out = Outcome()
        fresh, resume = [], []
        loop = Deadline(seconds)
        while loop.more(len(fresh)):
            f_s, r_s, _ = self._iteration(out, f"it{len(fresh)}")
            fresh.append(f_s)
            resume.append(r_s)
        out.items_per_s = self.n_docs / _median(fresh)
        out.op_p50_ms = _median(resume) * 1e3
        out.shown = {
            "ckpt_docs_per_s": (out.items_per_s, "1/s"),
            "resume_s": (_median(resume), "s"),
        }
        out.info = {"docs": self.n_docs, "payload_mb": round(self.payload_mb, 3),
                    "buckets": self.BUCKETS, "iterations": len(fresh)}
        return out

    def layers(self, out):
        _fresh, _resume, recomputed = self._iteration(out, "layers", group="layer:lineage")
        return {"plans.lineage.staged_mb": self.staged_mb,
                "plans.lineage.buckets_recomputed": recomputed}

    def layers_from_log(self, log, _kernel_us_per_doc):
        fresh = log.job_ids("layer:lineage:fresh")
        bucket_jobs = [j for j in fresh if log.accum_total([j], PY_SENT) > 0]
        return {
            "plans.lineage.stage_s": log.job_seconds(fresh[0]) if fresh else 0.0,
            "plans.lineage.bucket_job_s_p50": _median([log.job_seconds(j) for j in bucket_jobs]),
        }


# --------------------------------------------------------------------------


class RagQuery(Workload):
    """One client, closed loop: seeded questions → rag_search + rag_context
    over an embedded chunks table cached in memory."""

    name = "rag_query"
    DOCS = 200
    K = 5
    AS_OF = "2025-05-01"
    MIN_QUERIES = 10

    def setup(self):
        chunks = P.scored_chunks(P.filtered_chunks(P.turns_table(read_pages(self.spark, self.pages_dir()))))
        chunks = chunks.withColumn("vec_id", F.concat_ws("#", "url", F.col("turn_pos").cast("string")))
        table_dir = self.fresh_dir("chunks")
        embed_documents(chunks).select(
            "vec_id", "chunk_id", "company", "date", "speaker", "content", "quality_score", "embedding"
        ).write.parquet(table_dir)
        self.table = self.spark.read.parquet(table_dir).cache()
        table_rows = self.table.collect()
        self.n_chunks = len(table_rows)
        self.reference = gates.RagReference(table_rows, self.AS_OF)
        self.questions = inputs.questions(self.bench.seed, 500)

    def warm_up(self):
        for q in self.questions[-10:]:
            self._query(q, Outcome())

    def _query(self, q, out):
        question, company = q
        with self.span("plans.rag.query"):
            t0 = time.perf_counter()
            with self.span("plans.rag.rag_search"):
                top = rag_search(self.table, question, k=self.K, company_filter=company,
                                 as_of=self.AS_OF, id_cols=("vec_id",))
                rows = top.collect()
            with self.span("plans.rag.rag_context"):
                context = rag_context(top)
            dt = time.perf_counter() - t0
        ok = self.reference.check(question, company, self.K, rows, context)
        out.check((1, int(not ok)))
        return dt

    def run(self, seconds):
        out = Outcome()
        lat = []
        loop = Deadline(seconds)
        while loop.more(len(lat), self.MIN_QUERIES):
            lat.append(self._query(self.questions[len(lat) % len(self.questions)], out))
        p50 = statistics.median(lat)
        p90 = statistics.quantiles(lat, n=10)[8]
        out.items_per_s = len(lat) / sum(lat)
        out.op_p50_ms = p50 * 1e3
        out.shown = {
            "query_p50_ms": (p50 * 1e3, "ms"),
            "query_p90_ms": (p90 * 1e3, "ms"),
            "queries_per_s": (out.items_per_s, "1/s"),
        }
        out.info = {"docs": self.n_docs, "chunks": self.n_chunks, "queries": len(lat),
                    "payload_mb": round(self.payload_mb, 3), "clients": 1,
                    "op_s": [round(x, 3) for x in lat]}
        return out

    def layers(self, out):
        sc = self.spark.sparkContext
        jobs = []
        n = 12
        start = len(self.bench.tracer.spans)
        for i in range(n):
            group = f"layer:rag:{i}"
            self.bench.group(group)
            self._query(self.questions[i], out)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        spans = self.bench.tracer.spans[start:]

        def ms(name):
            return _median([(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name])

        return {
            "plans.rag.rag_search.ms": ms("plans.rag.rag_search"),
            "plans.rag.rag_context.ms": ms("plans.rag.rag_context"),
            "plans.rag.jobs_per_query": sum(jobs) / n,
        }


WORKLOADS = {w.name: w for w in (ExtractPages, ChunkPipeline, CheckpointResume, RagQuery)}
