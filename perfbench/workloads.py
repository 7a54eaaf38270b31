"""The benchmark's workloads and the per-layer numbers of a traced run.

Every workload is a closed loop with one client: submit one job, wait for
its committed (or collected) result, check it, submit the next.  A run
measures until ``seconds`` have passed and at least ``min_samples`` jobs
finished, and reports medians over the measured jobs.

- ``extract``: ``pipeline.run_extraction_pipeline`` into a fresh output
  directory over a pre-materialized pages corpus.
- ``extract_resume``: the same call into a directory that already holds
  committed results for a seed-chosen half of the urls, so the job reads
  its own output, anti-joins, extracts the other half and appends.
- ``corpus_queries``: one job is a pass over 18 ``__spark_entry__``
  queries in a seed-chosen order, each built and collected in turn.

Layers are measured only from outside ``doctor_spark``: spans around the
calls the benchmark makes, Spark's status stores read after each job, and
kernel timings taken in this process on a fixed sample of documents.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import inputs
from .procs import PeakRss, tree_cpu_s
from .sparkstats import RunStats, StatusReader

QUERIES = (
    # JVM-only controls
    "events_daily", "lineitem_pricing", "order_revenue_topk",
    # the dedup family
    "dedup_minhash_pairs_w128", "containment_est", "dedup_filtered_corpus",
    "clean_corpus", "verified_neardup",
    # short Arrow-UDF stages
    "text_quality", "lang_id", "pii_scrub", "boilerplate_corpus",
    "page_metadata", "readability",
    # iterative multi-job queries
    "bm25_topk", "redirect_resolve", "link_pagerank",
    # one converter
    "pdf_thumbnails",
)
DOC_QUERIES = len(QUERIES) - 3  # all but the three JVM-only controls
# the extraction MapInPandas node's boundary metrics: name -> RunStats key
EXTRACT_NODE_METRICS = {
    "extract.python_boot_s": "boot_s",
    "extract.python_init_s": "init_s",
    "extract.python_run_s": "run_s",
    "extract.arrow_sent_mb": "sent_mb",
    "extract.arrow_recv_mb": "recv_mb",
}
KERNEL_EXTS = ("html", "pdf", "txt", "docx", "doc", "wpd", "bin")
SETUP_REPEATS = 3
RUN_CAP_S = 140.0  # no job starts after this much of a run has passed


@dataclass(frozen=True)
class Sizes:
    pages: int  # documents in the extraction corpus
    query_docs: int  # rows of the corpus queries' documents table


SIZES = {
    "full": Sizes(pages=10_000, query_docs=500),
    "tiny": Sizes(pages=400, query_docs=120),
}


@dataclass
class Sample:
    wall_s: float
    cpu_s: float
    rss_mb: float
    docs: int
    traced: bool
    layers: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans: name, start, end, parent and run id, plus any
    counters attached to them.  Disabled, ``span`` records nothing."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def annotate(self, **attrs) -> None:
        """Attach counters to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]].update(attrs)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark invocation of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: Path, cache: Path, sizes: Sizes, inject: str | None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache = cache
        self.sizes = sizes
        self.inject = inject
        self.rng = random.Random(seed)
        self.tracer = Tracer(f"{workload}-{seed}")
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.layers_once: dict[str, float] = {}
        self.phases: dict[str, float] = {}  # seconds since start, per phase end
        self.cores = len(os.sched_getaffinity(0))
        self._t0 = time.monotonic()

    # -- orchestration ----------------------------------------------------

    def execute(self) -> dict:
        from doctor_spark.session import get_spark

        self.tracer.enabled = self.trace
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench", cores=self.cores)
            self.setup["session.start_s"] = time.perf_counter() - t
        self.rss = PeakRss(os.getpid()).start()
        self.reader = StatusReader(self.spark) if self.trace else None
        try:
            prepare, job = {
                "extract": (self._prep_extract, self._job_extract),
                "extract_resume": (self._prep_resume, self._job_resume),
                "corpus_queries": (self._prep_queries, self._job_queries),
            }[self.workload]
            self.phases["session"] = time.monotonic() - self._t0
            prepare()
            self.phases["prepare"] = time.monotonic() - self._t0
            samples = self._measure(job)
            self.phases["measure"] = time.monotonic() - self._t0
            if self.trace:
                self.layers_once.update(self._kernel_layer())
        finally:
            self.rss.stop()
            self.spark.stop()
        return self._summarize(samples)

    @property
    def cold_first(self) -> bool:
        """corpus_queries measures the session's first pass over the
        queries, cold Python workers and JIT included: a query batch is
        typically an application of its own.  One pass is the most work
        the benchmark's time budget allows per run."""
        return self.workload == "corpus_queries"

    def _traced(self, i: int) -> bool:
        # a traced run leaves some jobs untraced, so the tracing overhead
        # is measured within the run: T U T ... for the extraction
        # workloads; the cold pass traced, then a warm U T pair for
        # corpus_queries
        return self.trace and (i != 1 if self.cold_first else i % 2 == 0)

    def _measure(self, job) -> list[Sample]:
        if self.cold_first:
            lo = hi = 3 if self.trace else 1
        else:
            lo, hi = (3 if self.trace else 4), None
        samples: list[Sample] = []
        start = time.monotonic()
        longest = 0.0
        while True:
            traced = self._traced(len(samples))
            self.tracer.enabled = traced
            t = time.monotonic()
            with self.tracer.span("job", index=len(samples)):
                samples.append(job(traced))
            self.tracer.enabled = self.trace
            longest = max(longest, time.monotonic() - t)
            n = len(samples)
            done = n == hi or (time.monotonic() - start >= self.seconds
                               and n >= lo)
            out_of_time = (time.monotonic() - self._t0 + 1.5 * longest
                           > RUN_CAP_S)
            if done or out_of_time:
                return samples

    @contextlib.contextmanager
    def _window(self, traced: bool):
        """Time, CPU and peak RSS of one job; status-store counters are
        read after the window closes so reading them is never timed."""
        mark = self.reader.mark() if traced else None
        box: dict = {}
        self.rss.take()
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        yield box
        box["wall_s"] = time.perf_counter() - t0
        box["cpu_s"] = tree_cpu_s(os.getpid()) - c0
        box["rss_mb"] = self.rss.take()
        if traced:
            box["stats"] = self.reader.since(mark)
            self.tracer.annotate(spark=dataclasses.asdict(box["stats"]))

    # -- extraction workloads --------------------------------------------

    def _materialize_pages(self, n_docs: int) -> None:
        self.offset = inputs.corpus_offset(self.seed)
        self.n_docs = n_docs
        self.pages_path = self.work / "pages"
        corrupt = self.offset + 7 if self.inject == "golden" else None
        times = []
        for _ in range(SETUP_REPEATS):
            with self.tracer.span("corpus.materialize", docs=n_docs):
                t = time.perf_counter()
                inputs.materialize_pages(self.spark, self.pages_path,
                                         self.offset, n_docs, corrupt)
                times.append(time.perf_counter() - t)
        self.setup["corpus.gen_s"] = _median(times)
        self.setup["corpus.docs_per_s"] = n_docs / _median(times)
        self.pages = self.spark.read.parquet(str(self.pages_path))

    def _prep_extract(self) -> None:
        from doctor_spark.pipeline import run_extraction_pipeline

        self._materialize_pages(self.sizes.pages)
        self.new_docs = self.n_docs
        with self.tracer.span("warmup"):
            # untimed jobs boot and import every Python worker and let the
            # JVM compile both the per-document and the per-job hot paths
            t = time.perf_counter()
            for band in (None, (0.0, 0.1)):
                run_extraction_pipeline(
                    self.spark, self.pages, str(self.work / "warmup"),
                    run_id="warmup", sample_band=band)
                shutil.rmtree(self.work / "warmup")
            self.layers_once["session.warmup_s"] = time.perf_counter() - t

    def _prep_resume(self) -> None:
        from doctor_spark.pipeline import run_extraction_pipeline

        self._materialize_pages(self.sizes.pages)
        salt = f"perfbench-{self.seed}"
        self.template = self.work / "seeded"
        times = []
        for i in range(SETUP_REPEATS):
            shutil.rmtree(self.template, ignore_errors=True)
            with self.tracer.span("pipeline.seed_resume"):
                t = time.perf_counter()
                run_extraction_pipeline(
                    self.spark, self.pages, str(self.template),
                    run_id="seed", sample_band=(0.0, 0.5), sample_salt=salt,
                )
                times.append(time.perf_counter() - t)
        # the first, cold seeding run doubles as this workload's warm-up
        self.layers_once["session.warmup_s"] = times[0]
        self.setup["pipeline.seed_s"] = _median(times)
        seeded = self.spark.read.parquet(
            str(self.template / "extracted")).count()
        self.new_docs = self.n_docs - seeded

    def _job_extract(self, traced: bool) -> Sample:
        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        return self._pipeline_job(out, traced)

    def _job_resume(self, traced: bool) -> Sample:
        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out)
        return self._pipeline_job(out, traced)

    def _pipeline_job(self, out: Path, traced: bool) -> Sample:
        from doctor_spark import pipeline

        probe = {"s": 0.0}
        original = pipeline.resume_done_urls

        def timed_probe(*args, **kwargs):
            with self.tracer.span("pipeline.resume_done_urls"):
                t = time.perf_counter()
                try:
                    return original(*args, **kwargs)
                finally:
                    probe["s"] += time.perf_counter() - t

        if traced:
            pipeline.resume_done_urls = timed_probe
        try:
            with self._window(traced) as box:
                with self.tracer.span("pipeline.run_extraction_pipeline"):
                    summary = pipeline.run_extraction_pipeline(
                        self.spark, self.pages, str(out), run_id="bench")
        finally:
            pipeline.resume_done_urls = original
        bad, verify_s = self._check_pipeline_output(summary["results_path"])
        self.attempted += self.n_docs
        self.failed += bad
        sample = Sample(box["wall_s"], box["cpu_s"], box["rss_mb"],
                        self.new_docs, traced)
        if traced:
            st: RunStats = box["stats"]
            results = Path(summary["results_path"])
            files = list(results.rglob("*.parquet"))
            sample.layers = {
                **self._spark_layer(st, box["wall_s"]),
                **self._python_layer(st),
                **{name: st.python_sum(key, "MapInPandas")
                   for name, key in EXTRACT_NODE_METRICS.items()},
                "pipeline.resume_probe_s": probe["s"],
                "pipeline.verify_s": verify_s,
                "pipeline.jobs": st.jobs,
                "pipeline.output_files": len(files),
                "pipeline.output_mb": sum(f.stat().st_size for f in files) / 1e6,
                "pipeline.write_task_s": st.commit_s,
            }
        shutil.rmtree(out)
        return sample

    def _check_pipeline_output(self, results_path: str) -> tuple[int, float]:
        """Documents wrong in the committed table (content not
        byte-identical to its golden, url missing, or url duplicated), and
        the seconds ``verify_extraction`` took."""
        from pyspark.sql import functions as F

        from doctor_spark.pipeline import verify_extraction

        with self.tracer.span("pipeline.verify_extraction"):
            t = time.perf_counter()
            mismatched = verify_extraction(self.spark, self.pages, results_path)
            verify_s = time.perf_counter() - t
        got = self.spark.read.parquet(results_path).agg(
            F.count("*").alias("rows"),
            F.countDistinct("url").alias("urls"),
        ).collect()[0]
        missing = self.n_docs - got["urls"]
        duplicated = got["rows"] - got["urls"]
        return mismatched + max(missing, 0) + duplicated, verify_s

    # -- corpus queries ---------------------------------------------------

    def _prep_queries(self) -> None:
        import __spark_entry__ as entry

        self.tables = self.work / "tables"
        times = []
        for _ in range(SETUP_REPEATS):
            with self.tracer.span("corpus.materialize",
                                  docs=self.sizes.query_docs):
                t = time.perf_counter()
                inputs.write_query_tables(self.tables, self.sizes.query_docs)
                times.append(time.perf_counter() - t)
        self.setup["corpus.gen_s"] = _median(times)
        self.setup["corpus.docs_per_s"] = self.sizes.query_docs / _median(times)
        self.builders = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.order = list(QUERIES)
        self.rng.shuffle(self.order)
        self.new_docs = DOC_QUERIES * self.sizes.query_docs
        # oracle results are computed (or read from the cache) outside
        # set-up and outside every timed window
        self.oracles = inputs.OracleCache(self.tables, self.cache / "oracles")
        self.wanted = {n: self.oracles.result(self.oracle_sql[n])
                       for n in QUERIES}
        if self.inject == "oracle":
            victim = self.wanted["events_daily"].copy()
            victim.loc[0, "n_events"] += 1
            self.wanted["events_daily"] = victim

    def _job_queries(self, traced: bool) -> Sample:
        wall = cpu = rss = 0.0
        layers: dict[str, float] = {}
        stats = RunStats()
        for name in self.order:
            with self.tracer.span(f"entry.{name}"):
                ok, box, plan_s = self._one_query(name, traced)
            self.attempted += 1
            self.failed += 0 if ok else 1
            wall += box["wall_s"]
            cpu += box["cpu_s"]
            rss = max(rss, box["rss_mb"])
            if traced:
                st: RunStats = box["stats"]
                layers[f"entry.{name}.plan_s"] = plan_s
                layers[f"entry.{name}.wall_s"] = box["wall_s"]
                layers[f"entry.{name}.jobs"] = st.jobs
                _accumulate(stats, st)
        if traced:
            layers.update(self._spark_layer(stats, wall))
            layers.update(self._python_layer(stats))
        return Sample(wall, cpu, rss, self.new_docs, traced, layers)

    def _one_query(self, name: str, traced: bool):
        got = None
        plan_s = 0.0
        with self._window(traced) as box:
            try:
                t = time.perf_counter()
                df = self.builders[name](self.spark, str(self.tables))
                plan_s = time.perf_counter() - t
                got = df.toPandas()
            except Exception as exc:  # a failing query is counted, not fatal
                print(f"query {name} raised {type(exc).__name__}: {exc}",
                      flush=True)
        ok = got is not None and inputs.same_result(
            inputs.normalize(got), self.wanted[name])
        if got is not None and not ok:
            print(f"query {name}: result differs from its oracle", flush=True)
        return ok, box, plan_s

    # -- layers -------------------------------------------------------------

    def _spark_layer(self, st: RunStats, wall: float) -> dict:
        return {
            "spark.jobs": st.jobs,
            "spark.stages": st.stages,
            "spark.tasks": st.tasks,
            "spark.failed_tasks": st.failed_tasks,
            "spark.executor_run_s": st.executor_run_s,
            "spark.executor_cpu_s": st.executor_cpu_s,
            "spark.jvm_gc_s": st.jvm_gc_s,
            "spark.shuffle_write_mb": st.shuffle_write_mb,
            "spark.shuffle_read_mb": st.shuffle_read_mb,
            "spark.broadcast_mb": st.broadcast_mb,
            "spark.input_mb": st.input_mb,
            "spark.busy_frac": st.executor_run_s / (wall * self.cores),
        }

    def _python_layer(self, st: RunStats) -> dict:
        init, run = st.python_sum("init_s"), st.python_sum("run_s")
        return {
            "python.nodes": len(st.python_nodes),
            "python.boot_s": st.python_sum("boot_s"),
            "python.init_s": init,
            "python.run_s": run,
            "python.sent_mb": st.python_sum("sent_mb"),
            "python.recv_mb": st.python_sum("recv_mb"),
            "python.init_share": init / (init + run) if init + run else 0.0,
        }

    def _kernel_layer(self, budget_s: float = 0.15) -> dict:
        """Single-thread cost of ``extract_document`` per url extension and
        of ``classify``, on the first 300 generator ids (24 docs per
        extension at most)."""
        from doctor_spark.corpus import generate_page
        from doctor_spark.kernels.extract import extract_document
        from doctor_spark.kernels.sniff import classify

        by_ext: dict[str, list[tuple[str, bytes]]] = {e: [] for e in KERNEL_EXTS}
        for i in range(300):
            page = generate_page(i)
            docs = by_ext[page["url"].rsplit(".", 1)[1]]
            if len(docs) < 24:
                docs.append((page["url"], page["html"]))
        out: dict[str, float] = {}
        for ext, docs in by_ext.items():
            with self.tracer.span(f"kernels.{ext}"):
                for url, data in docs:  # untimed pass: imports, caches
                    extract_document(url, data, ocr_available=True)
                n = nbytes = 0
                t0 = time.perf_counter()
                while time.perf_counter() - t0 < budget_s:
                    for url, data in docs:
                        extract_document(url, data, ocr_available=True)
                    n += len(docs)
                    nbytes += sum(len(d) for _, d in docs)
                dt = time.perf_counter() - t0
            out[f"kernels.{ext}.us_per_doc"] = dt / n * 1e6
            out[f"kernels.{ext}.mb_per_s"] = nbytes / dt / 1e6
        every = [d for docs in by_ext.values() for d in docs]
        with self.tracer.span("kernels.sniff"):
            n, t0 = 0, time.perf_counter()
            while time.perf_counter() - t0 < budget_s:
                for url, data in every:
                    classify(url, data)
                n += len(every)
            out["kernels.sniff.us_per_doc"] = (time.perf_counter() - t0) / n * 1e6
        return out

    def _kernel_estimate_s(self, out: dict) -> float:
        """Kernel seconds one job needs, from the per-extension costs and
        the corpus's per-100-id format mix."""
        if self.workload == "corpus_queries":
            return 0.0
        from doctor_spark.corpus import generate_page

        mix: dict[str, int] = {}
        for i in range(self.offset, self.offset + inputs.CORPUS_SLICE):
            ext = generate_page(i)["url"].rsplit(".", 1)[1]
            mix[ext] = mix.get(ext, 0) + 1
        per_slice_us = sum(c * out[f"kernels.{e}.us_per_doc"]
                           for e, c in mix.items())
        return per_slice_us / 1e6 * self.new_docs / inputs.CORPUS_SLICE

    # -- result -------------------------------------------------------------

    def _summarize(self, samples: list[Sample]) -> dict:
        setup_s = (self.setup["session.start_s"] + self.setup["corpus.gen_s"]
                   + self.setup.get("pipeline.seed_s", 0.0))
        if not self.trace:
            wall = _median(s.wall_s for s in samples)
            metrics = {
                "wall_s": (wall, "s"),
                "docs_per_s": (_median(s.docs / s.wall_s for s in samples),
                               "1/s"),
                "cpu_s": (_median(s.cpu_s for s in samples), "s"),
                "setup_s": (setup_s, "s"),
            }
            extra = {"walls_s": [s.wall_s for s in samples]}
        else:
            traced = [s for s in samples if s.traced]
            measured = samples[:1] if self.cold_first else traced
            layers: dict[str, float] = {}
            for name in LAYER_METRICS:
                layers[name] = _median(s.layers.get(name, 0.0)
                                       for s in measured)
            layers.update(self.layers_once)
            layers.update({k: v for k, v in self.setup.items()
                           if k in LAYER_METRICS})
            # peak RSS is reported here, not end to end: under the
            # program's 48 GB JVM heap cap the heap's growth makes it
            # spread by up to 27% between runs, past any allowed bound
            layers["peak_rss_mb"] = _median(s.rss_mb for s in measured)
            layers["trace.wall_s"] = _median(s.wall_s for s in measured)
            pairs = samples[1:] if self.cold_first else samples
            on = [s.wall_s for s in pairs if s.traced]
            off = [s.wall_s for s in pairs if not s.traced]
            layers["trace.overhead_s"] = (
                _median(on) - _median(off) if on and off else 0.0)
            estimate = self._kernel_estimate_s(layers)
            run_s = layers["spark.executor_run_s"]
            layers["kernels.share_of_executor_run"] = (
                estimate / run_s if run_s else 0.0)
            metrics = {k: (layers.get(k, 0.0), LAYER_METRICS[k])
                       for k in LAYER_METRICS}
            extra = {"dominant_layer": dominant_layer(self.workload, layers,
                                                      self.cores),
                     "spans": len(self.tracer.spans)}
        return {
            "metrics": metrics,
            "attempted": self.attempted,
            "failed": self.failed,
            **extra,
        }


def _accumulate(into: RunStats, st: RunStats) -> None:
    for k, v in vars(st).items():
        if k == "python_nodes":
            into.python_nodes.extend(v)
        else:
            setattr(into, k, getattr(into, k) + v)


def dominant_layer(workload: str, m: dict, cores: int) -> str:
    """One line naming where a job's core-seconds go.

    wall x cores splits into idle cores (planning in the Spark JVM, scheduling
    and waits: wall x cores less executor run time) and executor run time;
    run time splits into kernel time (estimated from the kernel layer),
    other Python UDF time (python.run_s less the kernels) and the rest of
    the task time (JVM work, and tasks waiting on Python workers).  Spark's
    Python init time is printed beside the split, not inside it: it can
    overlap other task time."""
    cores_s = m["trace.wall_s"] * cores
    run = m["spark.executor_run_s"]
    kernel = m["kernels.share_of_executor_run"] * run
    py_run = max(m["python.run_s"] - kernel, 0.0)
    parts = {
        "kernels": kernel,
        "python UDF time outside the kernels": py_run,
        "other task time (JVM, waits on Python)": max(run - kernel - py_run, 0.0),
        "idle cores (planning, scheduling)": max(cores_s - run, 0.0),
    }
    top = max(parts, key=parts.get)
    shares = ", ".join(f"{k} {v / cores_s:.0%}" for k, v in parts.items())
    return (f"{workload}: dominant layer = {top}; share of wall x cores: "
            f"{shares}; python.init_s {m['python.init_s']:.2f} s vs "
            f"python.run_s {m['python.run_s']:.2f} s (summed over tasks); "
            f"kernel share of spark.executor_run_s "
            f"{m['kernels.share_of_executor_run']:.0%}")


def _layer_metric_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for ext in KERNEL_EXTS:
        units[f"kernels.{ext}.us_per_doc"] = "us"
        units[f"kernels.{ext}.mb_per_s"] = "MB/s"
    units["kernels.sniff.us_per_doc"] = "us"
    units["kernels.share_of_executor_run"] = "ratio"
    for name in EXTRACT_NODE_METRICS:
        units[name] = "MB" if name.endswith("_mb") else "s"
    units.update({
        "pipeline.resume_probe_s": "s", "pipeline.verify_s": "s",
        "pipeline.jobs": "count", "pipeline.output_files": "count",
        "pipeline.output_mb": "MB", "pipeline.write_task_s": "s",
        "python.nodes": "count", "python.boot_s": "s", "python.init_s": "s",
        "python.run_s": "s", "python.sent_mb": "MB", "python.recv_mb": "MB",
        "python.init_share": "ratio",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
        "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
        "spark.broadcast_mb": "MB", "spark.input_mb": "MB",
        "spark.busy_frac": "ratio",
    })
    for q in QUERIES:
        units[f"entry.{q}.plan_s"] = "s"
        units[f"entry.{q}.wall_s"] = "s"
        units[f"entry.{q}.jobs"] = "count"
    units.update({
        "session.start_s": "s", "session.warmup_s": "s",
        "corpus.gen_s": "s", "corpus.docs_per_s": "1/s",
        "trace.wall_s": "s", "trace.overhead_s": "s",
        "peak_rss_mb": "MB",
    })
    return units


LAYER_METRICS = _layer_metric_units()
