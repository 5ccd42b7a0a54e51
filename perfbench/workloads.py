"""The benchmark's workloads and the run skeleton they share.

A run is a closed loop in one driver process on ``local[nproc]``: one Spark
job or query at a time. It sets up once, measures passes for the requested
seconds, then checks every output outside the timed passes.

Workloads (why each one is here):

- ``extract_skew``: every 8th doc is a 4.5-13.5 MB many-block doc, so bytes
  and object graphs sit in a few docs: straggler tasks, byte-bounded Arrow
  batches and the kernel's per-batch ``gc.collect()`` dominate.
- ``queries``: driver-contract queries over seeded tables; never touches
  the extraction kernel, exercises ``relational``, ``textkit``, ``ann`` and
  ``streaming`` and the shared materializations (built by the cold pass,
  reused by the warm passes).
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from typing import Callable, Dict, List

from perfbench import checks, corpus
from perfbench.meter import PeakRss, ProcTree, process_start_age_s
from perfbench.trace import Tracer, stage_summary

MIN_WARM_PASSES = 3   # warm passes run even when the window has elapsed
# queries: cold + warm cycles, run even when the window has elapsed; the
# warm-up pass's tables have this share of the measured tables' rows
MIN_CYCLES = 2
WARM_PER_CYCLE = 2
WARMUP_SCALE = 0.02
MODULES = ("relational", "textkit", "ann", "streaming")

# The queries workload: (query, module whose run_* serves it). Chosen to
# cover the four query modules and the shared materializations (tokens,
# MinHash signatures, LSH pairs, CC labels, curation stages, simhash, ANN
# vectors, replay staging) inside one run's time budget; the remaining
# offline queries are left out for time, not for correctness.
QUERIES = (
    ("neardup_verified_pairs", "textkit"),
    ("simhash_clusters", "textkit"),
    ("ann_topk_lsh", "ann"),
    ("q3_shipping_priority", "relational"),
    ("stream_pii_screen", "streaming"),
)
# One cheap query per module: the extraction workloads' traced runs measure
# the query modules on these, the queries workload's traced run measures
# the extraction layers on a small extraction corpus, so every traced run
# reports every per-layer metric.
PROBE_QUERIES = (
    ("q3_shipping_priority", "relational"),
    ("simhash_clusters", "textkit"),
    ("ann_topk_lsh", "ann"),
    ("stream_pii_screen", "streaming"),
)
PROBE_DOCS = 64
# Driver-contract queries that read the external reference corpus
# (t2p_spark.fixtures.REF_JSON_DIR); never run here.
NEEDS_REFERENCE = {
    name: "reads the external reference corpus"
    for name in ("extract_fixture_spans", "extract_workspace_spans",
                 "extract_synth_corpus", "quarantine_reasons",
                 "quarantine_oversize", "multimodal_meta",
                 "multimodal_features", "media_phash_clusters",
                 "render_pagexml")
}


def resolve_queries(names, registry: Dict[str, Callable]) -> Dict[str, Callable]:
    """name -> query function, in the given order; unknown names raise."""
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise ValueError(f"unknown query names in the workload: {unknown}")
    blocked = [n for n in names if n in NEEDS_REFERENCE]
    if blocked:
        raise ValueError(f"queries needing the reference corpus: {blocked}")
    return {n: registry[n] for n in names}


def _warm(batches):
    """Worker-pool warm-up: import what the measured passes import."""
    import pyarrow as pa

    import pandas  # noqa: F401
    import perfbench.checks  # noqa: F401
    import perfbench.corpus  # noqa: F401
    import t2p_spark.kernel  # noqa: F401

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])


def _median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    """State of one benchmark run: paths, session, meter, tracer, tallies."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        work = os.path.join(root, "perfbench", "_work")
        self.cache_dir = os.path.join(work, "cache")
        self.trace_dir = os.path.join(work, "traces")
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.run_id = f"{workload}-s{seed}-{os.getpid()}"
        self.tree = ProcTree()
        self.tracer = Tracer(self.run_id, trace, self.tree)
        self.spark = None
        self.rss = None
        self.attempted = 0
        self.failed = 0
        self.notes: List[str] = []

    # --- environment and session ----------------------------------------

    def prepare_env(self) -> None:
        """Per-run TMPDIR and Spark dirs; PYTHONPATH for the workers."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # for every JVM spark-submit starts, the launcher's too: temp files
        # in the run dir, and no hsperfdata files in the system /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = \
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def start_session(self) -> None:
        from pyspark.sql import SparkSession

        n = self.cores
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.driver.memory", "3g")
            # a fixed heap keeps the JVM's share of peak_rss_gb from
            # following when G1 decides to grow the heap, and touching it
            # at start keeps the first touch of lazily backed VM memory
            # out of the measured passes; C1-only JIT
            # reaches its steady state within the first passes, where
            # C2 would still be compiling through the measured ones
            .config("spark.driver.extraJavaOptions",
                    "-Xms3g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.run_dir, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * n))
            .config("spark.default.parallelism", str(2 * n))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedTasks", "10000000")
            .config("spark.sql.files.maxPartitionBytes", "16m")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
            .config("spark.sql.parquet.columnarReaderBatchSize", "256")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warm_workers(self) -> None:
        n = self.cores
        (self.spark.range(0, 64 * n, numPartitions=2 * n)
         .mapInArrow(_warm, "n long").collect())

    def setup(self, wl) -> float:
        """Process start -> session up, Python worker pool warm (for a
        workload that runs Python workers), inputs staged or registered,
        the workload's lazy set-up done; returns seconds, less any time
        spent generating an uncached input."""
        since_start = process_start_age_s()
        t0 = time.perf_counter()
        self.start_session()
        if wl.python_workers:
            self.warm_workers()
        gen_s = wl.stage(self)
        return since_start + time.perf_counter() - t0 - gen_s

    def cleanup(self) -> None:
        """Stop Spark, end the JVM (and with it the Python workers) and
        wait for it, then delete the run's directories."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # --- operations -------------------------------------------------------

    def op(self, fn: Callable, what: str):
        """Run one job or query; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed op is reported, not fatal
            self.failed += 1
            self.notes.append(f"{what} raised:\n{traceback.format_exc()}")
            return None

    def mismatch(self, what: str) -> None:
        self.failed += 1
        self.notes.append(f"output check failed: {what}")

    def window_open(self, t_start: float, n_warm: int) -> bool:
        # a traced run needs four warm passes for one whole traced_pass cycle
        return (n_warm < MIN_WARM_PASSES + self.trace
                or time.perf_counter() - t_start < self.seconds)

    def traced_pass(self, i: int) -> bool:
        """In a traced run: the cold pass (0) is traced, and warm passes go
        untraced, traced, traced, untraced, ... so that the tracing overhead
        is measured within one run with the warm-up trend cancelled."""
        return self.trace and (i == 0 or i % 4 in (2, 3))

    def span(self, traced: bool, name: str, **attrs):
        return self.tracer.span(name, **attrs) if traced else nullcontext()


# --- extraction --------------------------------------------------------------

class ExtractWorkload:
    python_workers = True

    def __init__(self, name: str, n_docs: int, skew_every: int,
                 sample_docs: int) -> None:
        self.name = name
        self.n_docs = n_docs
        self.skew_every = skew_every
        self.sample_docs = sample_docs
        self.corpus = ""
        self.passes: List[dict] = []

    def stage(self, b: Bench) -> float:
        """Stage the corpus; returns the seconds spent generating it."""
        self.corpus, gen_s = corpus.stage_extract_corpus(
            b.spark, b.cache_dir, self.name, self.n_docs, b.seed,
            self.skew_every)
        b.spark.read.parquet(self.corpus).schema  # noqa: B018 — file listing
        return gen_s

    def _pass(self, b: Bench, i: int) -> None:
        from t2p_spark.checkpoint import run_extract_job

        traced = b.traced_pass(i)
        out = os.path.join(b.run_dir, f"out{i}")
        met = os.path.join(b.run_dir, f"metrics{i}")
        cpu0 = b.tree.cpu_s()["total"]
        with b.span(traced, "checkpoint.run_extract_job", pass_index=i,
                    phase="cold" if i == 0 else "warm"):
            t0 = time.perf_counter()
            rows = b.op(lambda: run_extract_job(
                b.spark, self.corpus, out, met,
                run_id=f"{b.run_id}-{i}").collect(), f"extract pass {i}")
            wall = time.perf_counter() - t0
        cpu = b.tree.cpu_s()["total"] - cpu0
        self.passes.append({"wall": wall, "cpu": cpu, "traced": traced,
                            "rss": b.rss.lap(), "rows": rows, "out": out})
        if i > 0:
            shutil.rmtree(self.passes[-2]["out"], ignore_errors=True)

    def measure(self, b: Bench) -> None:
        self._pass(b, 0)
        t_start = time.perf_counter()
        i = 1
        while b.window_open(t_start, i - 1):
            self._pass(b, i)
            i += 1

    def e2e(self) -> dict:
        warm = [p for p in self.passes[1:] if p["rows"] is not None]
        warm_s = _median([p["wall"] for p in warm])
        return {"cold_pass_s": self.passes[0]["wall"],
                "warm_pass_s": warm_s,
                "cpu_s": _median([p["cpu"] for p in warm]),
                "peak_rss_gb": _median([p["rss"] for p in warm]) / 2**30}

    def check(self, b: Bench) -> None:
        want = checks.expected_digest(self.name, b.seed)
        if want is None:
            want = checks.reference_digest(b.spark, self.corpus)
        last = self.passes[-1]
        if last["rows"] is None:
            return
        got = checks.output_digest(b.spark, last["out"])
        bad = checks.digest_mismatch(got, want)
        if bad:
            b.mismatch(f"{self.name} final output digest: {bad}")
        n_ok = want["classes"].get("ok", 0)
        fps = set()
        for k, p in enumerate(self.passes):
            if p["rows"] is None:
                continue
            n_docs = sum(r["n_docs"] for r in p["rows"])
            ok = sum(r["n_ok"] for r in p["rows"])
            q = sum(r["n_quarantined"] for r in p["rows"])
            if (n_docs, ok, q) != (want["n_docs"], n_ok, want["n_docs"] - n_ok):
                b.mismatch(f"pass {k} metrics counts {(n_docs, ok, q)}")
            fp = 0
            for r in p["rows"]:
                fp ^= r["span_checksum"]
            fps.add(fp)
        if len(fps) > 1:
            b.mismatch(f"per-pass span checksums differ: {sorted(fps)}")

    def layers(self, b: Bench) -> Callable[[], dict]:
        """Run the traced layer passes; returns the metric builder, which
        reads stage data and must run after ``tracer.resolve_stages``."""
        sweep = layer_sweep(b, self.corpus, self.sample_docs)
        probe = query_probe(b)
        job_spans = [s for s in b.tracer.spans
                     if s["name"] == "checkpoint.run_extract_job"]
        traced = [p["wall"] for p in self.passes[1:] if p["traced"]]
        plain = [p["wall"] for p in self.passes[1:] if not p["traced"]]

        def build() -> dict:
            out = dict(sweep)
            out.update(probe())
            out.update(spark_metrics(b, job_spans))
            out["trace.overhead_ratio"] = _median(traced) / _median(plain)
            return out

        return build


def layer_sweep(b: Bench, corpus_dir: str, sample_docs: int) -> dict:
    """Time each extraction layer by calling its public functions."""
    from t2p_spark.io_tables import write_extracted
    from t2p_spark.pipeline import assemble_payload, extract, extracted_metrics

    spark = b.spark
    docs = spark.read.parquet(corpus_dir).drop("bucket")
    t = b.tracer

    def scan():
        assemble_payload(docs).write.format("noop").mode("overwrite").save()

    b.op(scan, "pipeline.assemble_payload")  # loads the scan's classes
    with t.span("pipeline.assemble_payload") as s_scan:
        b.op(scan, "pipeline.assemble_payload")
    ext = extract(docs).cache()
    with t.span("kernel.extract_kernel") as s_kernel:
        b.op(lambda: ext.write.format("noop").mode("overwrite").save(),
             "kernel.extract_kernel")
    dest = os.path.join(b.run_dir, "layer_out")
    with t.span("io_tables.write_extracted") as s_write:
        b.op(lambda: write_extracted(spark, ext, dest, clustered=True),
             "io_tables.write_extracted")
    files = _parquet_files(dest)
    with t.span("checkpoint.metrics_pass") as s_metrics:
        b.op(lambda: extracted_metrics(spark.read.parquet(dest)).collect(),
             "checkpoint.metrics_pass")
    ext.unpersist()
    return {
        "pipeline.scan_assemble_s": s_scan["dur_s"],
        # the JVM's read() bytes: Parquet's vectored reads run off the task
        # thread, so the status store's inputBytes counts only the footers
        "pipeline.input_bytes": float(s_scan["jvm_read_bytes"]),
        "kernel.python_cpu_s": s_kernel["python_cpu_s"],
        **kernel_sample(b, corpus_dir, sample_docs),
        "io_tables.write_s": s_write["dur_s"],
        "io_tables.files_written": float(len(files)),
        "io_tables.bytes_written": float(sum(os.path.getsize(f)
                                             for f in files)),
        "checkpoint.metrics_pass_s": s_metrics["dur_s"],
    }


def _parquet_files(root: str) -> List[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")]


def kernel_sample(b: Bench, corpus_dir: str, n: int) -> dict:
    """Single-thread pass over the first n docs of the corpus: the parse,
    ``build_model``, emit and whole-kernel cost per doc, and the objects the
    kernel's per-batch ``gc.collect()`` frees."""
    import orjson
    import pyarrow as pa
    import pyspark.sql.functions as F

    from t2p_spark.convert import build_model, convert_doc_safe
    from t2p_spark.kernel import extract_kernel

    rows = (b.spark.read.parquet(corpus_dir).drop("bucket")
            .where(F.substring("doc_id", -6, 6).cast("int") < n)
            .orderBy("doc_id").collect())
    docs = []
    for r in rows:
        media = [s for s in r["spans"] if s["kind"] == "media"][0]
        text = "".join(s["text"] for s in sorted(
            (s for s in r["spans"] if s["kind"] == "text"),
            key=lambda s: s["offset"]))
        w, h = (int(x) for x in media["text"].split("x"))
        docs.append((r["doc_id"], w, h, media["media_ref"], text))
    parse = build = convert = 0.0
    with b.tracer.span("kernel.sample", docs=len(docs)):
        gc.collect()
        gc.disable()
        try:
            for _, w, h, ref, text in docs:
                t0 = time.perf_counter()
                aws = orjson.loads(text)
                t1 = time.perf_counter()
                try:
                    build_model(aws)
                except Exception:  # noqa: BLE001 — quarantine docs raise here
                    pass
                t2 = time.perf_counter()
                convert_doc_safe(aws, w, h, ref)
                t3 = time.perf_counter()
                parse += t1 - t0
                build += t2 - t1
                convert += t3 - t2
                del aws
        finally:
            gc.enable()
        gc.collect()
        batch = pa.RecordBatch.from_arrays(
            [pa.array([d[0] for d in docs]), pa.array([d[1] for d in docs],
                                                      pa.int32()),
             pa.array([d[2] for d in docs], pa.int32()),
             pa.array([d[3] for d in docs]), pa.array([d[4] for d in docs])],
            names=["doc_id", "width", "height", "media_ref", "json_text"])
        freed: List[int] = []

        def on_gc(phase, info):
            if phase == "stop":
                freed.append(info["collected"])

        gc.callbacks.append(on_gc)
        try:
            t0 = time.perf_counter()
            list(extract_kernel(iter([batch])))
            batch_s = time.perf_counter() - t0
        finally:
            gc.callbacks.remove(on_gc)
    k = max(1, len(docs))
    return {"kernel.parse_us_per_doc": parse / k * 1e6,
            "kernel.batch_us_per_doc": batch_s / k * 1e6,
            "kernel.gc_objects_per_doc": sum(freed) / k,
            "convert.build_model_us_per_doc": build / k * 1e6,
            "convert.emit_us_per_doc": (convert - build) / k * 1e6}


def spark_metrics(b: Bench, spans: List[dict]) -> dict:
    summary = stage_summary(spans)
    wall = sum(s["dur_s"] for s in spans)
    cpu = sum(s["tree_cpu_s"] for s in spans)
    return {"spark.task_skew": summary["task_skew"],
            "spark.core_busy": cpu / (b.cores * wall) if wall else 0.0,
            "spark.shuffle_bytes": summary["shuffle_bytes"],
            "spark.spill_bytes": summary["spill_bytes"],
            "spark.stages": summary["stages"]}


def module_metrics(spans: List[dict], n_warm: int) -> dict:
    """Per query module: cold and per-pass warm seconds from the query
    spans; stage totals over the cold pass, where materializations build."""
    out = {}
    for m in MODULES:
        cold = [s for s in spans if s.get("module") == m
                and s.get("phase") == "cold"]
        warm = [s for s in spans if s.get("module") == m
                and s.get("phase") == "warm"]
        st = stage_summary(cold)
        out.update({
            f"{m}.cold_s": sum(s["dur_s"] for s in cold),
            f"{m}.warm_s": sum(s["dur_s"] for s in warm) / max(1, n_warm),
            f"{m}.jvm_cpu_s": st["jvm_cpu_s"],
            f"{m}.shuffle_bytes": st["shuffle_bytes"],
            f"{m}.spill_bytes": st["spill_bytes"],
            f"{m}.stages": st["stages"],
            f"{m}.task_skew": st["task_skew"],
        })
    return out


def query_probe(b: Bench) -> Callable[[], dict]:
    """Cold and warm run of one query per module, on the seeded tables."""
    import __spark_entry__

    tables, _ = corpus.stage_query_tables(b.cache_dir, b.seed)
    fns = resolve_queries([n for n, _ in PROBE_QUERIES],
                          __spark_entry__.queries())
    before = len(b.tracer.spans)
    for phase in ("cold", "warm"):
        for name, module in PROBE_QUERIES:
            with b.tracer.span(f"{module}.{name}", module=module, query=name,
                               phase=phase, probe=True):
                b.op(lambda: fns[name](b.spark, tables).collect(), name)
    spans = b.tracer.spans[before:]
    return lambda: module_metrics(spans, 1)


# --- queries -----------------------------------------------------------------

class QueriesWorkload:
    """Set-up ends with one pass over a small seeded copy of the tables,
    so that lazy set-up (JIT, code generation, the streaming machinery) is
    paid in ``setup_s``. The measured passes then
    come in cycles: a cold pass over a table directory that is not the one
    registered last, which makes every shared materialization rebuild,
    then WARM_PER_CYCLE warm passes that reuse them. The cycles alternate
    between the staged tables and a hard-linked copy of them."""

    name = "queries"
    # its queries are Spark SQL throughout: no Python worker runs
    python_workers = False

    def __init__(self) -> None:
        self.twins: List[str] = []
        self.fns: Dict[str, Callable] = {}
        self.passes: List[dict] = []

    def stage(self, b: Bench) -> float:
        """Stage the tables and their hard-linked twin, run the warm-up
        pass; returns the generation seconds."""
        import __spark_entry__
        from t2p_spark.relational import register_views

        tables, gen_s = corpus.stage_query_tables(b.cache_dir, b.seed)
        twin = os.path.join(b.run_dir, "tables-twin")
        shutil.copytree(tables, twin, copy_function=os.link)
        self.twins = [tables, twin]
        self.fns = resolve_queries([n for n, _ in QUERIES],
                                   __spark_entry__.queries())
        small, small_gen_s = corpus.stage_query_tables(
            b.cache_dir, b.seed, WARMUP_SCALE)
        register_views(b.spark, small)
        for name, _ in QUERIES:
            b.op(lambda name=name: self.fns[name](b.spark, small).collect(),
                 f"warm-up {name}")
        return gen_s + small_gen_s

    def _pass(self, b: Bench, tables: str, phase: str, traced: bool
              ) -> dict:
        results = {}
        cpu0 = b.tree.cpu_s()["total"]
        t0 = time.perf_counter()
        for name, module in QUERIES:
            with b.span(traced, f"{module}.{name}", module=module,
                        query=name, phase=phase):
                def run(name=name):
                    df = self.fns[name](b.spark, tables)
                    return df.columns, [tuple(r) for r in df.collect()]
                results[name] = b.op(run, name)
        wall = time.perf_counter() - t0
        return {"phase": phase, "traced": traced, "wall": wall,
                "cpu": b.tree.cpu_s()["total"] - cpu0, "rss": b.rss.lap(),
                "results": results}

    def measure(self, b: Bench) -> None:
        """Cycles until ``seconds`` have passed, and at least MIN_CYCLES.
        A traced run traces the first cold pass and the warm passes in the
        order untraced, traced, traced, untraced."""
        from t2p_spark.relational import register_views

        t_start = time.perf_counter()
        n_warm = 0
        cycle = 0
        while (cycle < MIN_CYCLES
               or time.perf_counter() - t_start < b.seconds):
            tables = self.twins[cycle % 2]
            register_views(b.spark, tables)
            # every cold pass starts from empty caches and a collected heap
            b.spark.catalog.clearCache()
            b.spark.sparkContext._jvm.System.gc()
            self.passes.append(self._pass(b, tables, "cold",
                                          b.trace and cycle == 0))
            for _ in range(WARM_PER_CYCLE):
                n_warm += 1
                self.passes.append(self._pass(
                    b, tables, "warm", b.trace and n_warm % 4 in (2, 3)))
            cycle += 1

    def e2e(self) -> dict:
        cold = [p for p in self.passes if p["phase"] == "cold"]
        warm = [p for p in self.passes if p["phase"] == "warm"]
        return {"cold_pass_s": _median([p["wall"] for p in cold]),
                "warm_pass_s": _median([p["wall"] for p in warm]),
                "cpu_s": _median([p["cpu"] for p in warm]),
                "peak_rss_gb": _median([p["rss"] for p in warm]) / 2**30}

    def check(self, b: Bench) -> None:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = checks.duckdb_views(self.twins[0], corpus.QUERY_TABLES)
        try:
            for name, _ in QUERIES:
                try:
                    want_cols, want = checks.oracle_rows(con, oracles[name])
                except Exception:  # noqa: BLE001 — report, keep checking
                    b.mismatch(f"{name}: oracle raised\n"
                               f"{traceback.format_exc()}")
                    continue
                for k, p in enumerate(self.passes):
                    res = p["results"].get(name)
                    if res is None:
                        continue
                    cols, rows = res
                    if sorted(cols) != sorted(want_cols):
                        b.mismatch(f"{name} pass {k}: columns {cols}")
                    elif checks.canonical(cols, rows) != want:
                        b.mismatch(f"{name} pass {k}: {len(rows)} rows "
                                   f"differ from the DuckDB oracle")
        finally:
            con.close()

    def layers(self, b: Bench) -> Callable[[], dict]:
        spans = [s for s in b.tracer.spans if s.get("query")]
        warm = [p for p in self.passes if p["phase"] == "warm"]
        traced = [p["wall"] for p in warm if p["traced"]]
        plain = [p["wall"] for p in warm if not p["traced"]]
        probe_dir, _ = corpus.stage_extract_corpus(
            b.spark, b.cache_dir, "extract_probe", PROBE_DOCS, b.seed)
        b.warm_workers()  # the measured passes started none
        sweep = layer_sweep(b, probe_dir, 16)

        def build() -> dict:
            out = module_metrics(spans, len(traced))
            out.update(sweep)
            out.update(spark_metrics(b, spans))
            out["trace.overhead_ratio"] = _median(traced) / _median(plain)
            return out

        return build


WORKLOADS = {
    "extract_skew": lambda: ExtractWorkload("extract_skew", 96, 8, 16),
    "queries": QueriesWorkload,
}


def run(root: str, workload: str, seed: int, seconds: int, trace: bool
        ) -> dict:
    """One benchmark run; returns the result object (and writes the trace
    file when tracing)."""
    t_run = time.perf_counter()
    b = Bench(root, workload, seed, seconds, trace)
    wl = WORKLOADS[workload]()
    b.prepare_env()
    setup_s = 0.0
    metrics: Dict[str, float] = {}
    marks: Dict[str, float] = {}
    try:
        with PeakRss(b.tree) as b.rss:
            setup_s = b.setup(wl)
            marks["setup"] = time.perf_counter()
            b.rss.lap()  # passes report their own peaks, not the setup's
            wl.measure(b)
            marks["measure"] = time.perf_counter()
        build_layers = wl.layers(b) if trace else None
        marks["layers"] = time.perf_counter()
        try:
            wl.check(b)
        except Exception:  # noqa: BLE001 — a check that cannot run fails
            b.mismatch(f"check raised:\n{traceback.format_exc()}")
        marks["check"] = time.perf_counter()
        b.tracer.resolve_stages()
        if trace:
            metrics = build_layers()
        else:
            metrics = {"setup_s": setup_s, **wl.e2e()}
    finally:
        b.cleanup()
    host = host_state(root)
    marks["teardown"] = time.perf_counter()
    phases = {k: round(v - prev, 2) for (k, v), prev in zip(
        marks.items(), [t_run] + list(marks.values()))}
    print(f"# {workload} seed={seed} phases_s={phases} "
          f"setup_s={setup_s:.3f} "
          f"passes={[round(p['wall'], 3) for p in wl.passes]} "
          f"attempted={b.attempted} failed={b.failed} host={host}",
          file=sys.stderr)
    for note in b.notes:
        print(f"# {note}", file=sys.stderr)
    if trace:
        os.makedirs(b.trace_dir, exist_ok=True)
        path = os.path.join(b.trace_dir, f"{b.run_id}.json")
        b.tracer.dump(path, {"workload": workload, "seed": seed,
                             "host": host, "setup_s": setup_s,
                             "per_layer": metrics})
        print(f"# trace written to {os.path.relpath(path, root)}",
              file=sys.stderr)
    units = metric_units(root)
    return {"correct": b.failed == 0, "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def metric_units(root: str) -> Dict[str, str]:
    import json

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def host_state(root: str) -> dict:
    """First-touch / retouch bandwidth of 1 GiB of fresh anonymous memory
    (tools/hostmem_probe.py), recorded as context, not as a metric."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import hostmem_probe

    return hostmem_probe.probe_retouch(gb=1)
