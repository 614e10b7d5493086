"""Benchmark worker: set up, measure, check and tear down one workload.

Started by ``perfbench/run.py`` as the leader of its own session, with
the checkout on ``PYTHONPATH`` and the run's temp root as working
directory. Writes the result record to ``--out``; the parent prints it.

Workloads (one closed-loop client, ``local[nproc]``):

- ``ingest_search``: sequential queries against a collection that
  ``api.process_folder`` wrote in set-up, alternating
  ``api.vector_search`` and ``plans.load.search_text``; then two
  ``api.process_folder`` calls over the same folder of placeholder PDFs
  (synthetic decoder), each into a fresh collection.
- ``analytics``: one pass over 11 registry queries on a seeded fixture.

Correctness is checked outside the timed region; a failed or wrong
operation counts in ``failed`` and is named on stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s starts before the heavy imports

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import procfs  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

ANALYTICS_KEYS = (
    # heavy tail: compositions and driver-side iteration
    "curation_pipeline_report", "training_export_report", "graph_pagerank",
    # one key per driver fast-path family (nn, merge, unigram, bt, shapley)
    "ann_tombstone_search", "bpe_bytelevel_train", "unigram_lm_train",
    "bradley_terry", "knn_shapley",
    # short, planning-bound queries
    "a1_groupby_agg", "star_region_volume", "mann_whitney_u",
)
INGEST_YEARS = 2  # seed picks which years
N_COLOURS = 1
SEARCH_POOL = 200  # seeded queries prepared in setup; operations cycle them
WARM_QUERIES = 6  # untimed, in setup: query latency keeps falling for about ten
MIN_QUERIES = 10  # timed queries per run even when the box is slow (even: whole pairs)
QUERY_SHARE = 0.5  # of the measured seconds, for queries; the ingests follow
# one ingest's time varied by a fifth between runs of the same code (JIT
# and GC work in the JVM); throughput is taken over both ingests
TIMED_INGESTS = 2
TOP_K = 10
DIM = 64
SCORE_TOL = 1e-9
# Time metrics are calibration-adjusted: raw * PROBE_REF_S / probe, where
# probe is the lower quartile of the wall times of a fixed Spark query
# that uses nothing of the program (Run.probe), run after every measured
# operation. The box is a VM on a shared host; while its neighbours are
# busy it loses CPU time to them, and a query of many short parallel
# stages slows by far more than the lost share. The probe is such a query
# and runs between the operations, so it slows with them. The lower
# quartile, not the median: a probe right after a heavy operation is
# slowed by the JVM's clean-up of that operation, which is the program's
# doing. On five seeds per workload this cut the spread of the latency
# and throughput metrics from 0.15-0.19 (raw) and 0.10-0.15 (a pure-Python
# CPU probe before and after the timed region) to 0.04-0.07.
PROBE_REF_S = 0.2
PROBE_WARM = 3  # untimed probe runs before the timed region

# every per-layer metric, reported by each traced run (0 where the
# workload does not reach the layer)
LAYER_METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.pages_s", "s"), ("sources.pages", "count"),
    ("etl.extract_s", "s"), ("etl.questions", "count"), ("etl.report_s", "s"),
    ("load.write_s", "s"), ("load.points", "count"),
    ("api.process_folder.call_s", "s"),
    ("sinks.bytes_per_question", "bytes"), ("sinks.read_s", "s"),
    ("topk.exact_s", "s"), ("topk.text_s", "s"),
    ("api.vector_search.call_s", "s"), ("api.vector_search.action_s", "s"),
    *[
        (f"q.{k}.{m}", u)
        for k in ANALYTICS_KEYS
        for m, u in (("call_s", "s"), ("action_s", "s"), ("plan_ms", "ms"),
                     ("jobs", "count"), ("shuffle_bytes", "bytes"))
    ],
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("leak.persisted_rdds", "count"), ("leak.broadcast_blocks", "count"),
    ("trace.overhead_s", "s"), ("env.calibration_s", "s"), ("env.probe_s", "s"),
    ("ops.error_rate", "ratio"),
]
E2E_UNITS = {
    "setup_s": "s", "query_geomean_ms": "ms", "cpu_ms_per_item": "ms",
    "throughput_per_s": "1/s", "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(map(math.log, values))) if values else 0.0


class RssSampler(threading.Thread):
    """Peak of the summed ``VmHWM`` over this session's processes
    (worker Python, gateway JVM, ``pyspark.daemon`` and its workers)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        pids = procfs.run_members(os.getsid(0)) + [os.getpid()]
        hwm = {p: procfs.vm_hwm_kb(p) for p in pids}
        if sum(hwm.values()) > self.peak_kb:
            self.peak_kb = sum(hwm.values())
            self.peak_by_pid = hwm

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def make_pdf_folder(path: str, years, n_colours: int) -> str:
    """Placeholder PDFs named by the INEP convention: test (PV) and
    answer key (GB) per year, day and colour. The synthetic decoder
    serves each file's pages from its name."""
    os.makedirs(path)
    for year in years:
        for day in ("D1", "D2"):
            for c in range(1, n_colours + 1):
                for kind in ("PV", "GB"):
                    with open(f"{path}/{year}_{kind}_impresso_{day}_CD{c}.pdf", "wb") as f:
                        f.write(b"%PDF-1.4 placeholder\n")
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Run:
    """State shared by the workloads of one benchmark run."""

    def __init__(self, args):
        self.args = args
        self.tmp = args.tmp
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.layer: dict[str, list[float]] = {}
        self.failed_ops: list[str] = []
        self.attempted = 0
        self.query_s: list[float] = []  # latency of each correct query
        self.items = 0  # questions ingested, or registry queries answered
        self.items_s = 0.0  # ... and the time they took
        self.items_cpu_s = 0.0
        self.spark = None
        self.tracer: spans.Tracer | None = None
        self.probe_session = None
        self.probes: list[float] = []

    def cpu(self) -> float:
        """CPU seconds used so far by this run's process tree."""
        return procfs.cpu_seconds(procfs.run_members(os.getsid(0)) + [os.getpid()])

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def fail(self, op: str, why: str) -> None:
        self.failed_ops.append(op)
        log(f"FAILED {op}: {why}")

    def start_session(self) -> None:
        from pdf_to_vectordb_etl_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'tmp')} -XX:-UsePerfData"
            ),
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        self.tracer = spans.Tracer(
            self.spark, f"{self.args.workload}-{self.args.seed}", bool(self.args.trace)
        )

    def warm_up(self) -> None:
        """Same fixed work on every workload: start the Python workers
        (``pyspark.daemon`` + Arrow) that pandas UDFs run in."""
        self.spark.range(self.cpus * 4).repartition(self.cpus).mapInPandas(
            lambda it: it, "id long"
        ).count()

    def calibrate(self) -> float:
        """bench.py's JVM-side fixed-work probe (range sum)."""
        t0 = time.perf_counter()
        self.spark.range(500_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def probe(self) -> float:
        """Wall time of a fixed query over ``range`` (group-by, shuffle,
        sort), in a session of its own with its SQL settings pinned, so
        that neither the program's code nor its session defaults enter it."""
        if self.probe_session is None:
            ps = self.spark.newSession()
            for key, value in (
                ("spark.sql.adaptive.enabled", "true"),
                ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
                ("spark.sql.shuffle.partitions", str(self.cpus)),
                ("spark.sql.codegen.wholeStage", "true"),
            ):
                ps.conf.set(key, value)
            self.probe_session = ps
        t0 = time.perf_counter()
        rows = (
            self.probe_session.range(0, 20_000, 1, self.cpus)
            .selectExpr("id % 97 AS k").groupBy("k").count().orderBy("k").collect()
        )
        dt = time.perf_counter() - t0
        if len(rows) != 97 or rows[-1]["count"] != 206:
            raise RuntimeError(f"probe query returned a wrong result: {rows[-3:]}")
        return dt

    def op_leaks(self, before: tuple[int, int] | None) -> tuple[int, int] | None:
        """Leak counters across one operation (traced runs only)."""
        if not self.args.trace:
            return None
        t0 = time.perf_counter()
        now = self.tracer.leak_counts()
        if before is not None:
            self.record("leak.persisted_rdds", now[0] - before[0])
            self.record("leak.broadcast_blocks", now[1] - before[1])
        self.tracer.overhead_s += time.perf_counter() - t0
        return now

    def timed_span(self, name: str, fn):
        """``fn`` wrapped in a span; its duration is recorded as ``<name>_s``."""

        def wrapped(*a, **kw):
            with self.tracer.span(name) as s:
                out = fn(*a, **kw)
            self.record(name + "_s", s["end"] - s["start"])
            return out

        return wrapped


class patched:
    """Replace module attributes for the length of a ``with`` block."""

    def __init__(self, *triples):
        self.triples = triples
        self.saved: list = []

    def __enter__(self):
        for mod, name, repl in self.triples:
            self.saved.append((mod, name, getattr(mod, name)))
            setattr(mod, name, repl)

    def __exit__(self, *exc):
        for mod, name, orig in reversed(self.saved):
            setattr(mod, name, orig)


class IngestSearch:
    """The paper's pipeline, read and write: sequential queries against
    a collection ``api.process_folder`` wrote in set-up, alternating
    ``api.vector_search`` and ``plans.load.search_text``, then
    ``TIMED_INGESTS`` ingests of the same folder of placeholder PDFs,
    each into a fresh collection."""

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from pdf_to_vectordb_etl_spark.operators import embedding
        from pdf_to_vectordb_etl_spark.schemas import SUBJECTS
        from pdf_to_vectordb_etl_spark.sources import synthetic

        r = self.run
        self.years = sorted(r.rng.sample(range(2009, 2024), INGEST_YEARS))
        self.folder = make_pdf_folder(os.path.join(r.tmp, "pdfs"), self.years, N_COLOURS)
        self.expected = {
            k: v * N_COLOURS
            for k, v in synthetic.expected_question_counts(tuple(self.years)).items()
        }

        t0 = time.perf_counter()
        np_rng = np.random.default_rng(r.args.seed)
        words = ("questao tema texto grafico energia funcao historia lingua "
                 "celula mercado poema equacao").split()
        self.pool = []
        for j in range(SEARCH_POOL):
            if j % 2 == 0:
                self.pool.append(("vector", np_rng.standard_normal(DIM).tolist(), None))
            else:
                text = " ".join(r.rng.choice(words) for _ in range(4)) + f" {j}"
                self.pool.append(("text", text, r.rng.choice(SUBJECTS)))
        texts = r.spark.createDataFrame(
            [(j, q[1]) for j, q in enumerate(self.pool) if q[0] == "text"], "j int, t string"
        )
        self.text_vecs = {
            row["j"]: list(row["v"])
            for row in texts.select(
                "j", embedding.deterministic_embedding(F.col("t"), dim=DIM).alias("v")
            ).collect()
        }

        # one untimed ingest warms the write path and builds the collection
        # the timed queries read; its points are the brute-force reference
        self.coll = os.path.join(r.tmp, "collections", "queried")
        t1 = time.perf_counter()
        self._process_folder(self.folder, self.coll)
        t2 = time.perf_counter()
        snap = (
            r.spark.read.parquet(self.coll)
            .select("id", "vector", F.col("payload.metadata.materia").alias("materia"))
            .toPandas()
            .drop_duplicates("id")
        )
        self.ids = snap["id"].to_numpy(np.int64)
        self.mat = np.stack(snap["vector"].to_numpy()).astype(np.float64)
        self.norms = np.linalg.norm(self.mat, axis=1)
        self.materia = snap["materia"].to_numpy()
        t3 = time.perf_counter()
        for j in range(WARM_QUERIES):
            self._query(self.coll, SEARCH_POOL - 1 - j)
        self.n_queries = 0
        self.n_ingests = 0
        self.ingest_next = False
        log(f"ingest_search: years {self.years}, {N_COLOURS} colours, "
            f"{sum(self.expected.values())} questions per ingest; inputs: query pool "
            f"{t1 - t0:.2f}s, ingest {t2 - t1:.2f}s, reference {t3 - t2:.2f}s, "
            f"{WARM_QUERIES} warm queries {time.perf_counter() - t3:.2f}s")

    def prepare(self) -> None:
        pass

    def _process_folder(self, folder: str, coll: str):
        from pdf_to_vectordb_etl_spark import api
        from pdf_to_vectordb_etl_spark.sources.synthetic import synthetic_pdf_decoder

        return api.process_folder(
            self.run.spark, folder, coll, decoder=synthetic_pdf_decoder
        ).collect()

    def _process_folder_traced(self, folder: str, coll: str):
        """``process_folder`` with each layer call in a span and each
        layer's output forced (persisted and counted) at its boundary,
        so lazy work lands in the span of the layer that defines it."""
        from pdf_to_vectordb_etl_spark.plans import etl, load
        from pdf_to_vectordb_etl_spark.sources import pdf as pdfsource

        r, tr = self.run, self.run.tracer
        forced, marks = [], {}

        def forcing(name: str, fn, count_metric: str | None):
            def wrapped(*a, **kw):
                with tr.span(name) as s:
                    df = fn(*a, **kw).persist()
                    n = df.count()
                forced.append(df)
                r.record(name + "_s", s["end"] - s["start"])
                if count_metric:
                    r.record(count_metric, n)
                return df

            return wrapped

        pages = forcing("sources.pages", pdfsource.pages_from_pdfs, "sources.pages")

        def pages_marked(*a, **kw):
            marks["checks_done"] = time.perf_counter()
            return pages(*a, **kw)

        with patched(
            (pdfsource, "scan_pdf_folder",
             r.timed_span("sources.scan", pdfsource.scan_pdf_folder)),
            (pdfsource, "pages_from_pdfs", pages_marked),
            (etl, "extract_questions",
             forcing("etl.extract", etl.extract_questions, "etl.questions")),
            (load, "load_questions", r.timed_span("load.write", load.load_questions)),
            (etl, "extraction_report", forcing("etl.report", etl.extraction_report, None)),
        ):
            with tr.span("api.process_folder") as s:
                rows = self._process_folder(folder, coll)
        r.record("api.process_folder.call_s", marks["checks_done"] - s["start"])
        for df in forced:
            df.unpersist(blocking=True)
        return rows

    def _query(self, coll: str, j: int) -> list:
        from pdf_to_vectordb_etl_spark import api
        from pdf_to_vectordb_etl_spark.plans import load

        kind, q, subject = self.pool[j]
        if kind == "vector":
            return api.vector_search(self.run.spark, coll, q, k=TOP_K, dim=DIM).collect()
        return load.search_text(
            self.run.spark, coll, q, k=TOP_K, dim=DIM, subject=subject
        ).collect()

    def _query_traced(self, coll: str, j: int) -> list:
        from pdf_to_vectordb_etl_spark import api, sinks
        from pdf_to_vectordb_etl_spark.operators import topk
        from pdf_to_vectordb_etl_spark.plans import load

        r, tr = self.run, self.run.tracer
        kind, q, subject = self.pool[j]
        with patched(
            (sinks, "read_embeddings_table",
             r.timed_span("sinks.read", sinks.read_embeddings_table)),
            (topk, "topk_cosine", r.timed_span("topk.exact", topk.topk_cosine)),
        ):
            if kind == "vector":
                with tr.span("api.vector_search.call") as c:
                    df = api.vector_search(r.spark, coll, q, k=TOP_K, dim=DIM)
                with tr.span("api.vector_search.action") as a:
                    rows = df.collect()
                r.record("api.vector_search.call_s", c["end"] - c["start"])
                r.record("api.vector_search.action_s", a["end"] - a["start"])
                return rows
            with tr.span("topk.text") as s:
                rows = load.search_text(
                    r.spark, coll, q, k=TOP_K, dim=DIM, subject=subject
                ).collect()
            r.record("topk.text_s", s["end"] - s["start"])
            return rows

    def _check_topk(self, j: int, rows: list) -> str | None:
        import numpy as np

        kind, q, subject = self.pool[j]
        qv = np.asarray(q if kind == "vector" else self.text_vecs[j], np.float64)
        denom = self.norms * np.linalg.norm(qv)
        sims = np.where(denom == 0, -1.0, (self.mat @ qv) / np.where(denom == 0, 1, denom))
        keep = np.ones(len(self.ids), bool) if subject is None else self.materia == subject
        ids, sims = self.ids[keep], sims[keep]
        order = np.lexsort((ids, -sims))[:TOP_K]
        want = [int(x) for x in ids[order]]
        got = [int(row["id"]) for row in rows]
        if kind == "vector" and got == want:
            return None
        if kind == "text" and sorted(got) == sorted(want):
            return None
        # a different id set is still a correct top-k when it differs only
        # by ties at the k-th score
        by_id = dict(zip(ids.tolist(), sims.tolist()))
        kth = float(sims[order][-1]) if len(order) else 0.0
        if len(got) == len(want) and all(by_id.get(g, -2.0) >= kth - SCORE_TOL for g in got):
            return None
        return f"{kind} top-{TOP_K} ids differ: got {got[:3]}..., want {want[:3]}..."

    def op_name(self, i: int) -> str:
        if self.ingest_next:
            return f"ingest[{self.n_ingests}]"
        return f"search[{i}:{self.pool[i % SEARCH_POOL][0]}]"

    def op(self, i: int):
        if self.ingest_next:
            self.n_ingests += 1
            return self._ingest_op(self.n_ingests)
        r = self.run
        self.n_queries += 1
        j = i % SEARCH_POOL
        query = self._query_traced if r.args.trace else self._query
        t0, c0 = time.perf_counter(), r.cpu()
        rows = query(self.coll, j)
        dt, cpu = time.perf_counter() - t0, r.cpu() - c0
        return "query", dt, cpu, 0, self._check_topk(j, rows)

    def _ingest_op(self, k: int):
        r = self.run
        coll = os.path.join(r.tmp, "collections", f"timed-{k}")
        ingest = self._process_folder_traced if r.args.trace else self._process_folder
        t0, c0 = time.perf_counter(), r.cpu()
        report = ingest(self.folder, coll)
        dt, cpu = time.perf_counter() - t0, r.cpu() - c0

        counts = {(row["year"], row["subject"]): row["n"] for row in report}
        n = sum(counts.values())
        points = r.spark.read.parquet(coll).count()
        r.record("load.points", points)
        r.record("sinks.bytes_per_question", dir_bytes(coll) / max(n, 1))
        if counts != self.expected:
            diff = sorted(set(counts.items()) ^ set(self.expected.items()))[:4]
            return "ingest", dt, cpu, n, f"per-(year, subject) counts differ: {diff}"
        if points != n:
            return "ingest", dt, cpu, n, f"collection holds {points} rows for {n} questions"
        return "ingest", dt, cpu, n, None

    def done(self, n_ops: int, elapsed: float) -> bool:
        """Queries for the first ``QUERY_SHARE`` of the run (at least
        ``MIN_QUERIES``), then ``TIMED_INGESTS`` ingests, then stop."""
        if self.ingest_next:
            return self.n_ingests == TIMED_INGESTS
        # whole vector/text pairs, so both kinds weigh the same
        self.ingest_next = (
            elapsed >= QUERY_SHARE * self.run.args.seconds
            and self.n_queries >= MIN_QUERIES
            and self.n_queries % 2 == 0
        )
        return False

    def after_trace(self) -> None:
        pass


class Analytics:
    """One pass over the registry mix on a seeded fixture."""

    def __init__(self, run: Run):
        self.run = run

    def prepare(self) -> None:
        """Before Spark starts: the seeded fixture, and its oracle hashes
        computed on DuckDB in a background thread."""
        import __spark_entry__ as entry
        import check_oracle

        r = self.run
        self.sf = os.path.join(r.tmp, "fixture")
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "make_random_fixture.py"),
             str(r.args.seed), self.sf],
            check=True, stdout=sys.stderr,
        )
        self.queries = entry.queries()
        self.canon = check_oracle.canon
        # a fixed order: the first keys of a pass pay for a cold JVM, so a
        # seed-permuted order would move that cost between keys run to run
        self.order = list(ANALYTICS_KEYS)
        self.top_spans: dict[str, dict] = {}
        self.expected: dict[str, tuple[list[str], str]] = {}
        self._oracle_error: BaseException | None = None
        self._oracle = threading.Thread(
            target=self._oracle_hashes, args=(entry.oracle_sql(), check_oracle.TABLES)
        )
        self._oracle.start()

    def _oracle_hashes(self, oracles: dict, tables) -> None:
        import duckdb

        try:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            for key in ANALYTICS_KEYS:
                rel = con.sql(oracles[key])
                cols = list(rel.columns)
                self.expected[key] = (cols, self._hash(rel.fetchall(), cols))
            con.close()
        except BaseException as e:  # noqa: BLE001 - re-raised in setup()
            self._oracle_error = e

    def setup(self) -> None:
        # untimed: a scan, join, aggregate, window and sort over the
        # fixture, so the first key of the pass does not pay alone for
        # the JVM's first SQL queries
        self.run.spark.sql(
            f"""
            SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS s,
                   rank() OVER (ORDER BY count(*) DESC) AS rk
            FROM parquet.`{self.sf}/lineitem.parquet` l
            JOIN parquet.`{self.sf}/orders.parquet` o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority ORDER BY rk
            """
        ).collect()
        self._oracle.join()
        if self._oracle_error is not None:
            raise self._oracle_error

    def _hash(self, rows, cols) -> str:
        return hashlib.sha256(repr(self.canon(rows, list(cols))).encode()).hexdigest()

    def op_name(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def op(self, i: int):
        r, tr = self.run, self.run.tracer
        key = self.op_name(i)
        fn = self.queries[key]
        t0, c0 = time.perf_counter(), r.cpu()
        if r.args.trace:
            with tr.span(f"q.{key}") as top:
                with tr.span(f"q.{key}.call") as c:
                    df = fn(r.spark, self.sf)
                with tr.span(f"q.{key}.plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                with tr.span(f"q.{key}.action") as a:
                    rows = df.collect()
            self.top_spans.setdefault(key, top)
            r.record(f"q.{key}.call_s", c["end"] - c["start"])
            r.record(f"q.{key}.action_s", a["end"] - a["start"])
            r.record(f"q.{key}.plan_ms", sum(
                phases.get(p).get().durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.contains(p)
            ))
        else:
            df = fn(r.spark, self.sf)
            rows = df.collect()
        dt, cpu = time.perf_counter() - t0, r.cpu() - c0
        cols = df.columns
        want_cols, want = self.expected[key]
        if sorted(map(str.lower, cols)) != sorted(map(str.lower, want_cols)):
            return "query", dt, cpu, 1, f"columns {sorted(cols)} vs oracle {sorted(want_cols)}"
        got = self._hash(rows, cols)
        if got != want:
            return "query", dt, cpu, 1, f"result hash {got[:12]} != oracle hash {want[:12]}"
        return "query", dt, cpu, 1, None

    def done(self, n_ops: int, elapsed: float) -> bool:
        return n_ops % len(self.order) == 0 and elapsed >= self.run.args.seconds

    def after_trace(self) -> None:
        tr = self.run.tracer
        for key, top in self.top_spans.items():
            sub = tr.subtree(top["id"])
            self.run.record(f"q.{key}.jobs", sum(s["spark"]["jobs"] for s in sub))
            self.run.record(
                f"q.{key}.shuffle_bytes", sum(s["spark"]["shuffle_write_bytes"] for s in sub)
            )


WORKLOADS = {"ingest_search": IngestSearch, "analytics": Analytics}


def measure(run: Run, wl) -> None:
    start = time.perf_counter()
    i = 0
    leaks = run.op_leaks(None)
    while True:
        name = wl.op_name(i)
        run.attempted += 1
        run.tracer.op_index = i
        try:
            kind, dt, cpu, items, err = wl.op(i)
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            run.fail(name, traceback.format_exc(limit=3))
        else:
            if err:
                run.fail(name, err)
            else:
                if kind == "query":
                    run.query_s.append(dt)
                if items:
                    run.items += items
                    run.items_s += dt
                    run.items_cpu_s += cpu
                log(f"op {name}: {dt:.3f}s wall, {cpu:.2f}s cpu")
        before = leaks
        leaks = run.op_leaks(before)
        if leaks and before and leaks != before:
            log(f"{name}: persisted RDDs {before[0]}->{leaks[0]}, "
                f"broadcast blocks {before[1]}->{leaks[1]}")
        run.probes.append(run.probe())
        i += 1
        if wl.done(i, time.perf_counter() - start):
            break


def layer_metrics(run: Run, wl, n_ops: int) -> dict:
    tr = run.tracer
    tr.attach_stage_metrics()
    wl.after_trace()
    totals = dict.fromkeys(tr.spans[0]["spark"] if tr.spans else (), 0)
    for rec in tr.spans:
        for k, v in rec["spark"].items():
            totals[k] += v
    for k, v in totals.items():
        run.record(f"spark.{k}", v / n_ops)
    run.record("trace.overhead_s", tr.overhead_s / n_ops)
    run.record("ops.error_rate", len(run.failed_ops) / run.attempted)
    sums = ("leak.persisted_rdds", "leak.broadcast_blocks")
    out = {}
    for name, unit in LAYER_METRICS:
        vals = run.layer.get(name, [])
        value = sum(vals) if name in sums else median(vals)
        out[name] = {"value": value, "unit": unit}
    for name, a in sorted(tr.summary().items()):
        log(f"span {name}: n={a['count']} total={a['total_s']:.3f}s self={a['self_s']:.3f}s")
    log("spans " + json.dumps({"run": tr.run_id, "spans": tr.spans}))
    return out


def teardown(spark) -> None:
    """Stop Spark, then wait for the gateway JVM and every other process
    of this session (the ``pyspark.daemon`` and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = procfs.wait_gone(os.getsid(0), None, 20)
        if left:
            log("killing processes that outlived Spark: "
                + "; ".join(procfs.describe(p) for p in left))
            procfs.kill_all(left)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sampler = RssSampler()
    sampler.start()
    run = Run(args)
    wl = WORKLOADS[args.workload](run)
    try:
        wl.prepare()
        t0 = time.perf_counter()
        run.start_session()
        t1 = time.perf_counter()
        run.warm_up()
        t2 = time.perf_counter()
        run.record("session.start_s", t1 - t0)
        run.record("session.warmup_s", t2 - t1)
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        log(f"setup {setup_s:.2f}s: prepare {t0 - T_PROCESS:.2f}s, session {t1 - t0:.2f}s, "
            f"warm-up {t2 - t1:.2f}s, inputs {setup_s - (t2 - T_PROCESS):.2f}s")
        run.record("env.calibration_s", run.calibrate())
        for _ in range(PROBE_WARM):
            run.probe()
        measure(run, wl)
        n_ops = run.attempted
        peak_mb = sampler.stop()
        log("peak RSS by process (MB): " + ", ".join(
            f"{procfs.describe(p).split(' ', 2)[1].rsplit('/', 1)[-1]}={kb / 1024:.0f}"
            for p, kb in sorted(sampler.peak_by_pid.items(), key=lambda x: -x[1])))
        probe = statistics.quantiles(run.probes, n=4)[0]
        run.record("env.probe_s", probe)
        scale = PROBE_REF_S / probe
        raw = {
            "setup_s": setup_s,
            "query_geomean_ms": geomean(run.query_s) * 1e3,
            "query_p50_ms": median(run.query_s) * 1e3,
            "throughput_per_s": run.items / max(run.items_s, 1e-9),
            "cpu_ms_per_item": run.items_cpu_s / max(run.items, 1) * 1e3,
        }
        log("raw " + ", ".join(f"{k}={v:.4g}" for k, v in raw.items())
            + f"; probes {[round(p, 3) for p in run.probes]}, scale {scale:.3f}")
        if args.trace:
            metrics = layer_metrics(run, wl, n_ops)
        else:
            metrics = {
                "setup_s": raw["setup_s"] * scale,
                "query_geomean_ms": raw["query_geomean_ms"] * scale,
                "throughput_per_s": raw["throughput_per_s"] / scale,
                "cpu_ms_per_item": raw["cpu_ms_per_item"] * scale,
                "peak_rss_mb": peak_mb,
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    finally:
        teardown(run.spark)
    log(f"{args.workload}: {n_ops} ops, {len(run.failed_ops)} failed"
        + (f" {run.failed_ops}" if run.failed_ops else "")
        + f"; calibration {run.layer['env.calibration_s'][0]:.3f}s; "
        f"local[{run.cpus}], {run.cpus} shuffle partitions")
    record = {
        "correct": not run.failed_ops,
        "attempted": n_ops,
        "failed": len(run.failed_ops),
        "metrics": metrics,
    }
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
