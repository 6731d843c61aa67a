"""The benchmark's workloads and the context they run in.

Each workload has the same four steps, called by ``run.py``:

- ``generate()``: write the inputs (part of set-up, timed as ``setup_s``);
- ``warm_up()``: one untimed pass of the full path, where the workload
  has one;
- ``iteration(i)``: one timed job, then its correctness checks off the clock;
- ``layers(...)``: the traced run's per-layer figures.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job, oracle, synth
from key_resource_table_extractor_spark.extractor import pipeline
from key_resource_table_extractor_spark.session import build_session
from perfbench.tracing import alive, tree

HERE = os.path.dirname(os.path.abspath(__file__))

SPANS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string(), False),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)
ARROW_BATCH_ROWS = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch


@dataclass
class Iteration:
    """One timed job: on-clock seconds, its samples and the failed units."""

    wall: float  # the job
    resume: float  # the re-invocation of the finished job (not in ``wall``)
    clock: float  # all on-clock seconds of this iteration
    units: int
    samples_ms: list[float]
    failed: dict[str, str] = field(default_factory=dict)  # unit -> reason
    counts: dict[str, float] = field(default_factory=dict)


class Context:
    """Session, work directory and tracer shared by the workloads."""

    def __init__(self, work: str, seed: int, cores: int, tracer):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.job_desc = ""
        self._n = 0
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def start_session(self, slots: int | None = None, event_log: str | None = None):
        slots = slots or self.cores
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        with self.tracer.span("session.build_session", "session"):
            self.spark = build_session(
                app_name="perfbench",
                master=f"local[{slots}]",
                shuffle_partitions=slots,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and its
        Python workers have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        procs = tree(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gw.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def describe(self, text: str) -> None:
        self.job_desc = text
        self.spark.sparkContext.setJobDescription(text)


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def _scan(pattern: str) -> str:
    return f"read_parquet('{pattern}', hive_partitioning=false)"


def _is_mega(doc_id: str) -> bool:
    return zlib.crc32(doc_id.encode()) % synth.MEGA_DOC_EVERY == 0


def _write_corpus(docs: dict[str, list[tuple]], path: str, files: int) -> None:
    """``(doc_id, spans)`` parquet in ``files`` parts, as a Spark table."""
    os.makedirs(path)
    ids = list(docs)
    step = -(-len(ids) // files)
    for k in range(0, len(ids), step):
        part = ids[k : k + step]
        spans = [
            [
                {"kind": kd, "text": t, "media_ref": m, "offset": o}
                for (kd, t, m, o) in docs[d]
            ]
            for d in part
        ]
        tbl = pa.table([pa.array(part), pa.array(spans, SPANS_ARROW.field("spans").type)],
                       schema=SPANS_ARROW)
        pq.write_table(tbl, os.path.join(path, f"part-{k // step:05d}.parquet"))


def _corpus_props(docs: dict[str, list[tuple]]) -> dict[str, float]:
    spans = sum(len(s) for s in docs.values())
    mega = sum(len(s) for d, s in docs.items() if _is_mega(d))
    return {
        "synth.docs": float(len(docs)),
        "synth.spans": float(spans),
        "synth.mega_span_share": mega / spans,
    }


def _checkpoint_rows(cp: str) -> list[tuple]:
    return _duck().execute(
        "SELECT bucket, wall_ms, n_docs, n_spans_in, n_spans_out, n_tables,"
        f" n_errors, status FROM {_scan(cp + '/*/*.parquet')}"
    ).fetchall()


def _cp_counts(rows: list[tuple]) -> dict[str, float]:
    names = ("n_docs", "n_spans_in", "n_spans_out", "n_tables", "n_errors")
    return {f"job.{n}": float(sum(r[2 + k] for r in rows)) for k, n in enumerate(names)}


class ExtractFlat:
    """``run_extraction(output_mode="spans")`` over a default-mix synth
    corpus; then the same call again, which finds every bucket committed:
    the resume of a finished run."""

    name = "extract_flat"
    BUCKETS = 4
    N_DOCS = 5000
    N_MEGA = N_DOCS // synth.MEGA_DOC_EVERY  # synth's default mix
    SCALE_BASELINE = True
    ORACLE_SAMPLE = 40

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.docs: dict[str, list[tuple]] = {}
        self.corpus = ""
        self.props: dict[str, float] = {}
        self.ref: dict[str, tuple] | None = None

    def pick_docs(self, seed: int) -> list[str]:
        """Doc ids from synth's own id space (``doc_<seed>_<i>``): the first
        ``N_MEGA`` that synth makes mega-docs and the first regular ones.
        Fixing the count keeps the mix, and so the work, equal across
        seeds."""
        mega, rest, i = [], [], 0
        while len(mega) < self.N_MEGA or len(rest) < self.N_DOCS - self.N_MEGA:
            d = f"doc_{seed}_{i:07d}"
            (mega if _is_mega(d) else rest).append(d)
            i += 1
        return sorted(mega[: self.N_MEGA] + rest[: self.N_DOCS - self.N_MEGA])

    def generate(self) -> None:
        seed = self.ctx.seed
        with self.ctx.tracer.span("synth.generate_doc", "synth"):
            self.docs = {d: synth.generate_doc(d, seed) for d in self.pick_docs(seed)}
        if self.corpus:  # the previous set-up's copy
            shutil.rmtree(self.corpus)
        self.corpus = self.ctx.fresh("corpus")
        with self.ctx.tracer.span("synth.write_corpus", "synth"):
            _write_corpus(self.docs, self.corpus, self.ctx.cores)
        self.props = _corpus_props(self.docs)

    def run(self, out: str, cp: str, run_id: str, **kw) -> dict:
        tr = self.ctx.tracer
        with tr.span("job.read_spans", "job"):
            df = job.read_spans(self.ctx.spark, self.corpus)
        with tr.span("job.run_extraction", "job"):
            return job.run_extraction(
                self.ctx.spark, df, out, cp, run_id=run_id,
                n_buckets=self.BUCKETS, output_mode="spans", **kw,
            )

    def _noop(self, extract: bool) -> float:
        """The bucket loop of ``run_extraction`` up to its sink: per
        bucket, the ``pmod(xxhash64(doc_id), BUCKETS)`` filter over
        ``read_spans`` and ``salted_repartition`` (and ``job.extract``),
        each forced with a noop sink."""
        spark = self.ctx.spark
        parts = spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        bucketed = job.read_spans(spark, self.corpus).withColumn(
            "__bucket", F.pmod(F.xxhash64("doc_id"), F.lit(self.BUCKETS)).cast("int")
        )
        for b in range(self.BUCKETS):
            df = job.salted_repartition(
                bucketed.filter(F.col("__bucket") == b).drop("__bucket"), parts
            )
            if extract:
                df = job.extract(df)
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def job_split(self, wall: float) -> dict[str, float]:
        """``wall`` minus the noop-extract loop leaves what only the real
        job does: the output marker and checkpoint reads before the loop,
        and per bucket the ``observe`` tallies, the parquet sink and the
        checkpoint row."""
        tr = self.ctx.tracer
        self.ctx.describe("pb:split")
        with tr.span("job.salted_repartition(noop)", "job"):
            scan = self._noop(False)
        with tr.span("job.extract(noop)", "job"):
            stage = self._noop(True)
        return {
            "job.scan_exchange_s": scan,
            "job.python_stage_s": stage - scan,
            "job.sink_checkpoint_s": wall - stage,
        }

    def batches(self) -> list[pa.RecordBatch]:
        files = sorted(os.listdir(self.corpus))
        return [
            b
            for f in files
            for b in pq.ParquetFile(os.path.join(self.corpus, f)).iter_batches(
                batch_size=ARROW_BATCH_ROWS
            )
        ]

    def completed_buckets_s(self) -> float:
        """``job.completed_buckets`` on the checkpoint of a run crashed
        after half the buckets: the read a resume starts with."""
        out, cp = self.ctx.fresh("out"), self.ctx.fresh("cp")
        half = self.BUCKETS // 2
        try:
            self.run(out, cp, "probe", fail_after_bucket=half - 1)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.ctx.tracer.span("job.completed_buckets", "job"):
                done = job.completed_buckets(self.ctx.spark, cp, "probe")
            times.append(time.perf_counter() - t0)
        if len(done) != half:
            raise RuntimeError(f"completed_buckets found {sorted(done)}")
        shutil.rmtree(out)
        shutil.rmtree(cp)
        return statistics.median(times)

    def arrow_replay(self) -> dict[str, float]:
        """Single-thread replay of the flat ``mapInArrow`` adapter over the
        corpus' own Arrow batches, ``extract_columnar`` timed inside it."""
        tr = self.ctx.tracer
        batches = self.batches()
        fn = pipeline.make_map_in_arrow_fn()
        kernel = pipeline.extract_columnar
        pipeline.extract_columnar = tr.wrap(kernel, "kernel.extract_columnar", "extractor.pipeline")
        try:
            with tr.span("adapter.map_in_arrow", "extractor.pipeline"):
                for _ in fn(iter(batches)):
                    pass
        finally:
            pipeline.extract_columnar = kernel
        kernel_s = tr.total("kernel.extract_columnar")
        return {
            "kernel.extract_columnar_s": kernel_s,
            "kernel.docs_per_s_1t": self.props["synth.docs"] / kernel_s,
            "kernel.ns_per_span": kernel_s * 1e9 / self.props["synth.spans"],
            "adapter.arrow_io_s": tr.total("adapter.map_in_arrow") - kernel_s,
        }

    def nested_replay(self) -> dict[str, float]:
        """Single-thread replay of the pandas nested adapter
        (``extract_nested_batch``, nested-colspans with the anchor row
        model) over the corpus' own Arrow batches, with the Arrow<->pandas
        conversions Spark makes around it: the time in the renderer, and
        the rest minus the kernel (``extract_columnar`` with extents)."""
        tr = self.ctx.tracer
        batches = self.batches()
        kernel, render = pipeline.extract_columnar, pipeline.nested_from_columnar
        pipeline.extract_columnar = tr.wrap(
            kernel, "kernel.extract_columnar(extents)", "extractor.pipeline"
        )
        pipeline.nested_from_columnar = tr.wrap(
            render, "kernel.nested_from_columnar", "extractor.pipeline"
        )
        try:
            with tr.span("adapter.map_in_pandas_nested", "extractor.pipeline"):
                for rb in batches:
                    res = pipeline.extract_nested_batch(
                        rb.to_pandas(), with_colspans=True, row_model="anchor"
                    )
                    pa.RecordBatch.from_pandas(res, preserve_index=False)
        finally:
            pipeline.extract_columnar, pipeline.nested_from_columnar = kernel, render
        kernel_s = tr.total("kernel.extract_columnar(extents)")
        render_s = tr.total("kernel.nested_from_columnar")
        return {
            "kernel.nested_render_s": render_s,
            "adapter.pandas_nested_io_s": tr.total("adapter.map_in_pandas_nested")
            - kernel_s
            - render_s,
        }

    def warm_up(self) -> None:
        """One untimed job on the full corpus: a smaller input leaves the
        JVM warming through the first timed jobs."""
        out, cp = self.ctx.fresh("out"), self.ctx.fresh("cp")
        self.run(out, cp, "warm")
        self.run(out, cp, "warm")
        shutil.rmtree(out)
        shutil.rmtree(cp)

    def iteration(self, i: int) -> Iteration:
        out, cp = self.ctx.fresh("out"), self.ctx.fresh("cp")
        run_id = f"flat{i}"
        t0 = time.perf_counter()
        first = self.run(out, cp, run_id)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        again = self.run(out, cp, run_id)
        resume = time.perf_counter() - t1
        with self.ctx.tracer.span("bench.check", "bench"):
            it = Iteration(wall, resume, wall + resume, len(self.docs), [])
            self.check(i, out, cp, first, again, it)
        shutil.rmtree(out)
        shutil.rmtree(cp)
        return it

    def check(self, i, out, cp, first, again, it: Iteration) -> None:
        rows = _checkpoint_rows(cp)
        it.samples_ms = [float(r[1]) for r in rows]
        it.counts = _cp_counts(rows)
        it.counts.update(
            {"job.buckets_run": float(first["buckets_run"]),
             "job.buckets_skipped": float(again["buckets_skipped"]),
             "job.redo_docs": it.counts["job.n_docs"] - len(self.docs)}
        )
        if (first["buckets_run"], again["buckets_run"], again["buckets_skipped"]) != (
            self.BUCKETS, 0, self.BUCKETS
        ) or len(rows) != self.BUCKETS or it.counts["job.n_docs"] != len(self.docs):
            it.failed.update(
                {d: f"bucket bookkeeping: {first} {again} {len(rows)} rows" for d in self.docs}
            )
            return
        con = _duck()
        data = f"{_scan(out + '/bucket=*/*.parquet')} WHERE kind IN ('text', 'media')"
        for (d,) in con.execute(
            f"SELECT DISTINCT doc_id FROM {_scan(out + '/bucket=*/*.parquet')}"
            " WHERE kind = 'error'"
        ).fetchall():
            it.failed[d] = "error row"
        for (d,) in con.execute(
            f"SELECT DISTINCT doc_id FROM {data} GROUP BY doc_id, seq HAVING count(*) > 1"
        ).fetchall():
            it.failed[d] = "duplicate span rows"
        digest = {
            d: (n, h)
            for d, n, h in con.execute(
                "SELECT doc_id, count(*), sum(hash(seq, kind, text, media_ref, \"offset\"))"
                f" FROM {data} GROUP BY doc_id"
            ).fetchall()
        }
        if self.ref is None:
            self.ref = digest
        for d in set(digest) ^ set(self.ref) | {
            d for d in digest.keys() & self.ref.keys() if digest[d] != self.ref[d]
        }:
            it.failed[d] = "output differs from the first iteration"
        rng = random.Random(self.ctx.seed * 1_000_003 + i)
        ids = list(self.docs)
        sample = rng.sample(ids, self.ORACLE_SAMPLE) + rng.sample(
            [d for d in ids if _is_mega(d)] or ids, 2
        )
        got: dict[str, list] = {d: [] for d in sample}
        for row in con.execute(
            f"SELECT doc_id, seq, kind, text, media_ref, \"offset\" FROM {data}"
            f" AND doc_id IN ({', '.join('?' * len(sample))}) ORDER BY doc_id, seq",
            sample,
        ).fetchall():
            got[row[0]].append(row)
        with self.ctx.tracer.span("oracle.extract_document", "oracle"):
            for d in sample:
                want = [(d, *r) for r in oracle.extract_document(self.docs[d])]
                if got[d] != want:
                    it.failed[d] = "span sequence differs from oracle.extract_document"
        it.counts["digest"] = float(sum(h for _, h in digest.values()) % (1 << 53))

    def layers(self, iters, e2e) -> dict[str, float]:
        return {
            **self.job_split(e2e["wall_s"]),
            "job.completed_buckets_s": self.completed_buckets_s(),
            **self.arrow_replay(),
            **self.nested_replay(),
        }


class DedupCuration:
    """``curation_pipeline``, ``dedup_clusters`` and ``ngram_jaccard_pairs``
    from ``__spark_entry__.queries()`` over the fixed sf0.1 documents
    table, each forced with a noop sink."""

    name = "dedup_curation"
    SCALE_BASELINE = False
    QUERIES = ("curation_pipeline", "dedup_clusters", "ngram_jaccard_pairs")
    TABLES = os.path.join(HERE, "data", "sf0.1")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        with open(os.path.join(HERE, "oracle_sf0.1.json")) as fh:
            self.expected = json.load(fh)
        self.props: dict[str, float] = {}

    def generate(self) -> None:
        """The table is a fixed file: set-up only scans it for its size."""
        n = self.ctx.spark.read.parquet(os.path.join(self.TABLES, "documents.parquet")).count()
        self.props = {"synth.docs": float(n)}

    def run_query(self, name: str) -> tuple[float, dict]:
        from pyspark.sql import Observation

        spark = self.ctx.spark
        base = self.ctx.job_desc
        spark.sparkContext.setJobDescription(f"{base}|{name}")
        obs = Observation(f"pb_{name}_{time.monotonic_ns()}")
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"operators.{name}", "operators"):
            df = self.queries[name](spark, self.TABLES)
            digest_frame(df, obs).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(base)
        return wall, obs.get

    def warm_up(self) -> None:
        """None: the timed pass is the session's first, as in a batch run
        of the three queries. A warm-up pass would double the run, and
        most of its extra cost is one-off, whatever the table's size."""

    def iteration(self, i: int) -> Iteration:
        it = Iteration(0.0, 0.0, 0.0, len(self.QUERIES), [])
        for q in self.QUERIES:
            wall, got = self.run_query(q)
            it.wall += wall
            it.counts[f"op.{q}_s"] = wall
            want = self.expected[q]
            if (got["rows"], str(got["digest"])) != (want["rows"], want["digest"]):
                it.failed[q] = f"rows/digest {got['rows']}/{got['digest']} != oracle {want}"
        it.clock = it.wall
        return it

    def layers(self, iters, e2e) -> dict[str, float]:
        """Per-query walls of the session's first pass, the one a plain
        run times."""
        return {f"op.{q}_s": iters[0].counts[f"op.{q}_s"] for q in self.QUERIES}


def digest_frame(df, obs):
    """``df`` observed with its row count and an order-insensitive digest:
    the sum of xxhash64 over every row, columns in name order, doubles
    rounded to 9 places. ``make_oracle.py`` applies the same digest to the
    DuckDB oracle rows."""
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name.lower()):
        c = F.col(f.name)
        cols.append(F.round(c, 9) if isinstance(f.dataType, (DoubleType, FloatType)) else c)
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    )


WORKLOADS = {w.name: w for w in (ExtractFlat, DedupCuration)}
