#!/usr/bin/env python3
"""Benchmark of the resumable extraction job and the dedup/curation
operators.

    python3 perfbench/run.py --workload extract_flat --seed 1 --seconds 18 --trace 0

Run it from the repository root. One closed-loop client runs one job at a
time on ``local[<cores>]``. Each run sets up once from cold (imports, JVM
launch, session, first Spark job) and generates its input several times,
keeping the median; where the workload has a warm-up, runs its full path
once on the same input; then repeats the workload's job until
``--seconds`` of timed work have passed, checking every job's output off
the clock. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones from a
separate traced pass (spans, Spark event log, single-thread kernel replay).
Workloads, metrics and the layer predictions are described in
``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("docs_per_s", "1/s"),
]

QUERIES = ("curation_pipeline", "dedup_clusters", "ngram_jaccard_pairs")
SPARK_COUNTERS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"), ("gc_ms", "ms"), ("task_skew", "ratio"),
    ("job_ms_p50", "ms"),
]
LAYERS = ("bench", "session", "synth", "job", "extractor.pipeline", "operators", "oracle")
PER_LAYER = (
    [
        ("session.start_s", "s"), ("synth.corpus_s", "s"), ("bench.warm_up_s", "s"),
        ("synth.docs", "count"),
        ("synth.spans", "count"), ("synth.mega_span_share", "ratio"),
        ("job.scan_exchange_s", "s"), ("job.python_stage_s", "s"),
        ("job.sink_checkpoint_s", "s"), ("job.completed_buckets_s", "s"),
        ("job.buckets_run", "count"), ("job.buckets_skipped", "count"),
        ("job.redo_docs", "count"), ("job.n_docs", "count"),
        ("job.n_spans_in", "count"), ("job.n_spans_out", "count"),
        ("job.n_tables", "count"), ("job.n_errors", "count"),
        ("job.bucket_samples", "count"), ("job.bucket_ms_p50", "ms"),
        ("job.bucket_ms_p90", "ms"),
        ("job.resume_s", "s"), ("mem.peak_rss_mb", "MB"),
        ("kernel.extract_columnar_s", "s"), ("kernel.docs_per_s_1t", "1/s"),
        ("kernel.ns_per_span", "ns"), ("kernel.nested_render_s", "s"),
        ("adapter.pandas_nested_io_s", "s"), ("adapter.arrow_io_s", "s"),
    ]
    + [(f"spark.{n}", u) for n, u in SPARK_COUNTERS]
    + [(f"op.{q}_s", "s") for q in QUERIES]
    + [(f"op.{q}.jobs", "count") for q in QUERIES]
    + [("scale.docs_per_s_local1", "1/s"), ("scale.eff_1_to_4", "ratio")]
    + [(f"self.{layer}_s", "s") for layer in LAYERS]
    + [
        ("trace.wall_untraced_s", "s"), ("trace.wall_traced_s", "s"),
        ("trace.overhead_s", "s"), ("error_rate", "ratio"),
    ]
)
SETUP_REPS = 3
START = time.perf_counter()


def note(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - START:7.1f}s {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], p: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def timed_loop(ctx, wl, seconds: float, alternate: bool = False):
    """Closed loop: the next job starts when the previous one (and its
    off-clock check) is done, until ``seconds`` of on-clock time. With
    ``alternate``, every second job runs with spans on, so traced and
    untraced jobs see the same JVM warm-up phase, and there are at least
    three jobs, so that an untraced one follows a traced one; the traced
    jobs' Spark jobs are described ``pb:timed:<i>`` (the others
    ``pb:run:<i>``). The RSS sampler, which takes a few per cent of a core,
    runs in the traced run only."""
    from perfbench.tracing import RssSampler

    iters, clock = [], 0.0
    rss = RssSampler(ctx.jvm_pid())
    with rss if alternate else contextlib.nullcontext():
        while clock < seconds or (alternate and len(iters) < 3):
            ctx.tracer.enabled = alternate and len(iters) % 2 == 1
            ctx.describe(f"pb:{'timed' if ctx.tracer.enabled else 'run'}:{len(iters)}")
            with ctx.tracer.span("bench.iteration", "bench"):
                it = wl.iteration(len(iters))
            iters.append(it)
            clock += it.clock
    return iters, rss.peak


def end_to_end(wl, iters, setup_s) -> dict[str, float]:
    wall = statistics.median(it.wall for it in iters)
    units = sum(it.units for it in iters)
    failed = sum(len(it.failed) for it in iters)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": wl.props["synth.docs"] / wall,
        "error_rate": failed / units,
    }


def traced(ctx, wl, iters, t_iters, peak, e2e, setup_parts, evdir) -> dict[str, float]:
    """Per-layer figures: the untraced jobs ``iters`` and the traced jobs
    ``t_iters`` of one alternating loop (event log on for the whole
    session), then the layer splits each workload defines, the event-log
    counters, and the ``local[1]`` baseline where the workload has one
    (its job is appended to ``t_iters``)."""
    from perfbench.tracing import EventLog

    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update(setup_parts)
    m.update(wl.props)
    samples = [s for it in iters for s in it.samples_ms]
    m["job.bucket_samples"] = float(len(samples))
    m["job.bucket_ms_p50"] = percentile(samples, 50)
    m["job.bucket_ms_p90"] = percentile(samples, 90)
    m["job.resume_s"] = statistics.median(it.resume for it in iters)
    m["mem.peak_rss_mb"] = peak / 2**20
    m["error_rate"] = e2e["error_rate"]
    # against the untraced jobs after the first traced one: the first job
    # of a workload without a warm-up pass is the session's first
    m["trace.wall_untraced_s"] = statistics.median(it.wall for it in iters[1:])
    m["trace.wall_traced_s"] = statistics.median(it.wall for it in t_iters)
    m["trace.overhead_s"] = m["trace.wall_traced_s"] - m["trace.wall_untraced_s"]
    m.update({k: v for k, v in t_iters[-1].counts.items() if k in m})

    tr = ctx.tracer
    tr.enabled = True
    m.update(wl.layers(iters, e2e))
    note("layer splits done")
    ctx.stop_session()
    tr.enabled = False

    log = EventLog(evdir)
    n = len(t_iters)
    for k, v in log.counters(lambda d: d.startswith("pb:timed")).items():
        m[f"spark.{k}"] = v if k in ("task_skew", "job_ms_p50") else v / n
    if wl.name == "dedup_curation":
        for q in QUERIES:
            jobs = log.counters(lambda d, q=q: d.startswith("pb:timed") and d.endswith("|" + q))
            m[f"op.{q}.jobs"] = jobs["jobs"] / n
    for layer, s in tr.self_times().items():
        m[f"self.{layer}_s"] = s

    if wl.SCALE_BASELINE:  # the same job at one slot, JVM already warm
        ctx.start_session(slots=1)
        ctx.describe("pb:local1")
        one = wl.iteration(len(iters) + n)
        note(f"local[1] iteration {one.wall:.2f}s")
        m["scale.docs_per_s_local1"] = wl.props["synth.docs"] / one.wall
        m["scale.eff_1_to_4"] = e2e["docs_per_s"] / (ctx.cores * m["scale.docs_per_s_local1"])
        t_iters.append(one)
    return m


def bench(args, work: str) -> dict:
    from perfbench.tracing import Tracer

    evdir = os.path.join(work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    # set-up: the cold start is made once (a JVM launch per set-up would
    # cost more than the timed loop); the input is generated SETUP_REPS
    # times and the median kept
    t0 = time.perf_counter()
    from perfbench.workloads import Context, WORKLOADS

    ctx = Context(work, args.seed, cores, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        ctx.start_session(event_log=evdir)
        with tracer.span("session.first_job", "session"):
            ctx.spark.range(1).count()  # pays the JVM's first-job class loading
        start = time.perf_counter() - t0
        gens = []
        for _ in range(SETUP_REPS):
            t1 = time.perf_counter()
            wl.generate()
            gens.append(time.perf_counter() - t1)
        setup_s = start + statistics.median(gens)
        note(f"set-up {setup_s:.2f}s: start {start:.2f}s, input "
             + ", ".join(f"{g:.2f}s" for g in gens))
        tracer.enabled = False
        t0 = time.perf_counter()
        wl.warm_up()
        warm = time.perf_counter() - t0
        note("warmed up")
        both, peak = timed_loop(ctx, wl, args.seconds, args.trace)
        note(f"{len(both)} iterations: " + ", ".join(f"{it.wall:.2f}s" for it in both))
        iters, t_iters = (both[0::2], both[1::2]) if args.trace else (both, [])
        e2e = end_to_end(wl, iters, setup_s)
        if args.trace:
            setup_parts = {
                "session.start_s": start,
                "synth.corpus_s": statistics.median(gens) if wl.props.get("synth.spans") else 0.0,
                "bench.warm_up_s": warm,
            }
            metrics = traced(ctx, wl, iters, t_iters, peak, e2e, setup_parts, evdir)
            units = PER_LAYER
        else:
            metrics = e2e
            units = END_TO_END
    finally:
        ctx.shutdown()

    iters = iters + t_iters
    failures = [(u, why) for it in iters for u, why in it.failed.items()]
    for u, why in failures[:50]:
        print(f"perfbench: FAILED {u}: {why}", file=sys.stderr)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "iterations": [
            {"wall": it.wall, "resume": it.resume, "samples_ms": it.samples_ms,
             "failed": it.failed, "digest": it.counts.get("digest")}
            for it in iters
        ],
        "end_to_end": e2e,
        "metrics": metrics,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1)
    if args.trace:
        ctx.tracer.dump(stem + "-spans.json")
    return {
        "correct": not failures,
        "attempted": sum(it.units for it in iters),
        "failed": len(failures),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_flat", "dedup_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "key_resource_table_extractor_spark")):
        print("perfbench: key_resource_table_extractor_spark not found next to "
              "perfbench/; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the library from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts (its launcher too) keeps its temp files,
    # and no hsperfdata, inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"]
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
