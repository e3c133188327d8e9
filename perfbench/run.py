#!/usr/bin/env python3
"""The benchmark of record for search_engine_spark.

    python3 perfbench/run.py --workload {build,query,ingest_serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It starts one local Spark session on all
visible CPUs, makes the workload's inputs from the seed, runs the workload's
closed loop for ``--seconds``, checks every output against the oracle and
prints one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones (and
the tracing overhead). A human-readable table goes to stderr; spans and a
full report are written under ``.perfbench/`` in the checkout. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

import measure
from spans import Tracer, attribute, event_log_files, overlap, parse_event_log, self_intervals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end within 180 s, cleanup included

SPAN_COLUMNS = ("jobs", "stages", "tasks", "driver_s", "executor_cpu_s", "input_mb",
                "shuffle_write_mb", "spill_mb", "python_mb_sent", "python_udf_s")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "query", "ingest_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class _Deadline(BaseException):
    pass


def _alarm(_sig, _frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work dir (they inherit this process's environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")


def _start_session(work: str, traced: bool):
    from search_engine_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{cpus}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0, cpus


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it and every Python worker
    it started have ended."""
    from pyspark import SparkContext

    kids = measure.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    live = kids
    while live and time.time() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@contextmanager
def _nested_spans(tracer):
    """Traced runs only: give the library calls that other library calls
    make (a build's batches and finalize, a refresh's re-prepare) their own
    child spans, by wrapping the module attributes those callers look up."""
    from search_engine_spark.operators import serving as SV
    from search_engine_spark.sources import segments as S

    targets = [(S, "build_one_batch", "segments.build_one_batch"),
               (S, "finalize_index", "segments.finalize_index"),
               (SV, "prepare_serving_cache", "serving.prepare_serving_cache")]
    saved = []
    for mod, attr, name in targets:
        fn = getattr(mod, attr)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            if tracer._stack and tracer._stack[-1].name == _name:
                return _fn(*a, **kw)  # the benchmark's own span already
            with tracer.span(_name):
                return _fn(*a, **kw)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapped)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _probe_functions(docs: dict, seed: int) -> dict:
    """Direct calls into ``functions``: the code analyzer over a seeded
    sample of the workload's docs, the posting codec over their postings."""
    import numpy as np

    from search_engine_spark.functions import codec
    from search_engine_spark.functions.analyzers import get_analyzer

    rng = random.Random(f"functions-{seed}")
    ids = sorted(docs)
    sample = sorted(rng.sample(ids, min(1000, len(ids))))
    analyze = get_analyzer("porter_code")
    texts = [docs[d] for d in sample]
    postings: dict[str, list[int]] = {}
    for d, t in zip(sample, texts):  # also warms the stemmer cache
        for tok in set(analyze(t)):
            postings.setdefault(tok, []).append(d)
    lists = [np.array(postings[t], dtype=np.int64) for t in sorted(postings)]

    def rate(fn, mb: float) -> float:
        t0, n = time.perf_counter(), 0
        while time.perf_counter() - t0 < 0.3 or n < 2:
            fn()
            n += 1
        return n * mb / (time.perf_counter() - t0)

    text_mb = sum(len(t.encode()) for t in texts) / 2**20
    bufs = [codec.delta_varbyte_encode(x) for x in lists]
    enc_mb = sum(len(b) for b in bufs) / 2**20
    return {
        "functions.porter_code_mb_per_s": rate(lambda: [analyze(t) for t in texts], text_mb),
        "functions.delta_varbyte_encode_mb_per_s": rate(
            lambda: [codec.delta_varbyte_encode(x) for x in lists], enc_mb),
        "functions.delta_varbyte_decode_mb_per_s": rate(
            lambda: [codec.delta_varbyte_decode(b) for b in bufs], enc_mb),
    }


def _median(values) -> float:
    return measure.percentile(values, 50) if values else 0.0


def _span_table(tracer) -> dict:
    """Per span name: calls, p50 wall and the median per-call counters."""
    by: dict[str, list] = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(s)
    out = {}
    for name, spans in sorted(by.items()):
        row = {"n": len(spans), "p50_ms": _median([s.wall_s * 1000 for s in spans])}
        for c in SPAN_COLUMNS:
            vals = [s.python_udf_s if c == "python_udf_s" else s.counters.get(c, 0.0)
                    for s in spans]
            row[c] = _median(vals)
        out[name] = row
    return out


def _accounting(tracer) -> dict:
    """Per root-span name: sum over each op tree of (job time + driver_s),
    as a share of the op wall. 1.0 means the split accounts for the wall."""
    kids = tracer.children()
    acc: dict[str, list[float]] = {}

    def tree(s):
        own = self_intervals(s, kids.get(s.id, []))
        total = overlap(own, s.job_intervals) + s.counters["driver_s"]
        return total + sum(tree(k) for k in kids.get(s.id, []))

    for s in tracer.roots():
        if s.wall_s > 0:
            acc.setdefault(s.name, []).append(tree(s) / s.wall_s)
    return {k: min(v) for k, v in sorted(acc.items())}


def _layer_metrics(tracer, w, run, session_s: float, functions: dict,
                   untagged: int, parse_s: float) -> dict:
    from workloads import READ_OPS

    named = lambda n: [s for s in tracer.spans if s.name == n]  # noqa: E731
    batches = named("segments.build_one_batch")
    reads = [s for s in tracer.spans if s.name in READ_OPS and s.phase != "setup"]
    loop_roots = tracer.roots("loop")
    kids = tracer.children()

    def counter(spans, c):
        return _median([s.python_udf_s if c == "python_udf_s" else s.counters[c]
                        for s in spans])

    if w.name == "ingest_serve":
        visible = [s.wall_s for s in named("ingest.publish")]
    else:
        visible = [s.wall_s for s in named("segments.build_index")]
    skew = [x["metrics"]["shuffle_skew_ratio"]
            for d in run.index_dirs for x in _manifest(d)["batches"].values()
            if (x.get("metrics") or {}).get("shuffle_skew_ratio")]

    def tree_driver(s):
        return s.counters["driver_s"] + sum(tree_driver(k) for k in kids.get(s.id, []))

    m = {
        "session.spark_session_start_s": (session_s, "s"),
        **{k: (v, "MB/s") for k, v in functions.items()},
        "segments.build_one_batch_s": (_median([s.wall_s for s in batches]), "s"),
        "segments.finalize_index_s": (
            _median([s.wall_s for s in named("segments.finalize_index")]), "s"),
        "segments.shuffle_skew_ratio": (_median(skew), "ratio"),
    }
    for c, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("driver_s", "s"), ("executor_cpu_s", "s"), ("python_udf_s", "s"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                    ("python_mb_sent", "MB")):
        m[f"build.{c}"] = (counter(batches, c), unit)
    m["read.p50_ms"] = (_median([s.wall_s * 1000 for s in reads]), "ms")
    for c, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("driver_s", "s"), ("executor_cpu_s", "s"), ("python_udf_s", "s"),
                    ("input_mb", "MB"), ("shuffle_write_mb", "MB")):
        m[f"read.{c}"] = (counter(reads, c), unit)
    m["read.input_rows_per_hit"] = (
        sum(s.counters["input_rows"] for s in reads) / max(run.read_hits, 1), "ratio")
    m["write.visible_s"] = (_median(visible), "s")
    units = [s for s in loop_roots if s.name == w.unit_op or
             (w.unit_op == "query" and s.name in READ_OPS)]
    m["trace.op_p50_ms"] = (_median([s.wall_s * 1000 for s in units]), "ms")
    n_ops = max(run.attempted, 1)
    m["trace.overhead_ms_per_op"] = (tracer.own_s * 1000 / n_ops, "ms")
    wall = sum(s.wall_s for s in loop_roots)
    m["trace.driver_share"] = (
        sum(tree_driver(s) for s in loop_roots) / wall if wall else 0.0, "ratio")
    m["trace.untagged_jobs"] = (untagged, "count")
    m["trace.parse_s"] = (parse_s, "s")
    return m


def _manifest(index_dir: str) -> dict:
    from search_engine_spark.sources.segments import read_manifest

    return read_manifest(index_dir) if os.path.isdir(index_dir) else {"batches": {}}


def _print_table(title: str, metrics: dict, extra: dict) -> None:
    print(f"== {title}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        note = extra.get(name, "")
        print(f"  {name:42s} {value:14.4f} {unit:6s} {note}", file=sys.stderr)


def run(a) -> dict:
    from workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    spark, session_s, cpus = _start_session(work, bool(a.trace))
    tracer = Tracer(spark if a.trace else None)
    w = WORKLOADS[a.workload]()
    r = Run(spark, tracer, work, a.seed, a.seconds)
    try:
        with (_nested_spans(tracer) if a.trace else _noop()):
            t0 = time.perf_counter()
            w.setup(r)
            setup_s = session_s + time.perf_counter() - t0
            tracer.phase = "check"
            w.prepare_check(r)
            tracer.phase = "loop"
            w.loop(r)
            tracer.phase = "check"
            w.check(r)
            functions = _probe_functions(w.docs, a.seed) if a.trace else {}
        rss = measure.peak_rss_mb()
    finally:
        _stop_session(spark)
    if not w.latencies:
        raise RuntimeError(f"no {w.unit_op} op completed:\n" + "\n".join(r.failures))
    lat = [x * 1000 for x in w.latencies]
    s = measure.summary(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (s["p50"], "ms"),
        "op_p90_ms": (s["p90"], "ms"),
        "rate_per_s": (w.rate_per_s(), "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "index_bytes_per_content_byte": (w.index_bytes_per_content_byte(), "ratio"),
    }
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "attempted": r.attempted, "failed": r.failed,
        "failures": r.failures, "unit_op": w.unit_op,
        "unit_op_latency_ms": {**s, "samples": lat},
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        **r.report,
    }
    out = e2e
    if a.trace:
        t0 = time.perf_counter()
        jobs = parse_event_log(event_log_files(os.path.join(work, "eventlog")))
        untagged = attribute(tracer, jobs)
        parse_s = time.perf_counter() - t0
        out = _layer_metrics(tracer, w, r, session_s, functions, untagged, parse_s)
        report["per_layer"] = {k: v for k, (v, _) in out.items()}
        report["spans_by_name"] = _span_table(tracer)
        report["accounted_share_by_op"] = _accounting(tracer)
    tracer.dump(os.path.join(work, "spans.jsonl"))
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for entry in os.listdir(work):  # keep the spans and the report only
        p = os.path.join(work, entry)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    notes = {"op_p50_ms": f"n={s['n']} ({w.unit_op})", "op_p90_ms": f"n={s['n']}"}
    if "tail_pct" in s:
        notes["op_p90_ms"] += f"; p{s['tail_pct']} (10 beyond) = {s['tail']:.1f} ms"
    _print_table(f"{a.workload} seed={a.seed} trace={a.trace} cpus={cpus}", out, notes)
    if a.trace:
        print("  per op (median per call):", file=sys.stderr)
        for name, row in report["spans_by_name"].items():
            cols = " ".join(f"{c}={row[c]:.3g}" for c in ("n", "p50_ms", *SPAN_COLUMNS))
            print(f"    {name:34s} {cols}", file=sys.stderr)
        print(f"  accounted share by op: {report['accounted_share_by_op']}", file=sys.stderr)
    for line in r.failures:
        print(f"  FAILED {line}", file=sys.stderr)
    print(f"  report: {os.path.relpath(work, ROOT)}/report.json", file=sys.stderr)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }


@contextmanager
def _noop():
    yield


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import search_engine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    try:
        result = run(a)
    except (Exception, _Deadline):
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
