"""The three workloads: ``build``, ``query`` and ``ingest_serve``.

Each is a closed loop with one client: the next call starts when the last
one returned. ``setup`` makes the inputs and everything the loop needs,
``loop`` runs ops until the window has passed, and ``check`` compares every
recorded output with the single-node oracle (``plans.oracle.OracleIndex``),
after the loop so that checking costs no window time. Every span a workload
opens wraps exactly one call into the library (plus its ``collect``).
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback

from pyspark.sql import functions as F

from search_engine_spark.operators import codesearch as C
from search_engine_spark.operators import delete as D
from search_engine_spark.operators import parser as P
from search_engine_spark.operators import query as Q
from search_engine_spark.operators import rank as R
from search_engine_spark.operators import serving as SV
from search_engine_spark.operators.query import analyze_query
from search_engine_spark.plans.oracle import OracleIndex
from search_engine_spark.sources import segments as S

import inputs
from measure import dir_bytes, percentile

ANALYZER = "porter_code"
K = 10
SCORE_TOL = 1e-9


# the calls whose results are read by a user; the rest write or maintain
READ_OPS = (
    "rank.score_query_daat", "query.search_and", "query.search_phrase",
    "parser.search_query_string", "codesearch.search_substring",
    "serving.score_queries_cached",
)


class Run:
    """State one workload run shares: session, tracer, work dir and the
    op/failure accounting behind ``attempted``, ``failed`` and error_rate.

    Only loop ops count as attempted. A setup call that raises aborts the
    run; a check-phase call that raises returns None and the check charges
    the failure to the op it was checking."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.failures: list[str] = []
        self.report: dict = {}
        self.read_hits = 0
        self.index_dirs: list[str] = []
        self._next_op = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn):
        """One call inside a span. Returns ``(op_id, result, seconds)``; the
        result is None when the call raised."""
        op_id = self._next_op
        self._next_op += 1
        phase = self.tracer.phase
        if phase == "loop":
            self.attempted += 1
        self.tracer.op = op_id
        out = None
        with self.tracer.span(name) as s:
            try:
                out = fn()
            except Exception:  # a failing op is counted; the loop goes on
                if phase == "setup":
                    raise
                self.fail(op_id, f"{name} raised:\n{traceback.format_exc()}",
                          counted=phase == "loop")
        self.tracer.op = None
        if name in READ_OPS and out is not None and phase != "setup":
            self.read_hits += len(out)
        return op_id, out, s.wall_s

    def fail(self, op_id: int, why: str, counted: bool = True) -> None:
        if counted:
            self.failed_ops.add(op_id)
        if len(self.failures) < 20:
            self.failures.append(f"op {op_id}: {why}")

    @property
    def failed(self) -> int:
        return len(self.failed_ops)


def _collect_docs(df) -> dict[int, str]:
    pdf = df.select("docId", "content").toPandas()
    return dict(zip(pdf.docId.astype("int64").tolist(), pdf.content.tolist()))


def _ranked(rows) -> list[tuple[int, float]]:
    return [(int(r.docId), float(r.score)) for r in rows]


def _same_ranking(got, exp) -> str | None:
    """None when ``got`` equals ``exp`` in docIds and, within SCORE_TOL, in
    scores; otherwise a one-line description of the first difference."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return f"docIds {[d for d, _ in got]} != oracle {[d for d, _ in exp]}"
    for (d, a), (_, b) in zip(got, exp):
        if abs(a - b) > SCORE_TOL:
            return f"score of {d}: {a!r} != oracle {b!r}"
    return None


def _limited_subset(got: list[int], exp: set[int]) -> str | None:
    """Check of a ``limit(K)`` boolean result: distinct members of the
    oracle's set, as many as the set allows."""
    if len(set(got)) != len(got):
        return f"duplicate docIds in {got}"
    if not set(got) <= exp:
        return f"docIds {sorted(set(got) - exp)} not in the oracle result"
    if len(got) != min(K, len(exp)):
        return f"{len(got)} hits, oracle has {len(exp)}"
    return None


def _heavy_threshold(n_docs: int) -> int:
    """Salting threshold: terms in more than 5% of the docs are salted."""
    return max(64, n_docs // 20)


class Workload:
    name = ""
    # the op whose latency is op_p50_ms / op_p90_ms
    unit_op = ""

    def __init__(self):
        self.latencies: list[float] = []

    def setup(self, run: Run) -> None:
        raise NotImplementedError

    def prepare_check(self, run: Run) -> None:
        """Oracle work before the loop; costs no setup or window time."""

    def loop(self, run: Run) -> None:
        raise NotImplementedError

    def check(self, run: Run) -> None:
        raise NotImplementedError

    def rate_per_s(self) -> float:
        raise NotImplementedError

    def index_bytes_per_content_byte(self) -> float:
        raise NotImplementedError

    def read_index(self, run: Run, index_dir: str):
        m = S.read_manifest(index_dir)
        st = m["stats"]
        return {
            "segs": S.load_segments(run.spark, index_dir),
            "stats": S.load_term_stats(run.spark, index_dir),
            "n_docs": st["n_docs"],
            "avgdl": st["avgdl"],
            "span": (st["docid_lo"], st["docid_hi"]),
        }


# --- build --------------------------------------------------------------------


class Build(Workload):
    """Fresh porter_code + positions builds with heavy-term salting over a
    code corpus of ~0.5 KB rows plus a tail of ~250 KB documents."""

    name = "build"
    unit_op = "segments.build_index"
    ROWS = 3000
    TAIL_DOCS = 6
    TAIL_ROWS = 500  # generated rows concatenated into one big document
    SENTINELS = 1
    MIN_BUILDS = 3  # the cold build and two warm ones in every run

    def setup(self, run: Run) -> None:
        spark = run.spark
        with run.tracer.span("inputs.generate"):
            inputs.corpus_rows(spark, self.ROWS, run.seed).write.parquet(run.path("rows"))
            rows = spark.read.parquet(run.path("rows"))
            small = rows.drop("i")
            big = inputs.big_docs(rows, 0, self.TAIL_DOCS, self.TAIL_ROWS)
            small.unionByName(big).write.parquet(run.path("corpus"))
            self.corpus = spark.read.parquet(run.path("corpus"))
            self.docs = _collect_docs(self.corpus)
            self.vocab = inputs.Vocabulary(self.docs)
            rng = random.Random(f"build-sentinels-{run.seed}")
            self.sentinels = [self.vocab.ranked_query(rng, n)[0] for n in range(self.SENTINELS)]
        self.content_bytes = sum(len(c.encode()) for c in self.docs.values())
        sizes = sorted(len(c.encode()) for c in self.docs.values())
        run.report["inputs"] = {
            "docs": len(sizes),
            "content_mb": self.content_bytes / 2**20,
            "doc_bytes": {q: percentile(sizes, q) for q in (50, 90, 99, 100)},
            "docs_over_100kb": sum(s > 100_000 for s in sizes),
            "sha256": inputs.fingerprint(self.docs),
        }
        self.builds: list[dict] = []

    def prepare_check(self, run: Run) -> None:
        self.oracle = OracleIndex(self.docs, analyzer=ANALYZER)

    def loop(self, run: Run) -> None:
        deadline = time.perf_counter() + run.seconds
        k = 0
        while True:
            out = run.path(f"index{k}")
            op_id, m, dt = run.op("segments.build_index", lambda: S.build_index(
                run.spark, self.corpus, out, analyzer=ANALYZER, with_positions=True,
                heavy_threshold=_heavy_threshold(len(self.docs)),
            ))
            if m is not None:
                self.latencies.append(dt)
                self.builds.append({"op": op_id, "dir": out, "manifest": m, "wall_s": dt,
                                    "bytes": dir_bytes(out)})
            if k and os.path.isdir(run.path(f"index{k - 1}")):
                shutil.rmtree(run.path(f"index{k - 1}"))  # keep only the last index
            k += 1
            if k >= self.MIN_BUILDS and time.perf_counter() >= deadline:
                break

    def check(self, run: Run) -> None:
        for b in self.builds:
            st = b["manifest"].get("stats") or {}
            if st.get("n_docs") != len(self.docs):
                run.fail(b["op"], f"manifest n_docs {st.get('n_docs')} != {len(self.docs)}")
            heavy = [t for x in b["manifest"]["batches"].values() for t in x["heavy_terms"]]
            if not heavy:
                run.fail(b["op"], "no heavy term was salted")
        if not self.builds:
            return
        last = self.builds[-1]
        run.index_dirs.append(last["dir"])
        ix = self.read_index(run, last["dir"])
        for terms in self.sentinels:
            _, rows, _ = run.op("rank.score_query_daat", lambda: R.score_query_daat(
                run.spark, ix["segs"], ix["stats"], terms, ix["n_docs"], ix["avgdl"],
                R.Scorer("bm25"), k=K, analyzer=ANALYZER, docid_span=ix["span"],
            ).collect())
            if rows is None:
                run.fail(last["op"], f"sentinel {terms} raised")
                continue
            bad = _same_ranking(_ranked(rows), self.oracle.topk(terms, K, "bm25"))
            if bad:
                run.fail(last["op"], f"sentinel {terms}: {bad}")

    def rate_per_s(self) -> float:
        return len(self.docs) * len(self.builds) / sum(b["wall_s"] for b in self.builds)

    def index_bytes_per_content_byte(self) -> float:
        return percentile([b["bytes"] for b in self.builds], 50) / self.content_bytes


# --- query --------------------------------------------------------------------


class Query(Workload):
    """Interactive queries as ``jobs/query.py`` issues them: mostly ranked
    BM25 top-10 through DAAT, plus AND, phrase, query-string and substring."""

    name = "query"
    unit_op = "query"
    ROWS = 3000
    MAX_OPS = 400
    MIN_OPS = len(inputs.QUERY_BLOCK)  # a whole block: the same mix every run

    def setup(self, run: Run) -> None:
        spark = run.spark
        with run.tracer.span("inputs.generate"):
            inputs.corpus_rows(spark, self.ROWS, run.seed).drop("i").write.parquet(
                run.path("corpus"))
            self.corpus = spark.read.parquet(run.path("corpus")).select("docId", "content")
            self.docs = _collect_docs(self.corpus)
            vocab = inputs.Vocabulary(self.docs)
            self.ops = inputs.query_ops(self.docs, vocab, run.seed, self.MAX_OPS)
            # a ranked op from a stream the window never sees: it starts the
            # Python workers and compiles the scan and kernel plans
            warm = inputs.query_ops(self.docs, vocab, run.seed + 1_000_003, 1)
        heavy = _heavy_threshold(len(self.docs))
        with run.tracer.span("segments.build_index"):
            S.build_index(spark, self.corpus, run.path("index"), analyzer=ANALYZER,
                          with_positions=True, heavy_threshold=heavy)
        with run.tracer.span("segments.build_index"):
            S.build_index(spark, self.corpus, run.path("trigram"), analyzer="trigram",
                          with_positions=False, membership=True, heavy_threshold=heavy)
        self.ix = self.read_index(run, run.path("index"))
        self.tri = self.read_index(run, run.path("trigram"))
        run.index_dirs += [run.path("index"), run.path("trigram")]
        # lazy set-up (Python workers, codegen) finishes before the window
        with run.tracer.span("warmup"):
            for op in warm:
                self._execute(run, op)
        self.content_bytes = sum(len(c.encode()) for c in self.docs.values())
        self.index_bytes = dir_bytes(run.path("index")) + dir_bytes(run.path("trigram"))
        run.report["inputs"] = {"docs": len(self.docs), "sha256": inputs.fingerprint(self.docs)}
        self.done: list[tuple[int, dict, object]] = []

    def prepare_check(self, run: Run) -> None:
        self.oracle = OracleIndex(self.docs, analyzer=ANALYZER)

    def _execute(self, run: Run, op: dict):
        spark, ix = run.spark, self.ix
        kind = op["kind"]
        if kind == "daat":
            return run.op("rank.score_query_daat", lambda: R.score_query_daat(
                spark, ix["segs"], ix["stats"], op["terms"], ix["n_docs"], ix["avgdl"],
                R.Scorer("bm25"), k=K, analyzer=ANALYZER, docid_span=ix["span"],
            ).collect())
        if kind == "and":
            ts = analyze_query(op["terms"], ANALYZER)
            return run.op("query.search_and", lambda: Q.search_and(
                S.decode_postings(ix["segs"], ts), ts).limit(K).collect())
        if kind == "phrase":
            ts = analyze_query(op["terms"], ANALYZER)
            return run.op("query.search_phrase", lambda: Q.search_phrase(
                S.decode_postings(ix["segs"], ts, with_positions=True), ts,
            ).limit(K).collect())
        if kind == "query_string":
            return run.op("parser.search_query_string", lambda: P.search_query_string(
                spark, ix["segs"], ix["stats"], op["q"], analyzer=ANALYZER,
            ).limit(K).collect())
        return run.op("codesearch.search_substring", lambda: C.search_substring(
            self.tri["segs"], self.corpus, op["needle"], self.tri["stats"],
        ).limit(K).collect())

    def loop(self, run: Run) -> None:
        deadline = time.perf_counter() + run.seconds
        for n, op in enumerate(self.ops, 1):
            op_id, rows, dt = self._execute(run, op)
            if rows is not None:
                self.latencies.append(dt)
                self.done.append((op_id, op, rows))
            if n >= self.MIN_OPS and time.perf_counter() >= deadline:
                break

    def _expected(self, op: dict):
        o = self.oracle
        if op["kind"] == "daat":
            return o.topk(op["terms"], K, "bm25")
        if op["kind"] == "and":
            return o.search_and(analyze_query(op["terms"], ANALYZER))
        if op["kind"] == "phrase":
            return o.search_phrase(analyze_query(op["terms"], ANALYZER))
        if op["kind"] == "query_string":
            a, b, c = (set().union(*[o.search_keyword(t) for t in analyze_query([w], ANALYZER)])
                       for w in op["terms"])
            return a & (b | c)
        return {d for d, c in self.docs.items() if op["needle"] in c}

    def check(self, run: Run) -> None:
        shares: dict[str, int] = {}
        hits: dict[str, list[int]] = {}
        for op_id, op, rows in self.done:
            exp = self._expected(op)
            if op["kind"] == "daat":
                bad = _same_ranking(_ranked(rows), exp)
                for s in op["strata"]:
                    shares[s] = shares.get(s, 0) + 1
            else:
                bad = _limited_subset([int(r.docId) for r in rows], exp)
            hits.setdefault(op["kind"], []).append(len(rows))
            if bad:
                run.fail(op_id, f"{op['kind']} {op.get('terms') or op.get('needle')!r}: {bad}")
        total = sum(shares.values()) or 1
        run.report["ranked_term_strata"] = {k: v / total for k, v in sorted(shares.items())}
        run.report["ops_by_kind"] = {k: len(v) for k, v in sorted(hits.items())}
        run.report["hits_by_kind"] = hits

    def rate_per_s(self) -> float:
        return len(self.latencies) / sum(self.latencies)

    def index_bytes_per_content_byte(self) -> float:
        return self.index_bytes / self.content_bytes


# --- ingest_serve ---------------------------------------------------------------


class IngestServe(Workload):
    """Append, delete, refresh and cached serving side by side. After the
    first cycle, and every COMPACT_EVERY cycles after it, a compaction
    merges all batches into one, so the next refresh is a full re-prepare."""

    name = "ingest_serve"
    unit_op = "serving.score_queries_cached"
    BASE = 2000
    BATCH = 300
    MAX_CYCLES = 4
    MIN_CYCLES = 2  # so every run compacts once and re-prepares once
    SERVE_BATCHES = 2
    SERVE_QUERIES = 32
    FRESH_QUERIES = 8
    COMPACT_EVERY = 2

    def setup(self, run: Run) -> None:
        spark = run.spark
        with run.tracer.span("inputs.generate"):
            n = self.BASE + self.MAX_CYCLES * self.BATCH
            inputs.corpus_rows(spark, n, run.seed).write.parquet(run.path("rows"))
            self.rows = spark.read.parquet(run.path("rows"))
            pdf = self.rows.select("docId", "content", "i").toPandas()
            self.docs = dict(zip(pdf.docId.astype("int64").tolist(), pdf.content.tolist()))
            row_of = dict(zip(pdf.docId.astype("int64").tolist(), pdf.i.tolist()))
            self.base_ids = sorted(d for d, i in row_of.items() if i < self.BASE)
            self.batch_ids = [
                sorted(d for d, i in row_of.items()
                       if self.BASE + c * self.BATCH <= i < self.BASE + (c + 1) * self.BATCH)
                for c in range(self.MAX_CYCLES)
            ]
            base_vocab = inputs.Vocabulary({d: self.docs[d] for d in self.base_ids})
            self.cycles = inputs.ingest_ops(
                base_vocab,
                [inputs.Vocabulary({d: self.docs[d] for d in ids}) for ids in self.batch_ids],
                run.seed, self.SERVE_BATCHES, self.SERVE_QUERIES, self.FRESH_QUERIES,
            )
        self.index = run.path("index")
        self.cache_dir = run.path("cache")
        run.index_dirs.append(self.index)
        with run.tracer.span("segments.build_index"):
            S.build_index(spark, self.rows.where(F.col("i") < self.BASE), self.index,
                          analyzer=ANALYZER, with_positions=True,
                          heavy_threshold=_heavy_threshold(self.BASE))
        with run.tracer.span("serving.prepare_serving_cache"):
            self.cache = SV.prepare_serving_cache(spark, self.index, self.cache_dir)
        self.term_stats = S.load_term_stats_pdf(self.index)
        self.deleted = None
        with run.tracer.span("warmup"):
            self._serve(run, self.cycles[0]["serve"][1])
        self.nseg = int(S.read_manifest(self.index)["num_segments"])
        self.cycle_log: list[dict] = []
        run.report["inputs"] = {"docs": len(self.docs), "sha256": inputs.fingerprint(self.docs)}

    def _serve(self, run: Run, queries: list[dict]):
        qs = {q: spec["terms"] for q, spec in enumerate(queries)}
        return run.op("serving.score_queries_cached", lambda: SV.score_queries_cached(
            run.spark, self.cache, self.term_stats, qs, analyzer=ANALYZER,
            deleted=self.deleted,
        ).collect())

    def loop(self, run: Run) -> None:
        spark = run.spark
        deadline = time.perf_counter() + run.seconds
        for c, spec in enumerate(self.cycles):
            lo = self.BASE + c * self.BATCH
            batch = self.rows.where((F.col("i") >= lo) & (F.col("i") < lo + self.BATCH))
            log = {"cycle": c, "delete": spec["delete"], "serve": []}
            with run.tracer.span("ingest.publish") as pub:
                _, m, log["append_s"] = run.op("segments.build_one_batch", lambda: S.build_one_batch(
                    spark, batch, self.index, f"ingest{c}", analyzer=ANALYZER,
                    num_segments=self.nseg, heavy_threshold=_heavy_threshold(self.BATCH),
                    with_positions=True,
                ))
                _, _, log["finalize_s"] = run.op(
                    "segments.finalize_index", lambda: S.finalize_index(spark, self.index))
                log["delete_op"], _, log["delete_s"] = run.op(
                    "delete.delete_by_keyword", lambda: D.delete_by_keyword(
                        spark, self.index, spec["delete"], analyzer=ANALYZER))
                _, cache, log["refresh_s"] = run.op(
                    "serving.refresh_serving_cache",
                    lambda: SV.refresh_serving_cache(spark, self.index, self.cache_dir))
                _, deleted, log["deleted_array_s"] = run.op(
                    "delete.deleted_array", lambda: D.deleted_array(spark, self.index))
                _, stats, _ = run.op("segments.load_term_stats_pdf",
                                     lambda: S.load_term_stats_pdf(self.index))
            log["appended"] = m is not None
            log["freshness_s"] = pub.wall_s
            if cache is not None:
                self.cache, log["refresh_mode"] = cache, cache.get("refresh_mode")
            self.deleted = deleted
            if stats is not None:
                self.term_stats = stats
            for queries in spec["serve"]:
                op_id, rows, dt = self._serve(run, queries)
                if rows is not None:
                    self.latencies.append(dt)
                    log["serve"].append((op_id, queries, rows))
            if c % self.COMPACT_EVERY == 0:
                _, m, log["compact_s"] = run.op("segments.auto_compact", lambda: S.auto_compact(
                    spark, self.index, merge_threshold=2))
                if m is not None:
                    merged = [k for k, b in m["batches"].items() if b.get("merged_from")]
                    log["compact_mb"] = sum(
                        dir_bytes(S.batch_path(self.index, k)) for k in merged) / 2**20
            self.cycle_log.append(log)
            if c + 1 >= self.MIN_CYCLES and time.perf_counter() >= deadline:
                break
        m = S.read_manifest(self.index)
        self.index_bytes = dir_bytes(os.path.join(self.index, "segments")) + dir_bytes(
            os.path.join(self.index, "term_stats"))
        run.report["state"] = {
            "tombstones_live": sum(t["ndocs"] for t in m.get("tombstones") or []),
            "batches_live": sum(1 for b in m["batches"].values() if b.get("committed")),
            "cache_bytes_per_index_byte": dir_bytes(self.cache_dir) / self.index_bytes,
        }

    def check(self, run: Run) -> None:
        indexed = list(self.base_ids)
        deleted: set[int] = set()
        cycles = []
        for log in self.cycle_log:
            c = log["cycle"]
            if not log["appended"]:
                continue
            indexed += self.batch_ids[c]
            oracle = OracleIndex({d: self.docs[d] for d in indexed}, analyzer=ANALYZER)
            kw = analyze_query([log["delete"]], ANALYZER)
            gone = set().union(*[oracle.search_keyword(t) for t in kw])
            if not gone:
                run.fail(log["delete_op"], f"delete keyword {log['delete']!r} matches no doc")
            deleted |= gone
            fresh_docs = set(self.batch_ids[c])
            for op_id, queries, rows in log["serve"]:
                got: dict[int, list] = {}
                for r in rows:
                    got.setdefault(int(r.qid), []).append((int(r.docId), float(r.score)))
                for q, spec in enumerate(queries):
                    ranked = sorted(got.get(q, []), key=lambda ds: (-ds[1], -ds[0]))
                    exp = [(d, s) for d, s in oracle.topk(spec["terms"], None, "bm25")
                           if d not in deleted][:K]
                    bad = _same_ranking(ranked, exp)
                    if not bad and spec["strata"] == ["fresh"] and not (
                            {d for d, _ in ranked} & fresh_docs):
                        bad = "appended docs not served"
                    if not bad and {d for d, _ in ranked} & deleted:
                        bad = "tombstoned doc served"
                    if bad:
                        run.fail(op_id, f"cycle {c} query {spec['terms']}: {bad}")
            cycles.append({k: v for k, v in log.items() if k != "serve"})
        run.report["cycles"] = cycles

    def appended_docs(self) -> int:
        return sum(len(self.batch_ids[log["cycle"]]) for log in self.cycle_log if log["appended"])

    def rate_per_s(self) -> float:
        t = sum(log["append_s"] + log["finalize_s"] for log in self.cycle_log)
        return self.appended_docs() / t

    def index_bytes_per_content_byte(self) -> float:
        ids = list(self.base_ids)
        for log in self.cycle_log:
            if log["appended"]:
                ids += self.batch_ids[log["cycle"]]
        return self.index_bytes / sum(len(self.docs[d].encode()) for d in ids)


WORKLOADS = {w.name: w for w in (Build, Query, IngestServe)}
