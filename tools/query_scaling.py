"""Query-path scaling evidence: the SAME batched BM25 workload at two
parallelism levels (local[N] and local[4N]) over the SAME pre-built index.

Complements tools/scaling_bench.py (index-build throughput, the north rule's
headline) with the serving side, as one of two series:

- cold (default): df-stratified queries scored as ONE
  ``score_queries_daat_batch`` job — the per-workload scan + split +
  shuffle is included;
- ``--cached``: steady-state serving over a PREPARED bucketized serving
  cache (operators/serving.py) — the deployment shape where index shards
  are resident (prepared once per index generation) and each workload is
  parallelize(bucket ids) -> mmap shard -> kernel -> sharded merge. The
  cache prepare is index-bound, one-time, and untimed for the same reason
  the index build itself is.

Each measurement is a fresh JVM; the index is built once (untimed,
deterministic; /tmp/query_scale_idx is reused when it already holds
n_docs) and shared read-only. Efficiency = (T_N * N) / (T_4N * 4N).

Usage: python tools/query_scaling.py [--cached] [n_docs] [N] [trials] [n_queries]
Defaults: 120000 2 3 64 (cold), 480000 2 4 16384 (--cached). Writes the
series' marked BENCH.md section.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IDX = "/tmp/query_scale_idx"
CACHE = "/tmp/query_scale_cache"

# argv: idx n_docs [cache_dir] — builds (or reuses) the index, prepares the
# serving cache when a cache dir is given, prints the corpus stats
BUILD_SRC = r"""
import json, os, shutil, sys
sys.path.insert(0, {repo!r})
from search_engine_spark.session import get_spark
from search_engine_spark.sources.corpus import synthetic_corpus
from search_engine_spark.sources.segments import build_index, read_manifest
from search_engine_spark.operators.serving import prepare_serving_cache

idx, n_docs = sys.argv[1], int(sys.argv[2])
cache = sys.argv[3] if len(sys.argv) > 3 else None
spark = get_spark(master="local[8]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
m = read_manifest(idx) if os.path.exists(os.path.join(idx, "manifest.json")) else {{}}
if (m.get("stats") or {{}}).get("n_docs") != n_docs:
    shutil.rmtree(idx, ignore_errors=True)
    corpus = synthetic_corpus(spark, n_docs=n_docs, vocab_size=20000, seed=42,
                              partitions=128)
    m = build_index(spark, corpus, idx, analyzer="porter", n_batches=1,
                    num_segments=32, heavy_threshold=n_docs // 20, n_salts=8,
                    heavy_sample_mod=64)
if cache:
    # N_BUCKETS fixed across levels (same reasoning as the cold series)
    prepare_serving_cache(spark, idx, cache, n_buckets=32)
print(json.dumps({{"n_docs": m["stats"]["n_docs"], "avgdl": m["stats"]["avgdl"]}}))
spark.stop()
""".format(repo=REPO)

# argv: idx cores n_q n_docs avgdl [cache_dir]
QUERY_SRC = r"""
import json, random, sys, time
sys.path.insert(0, {repo!r})
from search_engine_spark.session import get_spark
from search_engine_spark.operators.rank import Scorer, score_queries_daat_batch
from search_engine_spark.operators.serving import load_serving_cache, score_queries_cached
from search_engine_spark.sources.segments import docid_span, load_segments, load_term_stats_pdf

idx, cores, n_q = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
nd, avg = float(sys.argv[4]), float(sys.argv[5])
cache_dir = sys.argv[6] if len(sys.argv) > 6 else None
spark = get_spark(master=f"local[{{cores}}]", shuffle_partitions=4 * cores)
spark.sparkContext.setLogLevel("ERROR")
# serving-process setup, done once per process: vocabulary stats local to
# the driver + global docId span from the manifest — per-workload scoring
# then launches NO auxiliary Spark jobs (idf lookup + bucket edges are local)
stats = load_term_stats_pdf(idx)

# df-stratified deterministic workload (rank_identity's construction)
terms = sorted(zip(stats["term"], (int(d) for d in stats["df"])))
terms.sort(key=lambda td: (td[1], td[0]))
third = max(len(terms) // 3, 1)
pools = [terms[:third], terms[third:2 * third], terms[2 * third:]]
rng = random.Random(221)
queries = {{}}
for i in range(n_q):
    queries[i] = [rng.choice(pools[(i + j) % 3])[0] for j in range(1 + i % 3)]

if cache_dir:
    cache = load_serving_cache(cache_dir)

    def score(qs):
        return score_queries_cached(spark, cache, stats, qs, k=10)
else:
    segs = load_segments(spark, idx)
    span = docid_span(idx)
    # n_buckets is FIXED across levels so both do identical total work and
    # the 4N level wins only by scheduling buckets across more cores —
    # varying it with cores would change the per-(bucket, query) kernel-call
    # overhead and confound the comparison. 32 = 4x the high level's cores:
    # enough slack for stragglers while keeping block duplication and
    # per-bucket overhead low (64 buckets measured ~35% slower at BOTH
    # levels).
    N_BUCKETS = 32

    def score(qs):
        return score_queries_daat_batch(spark, segs, stats, qs, int(nd), avg,
                                        Scorer(), 10, n_buckets=N_BUCKETS,
                                        docid_span=span)

# warm python workers + decode kernels on a 4-query slice (steady-state
# serving throughput is the metric), then time the full workload
score({{i: queries[i] for i in range(4)}}).collect()
t0 = time.time()
rows = score(queries).collect()
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 2), "rows": len(rows),
                  "queries_per_sec": round(n_q / dt, 2)}}))
spark.stop()
""".format(repo=REPO)


def run_src(src: str, *args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", src, *args],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


COLD_INTRO = """## Query-path scaling (batched BM25 workload, N -> 4N cores)

{n_q} df-stratified 1-3 term queries as ONE `score_queries_daat_batch`
job over a {n_docs:,}-doc porter index (built once, shared read-only;
fresh JVM per measurement, {trials} interleaved trials per level, best
shown; all trials: N=[{rows_lo}]s, 4N=[{rows_hi}]s)."""

CACHED_INTRO = """## Steady-state serving scaling (prepared bucketized cache, N -> 4N cores)

Same {n_q} df-stratified queries as the cold series, scored via
`score_queries_cached` over a serving cache prepared ONCE per index
generation ({n_docs:,}-doc porter index; fresh JVM per measurement,
{trials} interleaved trials per level, best shown; all trials:
N=[{rows_lo}]s, 4N=[{rows_hi}]s). This is the steady-state deployment
shape: resident index shards, per-workload cost = kernel + top-k merge
only — the phases the controlled experiments showed scale (kernel-only
0.988)."""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cached", action="store_true",
                    help="score through a prepared serving cache")
    ap.add_argument("n_docs", type=int, nargs="?")
    ap.add_argument("n", type=int, nargs="?", default=2)
    ap.add_argument("trials", type=int, nargs="?")
    ap.add_argument("n_q", type=int, nargs="?")
    a = ap.parse_args()
    cached = a.cached
    n_docs = a.n_docs or (480000 if cached else 120000)
    n = a.n
    trials = a.trials or (4 if cached else 3)
    n_q = a.n_q or (16384 if cached else 64)
    tag = "query_scaling_cached" if cached else "query_scaling"
    mark_a, mark_b = f"<!-- {tag}:auto -->", f"<!-- /{tag}:auto -->"
    cache_args = [CACHE] if cached else []

    meta = run_src(BUILD_SRC, IDX, str(n_docs), *cache_args)
    nd, avg = str(meta["n_docs"]), str(meta["avgdl"])

    los, his = [], []
    for _ in range(trials):  # interleaved: both levels see the same host noise
        los.append(run_src(QUERY_SRC, IDX, str(n), str(n_q), nd, avg, *cache_args))
        his.append(run_src(QUERY_SRC, IDX, str(4 * n), str(n_q), nd, avg, *cache_args))
    lo = min(los, key=lambda r: r["sec"])
    hi = min(his, key=lambda r: r["sec"])
    eff = round((lo["sec"] * n) / (hi["sec"] * 4 * n), 3)
    report = {
        "cached": cached, "n_docs": n_docs, "n_queries": n_q, "N": n,
        "trials": trials, "lo": lo, "hi": hi, "efficiency": eff,
        "all_lo": [r["sec"] for r in los], "all_hi": [r["sec"] for r in his],
    }
    print(json.dumps(report))

    intro = (CACHED_INTRO if cached else COLD_INTRO).format(
        n_q=n_q, n_docs=n_docs, trials=trials,
        rows_lo=", ".join(f"{s:.2f}" for s in report["all_lo"]),
        rows_hi=", ".join(f"{s:.2f}" for s in report["all_hi"]),
    )
    flag = "--cached " if cached else ""
    block = f"""{mark_a}
{intro}

| cores | sec | queries/s |
|---|---|---|
| {n} | {lo['sec']} | {lo['queries_per_sec']} |
| {4 * n} | {hi['sec']} | {hi['queries_per_sec']} |

Scaling efficiency (T_N·N)/(T_4N·4N) = **{eff}**.

Reproduce: `python tools/query_scaling.py {flag}{n_docs} {n} {trials} {n_q}`
{mark_b}"""
    p = os.path.join(REPO, "BENCH.md")
    text = open(p).read() if os.path.exists(p) else ""
    anchor = "<!-- /query_scaling:auto -->"
    if mark_a in text and mark_b in text:
        text = text.split(mark_a)[0] + block + text.split(mark_b, 1)[1]
    elif cached and anchor in text:  # the cached series follows the cold one
        head, tail = text.split(anchor, 1)
        text = head + anchor + "\n\n" + block + tail
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(p, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
