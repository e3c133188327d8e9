"""End-to-end tour of the engine on a synthetic corpus.

Run::

    python examples/quickstart.py          # ~2 min on local[8]

Builds a positional fielded index over 400 synthetic source-code documents,
then exercises every major query family (boolean, phrase/sloppy, fuzzy,
regex, nested trees, BM25 + fielded/filtered/hybrid variants) and a slice
of the training-data pipeline (dedup, quality, packing). Each step asserts
a sanity property, so this doubles as a smoke script.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from search_engine_spark.operators import parser as P  # noqa: E402
from search_engine_spark.operators import rank as R  # noqa: E402
from search_engine_spark.operators import query as Q  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.sources import segments as S  # noqa: E402
from search_engine_spark.sources.corpus import synthetic_corpus  # noqa: E402


def main() -> int:
    spark = get_spark(app="quickstart", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    idx = os.path.join(tempfile.gettempdir(), "se_quickstart_idx")
    shutil.rmtree(idx, ignore_errors=True)

    corpus = synthetic_corpus(spark, n_docs=400, vocab_size=900, seed=11)
    print(f"corpus: {corpus.count()} docs, columns {corpus.columns}")

    # 1. build a positional, fielded, resumable index (2 batches)
    m = S.build_index(
        spark, corpus, idx, analyzer="naive", n_batches=2, num_segments=8,
        heavy_threshold=200, n_salts=4, fields={"lang": "naive"},
    )
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl_by_field"][""]
    print(f"index: {nd} docs, {m['stats']['npostings']} postings, "
          f"avgdl(content)={avg:.1f}")
    segs, stats = S.load_segments(spark, idx), S.load_term_stats(spark, idx)

    # 2. boolean family
    dec = S.decode_postings(segs, ["apple", "rotten", "barrel"])
    n_and = Q.search_and(dec, ["apple", "rotten"]).count()
    n_or = Q.search_or(dec, ["apple", "rotten"]).count()
    assert n_and <= n_or
    print(f"AND(apple,rotten)={n_and}  OR={n_or}")

    n_tree = P.search_query_string(
        spark, segs, stats, "apple AND (rotten OR barrel) AND NOT zebra",
        analyzer="naive",
    ).count()
    assert n_tree >= n_and  # OR-widened positive side, absent negative
    print(f"bool tree apple AND (rotten OR barrel) AND NOT zebra -> {n_tree} docs")

    # 3. positional family
    pdec = S.decode_postings(segs, ["rotten", "apple"], with_positions=True)
    exact = {r.docId for r in Q.search_phrase(pdec, ["rotten", "apple"]).collect()}
    slop2 = {
        r.docId
        for r in Q.search_sloppy_phrase(pdec, ["rotten", "apple"], slop=2).collect()
    }
    assert exact <= slop2
    print(f"phrase={len(exact)}  sloppy(slop=2)={len(slop2)}")

    # 4. dictionary expansions
    sug = Q.suggest_terms(stats, "appel", k=3).collect()
    rx = [r.term for r in Q.regex_terms(stats, "^app.*").collect()]
    print(f"did-you-mean(appel) -> {[r.term for r in sug]}; regex ^app.* -> {rx[:5]}")

    # 5. ranked serving: plain, fielded weight, boolean filter, hybrid RRF
    lang = corpus.groupBy("lang").count().orderBy(F.desc("count")).first()["lang"]
    top = R.score_query_daat(
        spark, segs, stats, ["rotten", "apple"], nd, avg, R.Scorer("bm25"), k=5,
        analyzer="naive",
    ).collect()
    assert top and all(
        top[i].score >= top[i + 1].score for i in range(len(top) - 1)
    )
    print("bm25 top-5:", [(r.docId, round(r.score, 3)) for r in top])

    fielded = R.score_query_fielded(
        spark, segs, stats,
        {None: (["rotten", "apple"], 1.0), "lang": ([lang], 0.5)},
        nd, m["stats"]["avgdl_by_field"], k=5, analyzer="naive",
    ).collect()
    print("fielded top-5:", [(r.docId, round(r.score, 3)) for r in fielded])

    ftree = ("term", Q.field_terms("lang", [lang])[0])
    filtered = R.score_query_filtered(
        spark, segs, stats, ["rotten", "apple"], ftree, nd, avg, k=5,
        analyzer="naive",
    ).collect()
    assert filtered  # the majority language always has ranked hits
    print(f"filtered top-5 (lang={lang}):", [r.docId for r in filtered])

    lex = R.score_query_daat(
        spark, segs, stats, ["rotten", "apple"], nd, avg, k=20,
        analyzer="naive", ties="asc",
    )
    fused = R.rrf_fuse([lex, lex], k=5).collect()  # self-fusion demo
    print("rrf top-5:", [(r.docId, round(r.rrf, 4)) for r in fused])

    # 5b. steady-state serving: prepare resident shards once, serve batches
    from search_engine_spark.operators.serving import (
        prepare_serving_cache,
        score_queries_cached,
    )
    from search_engine_spark.sources.segments import load_term_stats_pdf

    cache = prepare_serving_cache(spark, idx, idx + "_cache", n_buckets=4)
    served = score_queries_cached(
        spark, cache, load_term_stats_pdf(idx),
        {0: ["rotten", "apple"], 1: ["banana"]}, k=3, analyzer="naive",
    ).collect()
    print("cached serving:", sorted((r.qid, r.docId) for r in served)[:6])

    # 5c. the index grows -> refresh bucketizes ONLY the new batch (the
    # streaming-ingest cadence; a full re-prepare would be O(index))
    from search_engine_spark.operators.serving import refresh_serving_cache
    from search_engine_spark.sources.segments import (
        build_one_batch,
        finalize_index,
    )

    grown = corpus.select(
        (F.col("docId") + F.lit(10_000)).alias("docId"),
        F.concat(F.lit("fresh rotten "), F.col("content")).alias("content"),
    )
    build_one_batch(spark, grown.limit(50), idx, key="grow",
                    analyzer="naive", num_segments=4)
    finalize_index(spark, idx)
    cache = refresh_serving_cache(spark, idx, idx + "_cache")
    served2 = score_queries_cached(
        spark, cache, load_term_stats_pdf(idx), {0: ["fresh"]}, k=3,
        analyzer="naive",
    ).collect()
    # "fresh" exists ONLY in the grown batch, so any hit proves the delta
    # shards serve (docIds are hashes — ranges mean nothing here)
    assert served2
    print("after refresh, 'fresh' hits:", [r.docId for r in served2])

    # 5d. explain one ranked hit: per-term BM25 factor breakdown whose sum
    # is the document's score (Lucene IndexSearcher.explain analog). On a
    # fielded index content scoring uses the CONTENT field's avgdl (same
    # rule as every scoring call above), and the decode pushes the query
    # terms to the scan.
    m2 = S.read_manifest(idx)["stats"]
    content_avgdl = m2.get("avgdl_by_field", {}).get("", m2["avgdl"])
    ex = R.explain_score(
        spark, S.decode_postings(S.load_segments(spark, idx),
                                 ["rotten", "apple"]),
        S.load_term_stats(spark, idx), ["rotten", "apple"],
        m2["n_docs"], content_avgdl, analyzer="naive",
        doc_ids=[served[0].docId],
    ).collect()
    print("explain:", [(r.term, r.tf, round(r.idf, 3),
                        round(r.contribution, 3)) for r in ex])

    # 6. training-data pipeline slice
    from search_engine_spark.operators.dedup import exact_dedup
    from search_engine_spark.operators.sampling import sequence_pack
    from search_engine_spark.operators.textstats import quality_score

    docs = corpus.select("docId", "content")
    nd_dedup = exact_dedup(docs).count()
    q = quality_score(docs).agg(F.round(F.avg("quality"), 3)).collect()[0][0]
    packed = sequence_pack(
        docs.select("docId", F.size(F.split("content", r"\s+")).cast("long").alias("n_tokens")),
        capacity=512, id_col="docId",
    )
    n_bins = packed.agg(F.countDistinct("bin")).collect()[0][0]
    print(f"dedup keepers={nd_dedup}  mean quality={q}  512-token bins={n_bins}")

    # 7. code search: trigram substring index over raw content + grep output
    from search_engine_spark.operators.codesearch import (
        grep_lines,
        search_substring,
    )

    tidx = tempfile.mkdtemp(prefix="qs_tri_")
    shutil.rmtree(tidx, ignore_errors=True)
    S.build_index(spark, corpus, tidx, analyzer="trigram",
                  with_positions=False, n_batches=1, num_segments=4)
    tsegs = S.load_segments(spark, tidx)
    tstats = S.load_term_stats(spark, tidx)
    needle = "apple"  # any byte string works: 'memcpy(', '"key": ', ...
    hits = search_substring(tsegs, corpus, needle, tstats)
    g = grep_lines(corpus, hits, needle, delimiter=" fast ").limit(3).collect()
    print("grep:", [(r.docId, r.line_no, r.col_no) for r in g])
    shutil.rmtree(tidx, ignore_errors=True)

    shutil.rmtree(idx, ignore_errors=True)
    print("QUICKSTART OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
