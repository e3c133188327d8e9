"""Extended query operators: prefix, AND-NOT, proximity, snippets.

Each is checked against a brute-force single-node Python oracle over the
same naive tokenization (the reference stops at AND/OR/phrase — IIM:747-1101
— these are the natural extensions of the same posting-list algebra).
"""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import query as Q
from search_engine_spark.operators.build import build_postings
from search_engine_spark.operators.textstats import keyword_snippets
from search_engine_spark.sources import segments as S
from tests.conftest import corpus_from_texts

DOCS = [
    "spark scan table scan filter join",
    "table a b c d e scan",
    "scan table",
    "join filter spark spark",
    "table x scan y table z z scan",
    "prefix press pressed spring",
    "zebra",
]


def _toks(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


@pytest.fixture(scope="module")
def ext_index(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("qext") / "idx")
    corpus = corpus_from_texts(spark, DOCS)
    m = S.build_index(spark, corpus, p, analyzer="naive", n_batches=2)
    return p, m, corpus


def test_search_prefix(spark, ext_index):
    p, _, _ = ext_index
    segs = S.load_segments(spark, p)
    got = sorted(r.docId for r in Q.search_prefix(segs, "s", "naive").collect())
    want = sorted(
        i for i, d in enumerate(DOCS) if any(t.startswith("s") for t in _toks(d))
    )
    assert got == want
    # multi-term prefix: 'pre' matches prefix/press/pressed but not spring
    got2 = sorted(r.docId for r in Q.search_prefix(segs, "pre", "naive").collect())
    assert got2 == [5]
    # no match + empty prefix
    assert Q.search_prefix(segs, "qq", "naive").collect() == []
    assert Q.search_prefix(segs, "", "naive").collect() == []


def test_search_and_not(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    got = sorted(
        r.docId for r in Q.search_and_not(postings, ["table", "scan"], ["filter"]).collect()
    )
    want = sorted(
        i
        for i, d in enumerate(DOCS)
        if {"table", "scan"} <= set(_toks(d)) and "filter" not in _toks(d)
    )
    assert got == want
    # negating a term not present anywhere is the plain AND
    base = sorted(r.docId for r in Q.search_and(postings, ["table", "scan"]).collect())
    got2 = sorted(
        r.docId for r in Q.search_and_not(postings, ["table", "scan"], ["nosuch"]).collect()
    )
    assert got2 == base
    # neg term overlapping the positive set is ignored (can't both require and forbid)
    got3 = sorted(
        r.docId for r in Q.search_and_not(postings, ["table", "scan"], ["table"]).collect()
    )
    assert got3 == base


def _prox_oracle(a: str, b: str, w: int) -> list[int]:
    out = []
    for i, d in enumerate(DOCS):
        toks = _toks(d)
        pa = [p for p, t in enumerate(toks) if t == a]
        pb = [p for p, t in enumerate(toks) if t == b]
        if any(1 <= q - p <= w for p in pa for q in pb):
            out.append(i)
    return out


def test_search_proximity(spark, ext_index):
    p, _, _ = ext_index
    dec = S.decode_postings(
        S.load_segments(spark, p), ["table", "scan"], with_positions=True
    )
    for w in (1, 2, 5):
        got = sorted(
            r.docId for r in Q.search_proximity(dec, "table", "scan", w).collect()
        )
        assert got == _prox_oracle("table", "scan", w), f"window={w}"
    # window=1 == 2-term phrase
    phrase = sorted(r.docId for r in Q.search_phrase(dec, ["table", "scan"]).collect())
    got1 = sorted(r.docId for r in Q.search_proximity(dec, "table", "scan", 1).collect())
    assert got1 == phrase
    with pytest.raises(ValueError):
        Q.search_proximity(dec, "table", "scan", 0)


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_candidates_and_search(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    stats = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    # dictionary + df oracle over the raw texts
    vocab: dict[str, int] = {}
    for d in DOCS:
        for t in set(_toks(d)):
            vocab[t] = vocab.get(t, 0) + 1

    # 'scam' ~1~ scan; 'pres' ~1~ press (prefix is dist 2)
    for q, dist in (("scam", 1), ("pres", 1), ("tble", 1)):
        got = [(r.term, r.df, r.dist) for r in Q.fuzzy_candidates(stats, q, dist).collect()]
        want = sorted(
            ((t, df, _levenshtein(t, q)) for t, df in vocab.items()
             if _levenshtein(t, q) <= dist),
            key=lambda x: (x[2], -x[1], x[0]),
        )
        assert got == want, q

        docs = sorted(r.docId for r in Q.search_fuzzy(postings, stats, q, dist).collect())
        cand = {t for t, _, _ in want}
        assert docs == sorted(
            i for i, d in enumerate(DOCS) if cand & set(_toks(d))
        ), q

    # max_expansions caps in rank order
    capped = Q.fuzzy_candidates(stats, "scam", 2, max_expansions=1).collect()
    assert len(capped) == 1 and capped[0].dist == 1
    # empty term -> empty expansion, empty search
    assert Q.fuzzy_candidates(stats, "", 1).collect() == []
    assert Q.search_fuzzy(postings, stats, "", 1).collect() == []


def test_suggest_terms(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    stats = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    got = [(r.term, r.dist) for r in Q.suggest_terms(stats, "pres", k=3, max_dist=2).collect()]
    # the whole dictionary within dist 2 of 'pres' is exactly {press}
    assert got == [("press", 1)]
    # wider radius pulls in the dist-3 family, rank order still holds
    got3 = [(r.term, r.dist) for r in Q.fuzzy_candidates(stats, "pres", 3, 5).collect()]
    assert got3[0] == ("press", 1)
    assert [d for _, d in got3] == sorted(d for _, d in got3)
    # an exact dictionary term ranks itself first at dist 0
    got0 = Q.suggest_terms(stats, "spark", k=2, max_dist=2).collect()
    assert (got0[0].term, got0[0].dist) == ("spark", 0)


def test_facet_counts(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    # metadata table: docId, lang, source
    meta = [(i, ["en", "de"][i % 2], f"s{i % 3}") for i in range(len(DOCS))]
    docs = spark.createDataFrame(meta, "docId long, lang string, source string")
    hits = Q.search_keyword(postings, "scan")
    got = {
        (r.facet, r.value): r.n
        for r in Q.facet_counts(hits, docs, ["lang", "source"]).collect()
    }
    matched = [i for i, d in enumerate(DOCS) if "scan" in _toks(d)]
    want: dict[tuple[str, str], int] = {}
    for i in matched:
        for facet, value in (("lang", meta[i][1]), ("source", meta[i][2])):
            want[(facet, value)] = want.get((facet, value), 0) + 1
    assert got == want
    # no fields -> empty, schema intact
    empty = Q.facet_counts(hits, docs, [])
    assert empty.columns == ["facet", "value", "n"] and empty.collect() == []


def test_keyword_snippets(spark):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(DOCS)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.first_pos, r.snippet)
        for r in keyword_snippets(
            df, "scan", text="text", id_col="doc_id", before=2, after=2
        ).collect()
    }
    want = {}
    for i, d in enumerate(DOCS):
        toks = _toks(d)
        if "scan" in toks:
            p = toks.index("scan")  # 0-based
            lo = max(p - 2, 0)
            want[i] = (p + 1, " ".join(toks[lo : p + 3]))
    assert rows == want


def test_related_terms(spark, ext_index):
    import math

    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    stats = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = len(DOCS)

    # python PMI oracle
    docs_tok = [set(_toks(d)) for d in DOCS]
    dfmap: dict[str, int] = {}
    for s in docs_tok:
        for t in s:
            dfmap[t] = dfmap.get(t, 0) + 1
    for seed, min_codf in (("scan", 2), ("table", 1)):
        seed_docs = [i for i, s in enumerate(docs_tok) if seed in s]
        co: dict[str, int] = {}
        for i in seed_docs:
            for t in docs_tok[i]:
                if t != seed:
                    co[t] = co.get(t, 0) + 1
        want = sorted(
            (
                (t, c, math.log(c * n / (dfmap[t] * len(seed_docs))))
                for t, c in co.items()
                if c >= min_codf
            ),
            key=lambda x: (-x[2], x[0]),
        )[:5]
        got = Q.related_terms(postings, stats, seed, n, k=5, min_codf=min_codf).collect()
        assert [(r.term, r.codf) for r in got] == [(t, c) for t, c, _ in want], seed
        assert all(abs(r.pmi - p) < 1e-9 for r, (_, _, p) in zip(got, want)), seed

    # unknown seed term -> empty
    assert Q.related_terms(postings, stats, "nosuch", n).collect() == []


def test_search_fuzzy_and(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    stats = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    def expand(q, dist):
        vocab = {t for d in DOCS for t in _toks(d)}
        return {t for t in vocab if _levenshtein(t, q) <= dist}

    # 'scam'->scan..., 'tble'->table: doc must hit one expansion per group
    for qterms in (["scam", "tble"], ["scam"], ["scam", "joib", "filteq"]):
        groups = [expand(q, 1) for q in qterms]
        got = sorted(
            r.docId for r in Q.search_fuzzy_and(postings, stats, qterms, 1).collect()
        )
        want = sorted(
            i for i, d in enumerate(DOCS)
            if all(g & set(_toks(d)) for g in groups)
        )
        assert got == want, qterms

    # overlapping expansions: both groups satisfiable by distinct terms only
    # ('scan' and 'scam' expansions overlap on scan itself)
    got = sorted(
        r.docId for r in Q.search_fuzzy_and(postings, stats, ["scan", "scam"], 1).collect()
    )
    g1, g2 = expand("scan", 1), expand("scam", 1)
    want = sorted(
        i for i, d in enumerate(DOCS)
        if g1 & set(_toks(d)) and g2 & set(_toks(d))
    )
    assert got == want

    # a term with zero expansions empties the whole conjunction
    assert Q.search_fuzzy_and(postings, stats, ["scam", "qqqq"], 1).collect() == []


def test_regex_search(spark, tmp_path):
    """Regex dictionary expansion: anchored pattern selects exactly the
    matching dictionary terms; doc set equals the OR of those terms."""
    from search_engine_spark.operators.query import (
        regex_terms,
        search_or,
        search_regex,
    )
    from search_engine_spark.sources import segments as S
    from tests.conftest import corpus_from_texts

    texts = [
        "spark sorts fast",
        "spork handles soup",
        "sport and sort",
        "unrelated words only",
    ]
    corpus = corpus_from_texts(spark, texts)
    idx = str(tmp_path / "regex_idx")
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1, num_segments=2)
    stats = S.load_term_stats(spark, idx)
    terms = {r.term for r in regex_terms(stats, "^sp.rk$").collect()}
    assert terms == {"spark", "spork"}
    dec = S.decode_postings(S.load_segments(spark, idx), sorted(terms))
    got = sorted(r.docId for r in search_regex(dec, stats, "^sp.rk$").collect())
    assert got == [0, 1]
    assert sorted(
        r.docId for r in search_or(dec, sorted(terms)).collect()
    ) == got
    # empty pattern and no-match pattern both yield empty
    assert regex_terms(stats, "").count() == 0
    assert search_regex(dec, stats, "^zzz$").count() == 0


def test_bool_tree_query(spark, tmp_path):
    """Nested boolean tree through the query-string parser: precedence and
    evaluator semantics vs a per-doc python oracle; purely negative trees
    rejected."""
    import pytest as _pytest

    from search_engine_spark.operators.build import (
        build_postings,
        encode_segments,
        term_stats_from_segments,
    )
    from search_engine_spark.operators.parser import (
        _collect_leaves,
        _eval_py,
        parse_query,
        search_parsed,
    )
    from tests.conftest import corpus_from_texts

    texts = [
        "spark join fast",          # 0
        "spark merge slow",         # 1
        "spark scan join",          # 2: excluded by NOT scan
        "join merge only",          # 3: no spark
        "spark alone here",         # 4: no join/merge
    ]
    corpus = corpus_from_texts(spark, texts)
    segs = encode_segments(build_postings(corpus, "naive"), 1)
    ts = term_stats_from_segments(segs)
    run = lambda t: sorted(
        r.docId for r in search_parsed(spark, segs, ts, t).collect())
    tree = parse_query("spark AND (join OR merge) AND NOT scan", "naive")
    exp = [
        i for i, t in enumerate(texts)
        if _eval_py(tree, {("term", w) for w in t.split()})
    ]
    assert run(tree) == exp == [0, 1]
    # OR at top level; AND binds tighter than OR
    assert run(parse_query("scan OR merge AND slow", "naive")) == [1, 2]
    # purely negative trees are rejected up front
    with _pytest.raises(ValueError):
        run(parse_query("NOT spark", "naive"))
    with _pytest.raises(ValueError):
        run(parse_query("scan OR NOT spark", "naive"))
    # parser errors
    for bad in ("spark AND", "(spark", "spark join", "AND spark"):
        with _pytest.raises(ValueError):
            parse_query(bad, "naive")
    leaves: list = []
    _collect_leaves(tree, leaves)
    assert sorted(t for _, t in leaves) == ["join", "merge", "scan", "spark"]


def test_sloppy_phrase(spark):
    """Ordered sloppy phrase laws on hand-built docs: slop=0 == consecutive,
    widening slop only adds docs, order matters."""
    from search_engine_spark.operators.build import build_postings
    from search_engine_spark.operators.query import search_sloppy_phrase
    from search_engine_spark.sources.segments import decode_postings
    from tests.conftest import corpus_from_texts

    texts = [
        "alpha beta gamma",           # 0: exact
        "alpha x beta y gamma",       # 1: gaps of 1
        "alpha x y z beta gamma",     # 2: gap of 3 then 0
        "gamma beta alpha",           # 3: wrong order
        "alpha beta",                 # 4: missing gamma
    ]
    corpus = corpus_from_texts(spark, texts)
    # row-level postings carry packed posbin; go through the segment codec
    from search_engine_spark.sources import segments as S
    import tempfile, shutil, os
    idx = os.path.join(tempfile.mkdtemp(), "slop_idx")
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1, num_segments=2)
    dec = S.decode_postings(
        S.load_segments(spark, idx), ["alpha", "beta", "gamma"],
        with_positions=True,
    )
    run = lambda slop: sorted(
        r.docId
        for r in search_sloppy_phrase(dec, ["alpha", "beta", "gamma"], slop).collect()
    )
    assert run(0) == [0]
    assert run(1) == [0, 1]
    assert run(3) == [0, 1, 2]
    got = {s: run(s) for s in (0, 1, 3)}
    assert got[0] <= got[1] <= got[3]  # widening only adds
    shutil.rmtree(os.path.dirname(idx), ignore_errors=True)


# --- shingle (bigram) field: phrase acceleration --------------------------

PHRASE_DOCS = [
    "a b c a b",
    "b c a",
    "a b a b a b",
    "c c c a b c",
    "x y z",
    "a",
    "b a b c a b c b",
]


def _phrase_oracle(tokens: list[str]) -> list[int]:
    out = []
    for i, d in enumerate(PHRASE_DOCS):
        t = _toks(d)
        if any(
            t[j : j + len(tokens)] == tokens
            for j in range(len(t) - len(tokens) + 1)
        ):
            out.append(i)
    return out


@pytest.fixture(scope="module")
def shingle_index(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("qsh") / "idx")
    corpus = corpus_from_texts(spark, PHRASE_DOCS).withColumn(
        "sh", F.col("content")
    )
    m = S.build_index(
        spark, corpus, p, analyzer="naive", n_batches=2,
        fields={"sh": "shingle:naive"},
    )
    return p, m


def test_phrase_shingled_matches_oracle_and_unigram(spark, shingle_index):
    p, _ = shingle_index
    segs = S.load_segments(spark, p)
    pos = S.decode_postings(segs, None, with_positions=True).where(
        ~F.col("term").contains("\x1f")
    )
    cases = [
        ["a", "b"],            # L=2: docId-only decode path
        ["a", "b", "c"],       # L=3
        ["a", "b", "a", "b"],  # repeated bigram at two offsets
        ["c", "c"],            # self-bigram
        ["z", "a"],            # no match
        ["a"],                 # L=1 falls back to keyword membership
    ]
    for tokens in cases:
        got = sorted(
            r.docId for r in Q.search_phrase_shingled(segs, tokens).collect()
        )
        assert got == _phrase_oracle(tokens), tokens
        if len(tokens) >= 2:
            # the unigram positional path must agree (except the reference
            # dedup quirk — avoid it by only comparing quirk-free phrases)
            if len(set(tokens)) == len(tokens):
                uni = sorted(
                    r.docId for r in Q.search_phrase(pos, tokens).collect()
                )
                assert got == uni, tokens
    assert Q.search_phrase_shingled(segs, []).collect() == []


def test_search_synonyms(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    syn = {"scan": ["seek"], "join": ["merge", "filter"]}
    got = sorted(
        r.docId
        for r in Q.search_synonyms(postings, ["scan", "join"], syn).collect()
    )
    want = sorted(
        i
        for i, d in enumerate(DOCS)
        if ({"scan", "seek"} & set(_toks(d))) and ({"join", "merge", "filter"} & set(_toks(d)))
    )
    assert got == want and got
    # no synonyms: degenerates to plain AND
    got2 = sorted(
        r.docId for r in Q.search_synonyms(postings, ["table", "scan"], {}).collect()
    )
    want2 = sorted(r.docId for r in Q.search_and(postings, ["table", "scan"]).collect())
    assert got2 == want2
    assert Q.search_synonyms(postings, [], {}).collect() == []


def test_range_facets(spark, ext_index):
    _, _, corpus = ext_index
    docs = corpus.withColumn("n_toks", F.size(F.split(F.col("content"), " ")))
    result = docs.select("docId")  # every doc matches
    edges = [2.0, 4.0, 7.0]
    got = {
        (r.bucket, r.lo, r.hi): r.n
        for r in Q.range_facets(result, docs, "n_toks", edges).collect()
    }
    import collections

    want: dict = collections.Counter()
    for d in DOCS:
        v = len(d.split(" "))
        idx = sum(1 for e in edges if e <= v)
        lo = edges[idx - 1] if idx > 0 else None
        hi = edges[idx] if idx < len(edges) else None
        want[(idx, lo, hi)] += 1
    assert got == dict(want)
    with pytest.raises(ValueError):
        Q.range_facets(result, docs, "n_toks", [3.0])
    with pytest.raises(ValueError):
        Q.range_facets(result, docs, "n_toks", [4.0, 1.0])


def test_collapse_results(spark, tmp_path_factory):
    from search_engine_spark.operators.rank import collapse_results

    # 6 docs in 3 groups with known scores
    rows = [(i, float(s)) for i, s in enumerate([9.0, 7.0, 8.0, 8.0, 3.0, 5.0])]
    scored = spark.createDataFrame(rows, "docId long, score double")
    meta = spark.createDataFrame(
        [(0, "g1"), (1, "g1"), (2, "g2"), (3, "g2"), (4, "g3"), (5, "g3")],
        "docId long, repo string",
    )
    got = [
        (r.docId, r.repo, r.score)
        for r in collapse_results(scored, meta, "repo", k=10).collect()
    ]
    # per-group best: g1 -> doc0 (9.0); g2 tie 8.0 -> docId asc => doc2;
    # g3 -> doc5 (5.0); global order score desc, docId asc
    assert got == [(0, "g1", 9.0), (2, "g2", 8.0), (5, "g3", 5.0)]
    got2 = [
        (r.docId, r.score)
        for r in collapse_results(scored, meta, "repo", per_group=2, k=4).collect()
    ]
    assert got2 == [(0, 9.0), (2, 8.0), (3, 8.0), (1, 7.0)]


def test_delete_by_query(spark, tmp_path_factory):
    from search_engine_spark.operators.delete import (
        delete_by_query, live, load_tombstones)

    p = str(tmp_path_factory.mktemp("dbq") / "idx")
    corpus = corpus_from_texts(spark, DOCS)
    S.build_index(spark, corpus, p, analyzer="naive", n_batches=1)
    delete_by_query(spark, p, "scan AND NOT filter", analyzer="naive")
    deleted = {
        i
        for i, d in enumerate(DOCS)
        if "scan" in _toks(d) and "filter" not in _toks(d)
    }
    segs = S.load_segments(spark, p)
    all_ids = S.decode_postings(segs).select("docId").distinct()
    alive = sorted(
        r.docId for r in live(all_ids, load_tombstones(spark, p)).collect()
    )
    assert alive == sorted(set(range(len(DOCS))) - deleted)
    with pytest.raises(ValueError):
        delete_by_query(spark, p, "NOT scan", analyzer="naive")


HL_DOCS = [
    "the spark join runs a filter on the table then spark again",
    "filter only here",
    "nothing relevant",
    "join spark",
    "spark x0 x1 x2 x3 x4 x5 x6 join filter end",
]
HL_TERMS = ["spark", "join", "filter"]


def test_min_should_match(spark):
    corpus = corpus_from_texts(spark, HL_DOCS)
    postings = build_postings(corpus, "naive")

    def msm(m):
        return sorted(
            r.docId for r in Q.search_min_should_match(postings, HL_TERMS, m).collect()
        )

    assert msm(1) == [0, 1, 3, 4]  # degenerates to OR (Q4)
    assert msm(2) == [0, 3, 4]
    assert msm(3) == [0, 4]  # degenerates to AND (Q3)
    assert msm(4) == []  # m above clause count matches nothing (Lucene)
    # cross-check the degenerate ends against Q3/Q4 themselves
    assert msm(1) == sorted(r.docId for r in Q.search_or(postings, HL_TERMS).collect())
    assert msm(3) == sorted(r.docId for r in Q.search_and(postings, HL_TERMS).collect())
    with pytest.raises(ValueError):
        Q.search_min_should_match(postings, HL_TERMS, 0)
    assert Q.search_min_should_match(postings, [], 1).collect() == []


def test_highlight_terms(spark):
    from search_engine_spark.operators.textstats import highlight_terms

    corpus = corpus_from_texts(spark, HL_DOCS)
    got = {
        r.docId: r
        for r in highlight_terms(corpus, HL_TERMS, window=8).collect()
    }
    # no-match docs are excluded
    assert set(got) == {0, 1, 3, 4}
    # best window covers all 3 terms, starts at the first hit that reaches it
    assert got[0].window_start == 2 and got[0].coverage == 3
    assert got[0].snippet == (
        "<em>spark</em> <em>join</em> runs a <em>filter</em> on the table"
    )
    # doc shorter than the window: clipped slice, every match wrapped
    assert got[3].coverage == 2
    assert got[3].snippet == "<em>join</em> <em>spark</em>"
    # the early lone hit (coverage 1) loses to the later 2-term window;
    # ties inside equal coverage keep the EARLIEST span
    assert got[4].window_start == 9 and got[4].coverage == 2
    assert got[4].snippet == "<em>join</em> <em>filter</em> end"
    # single-match doc still gets its window
    assert got[1].coverage == 1 and got[1].snippet == "<em>filter</em> only here"


def test_highlight_duplicate_terms_and_window_edge(spark):
    from search_engine_spark.operators.textstats import highlight_terms

    corpus = corpus_from_texts(
        spark, ["spark spark spark", "a b spark c d join e f g h filter"]
    )
    got = {
        r.docId: r for r in highlight_terms(corpus, HL_TERMS, window=4).collect()
    }
    # duplicates: coverage counts DISTINCT terms, every occurrence wrapped
    assert got[0].coverage == 1
    assert got[0].snippet == "<em>spark</em> <em>spark</em> <em>spark</em>"
    # window too small for all three: picks the best-covering 4-token span
    assert got[1].coverage == 2
    assert got[1].window_start == 3
    assert got[1].snippet == "<em>spark</em> c d <em>join</em>"


def test_search_span_first(spark, ext_index):
    p, _, _ = ext_index
    segs = S.load_segments(spark, p)
    dec = S.decode_postings(segs, ["scan", "spark", "zebra"], with_positions=True)
    # 'scan' positions per DOCS: doc0 @1,3; doc1 @6; doc2 @0; doc4 @2,6
    got = sorted(r.docId for r in Q.search_span_first(dec, "scan", 2).collect())
    assert got == [0, 2]
    got = sorted(r.docId for r in Q.search_span_first(dec, "scan", 7).collect())
    assert got == [0, 1, 2, 4]
    # limit 1 == term at position 0 only
    got = sorted(r.docId for r in Q.search_span_first(dec, "scan", 1).collect())
    assert got == [2]
    # absent term / non-positive limit -> empty
    assert Q.search_span_first(dec, "qqq", 5).collect() == []
    assert Q.search_span_first(dec, "scan", 0).collect() == []


def test_percolate_matches_search_and(spark, ext_index):
    """Percolate == search_and per standing query, in one pass."""
    from search_engine_spark.operators.query import percolate, percolate_queries

    _, _, corpus = ext_index
    queries = {1: ["spark", "join"], 2: ["table", "scan"], 3: ["zebra"],
               4: ["nosuchterm"]}
    qt = percolate_queries(spark, queries, analyzer="naive")
    got = {}
    for r in percolate(corpus, qt, analyzer="naive").collect():
        got.setdefault(r.qid, set()).add(r.docId)
    postings = build_postings(corpus, "naive")
    for qid, kws in queries.items():
        want = {r.docId for r in Q.search_and(postings, kws).collect()}
        assert got.get(qid, set()) == want, f"qid={qid}"
    assert 4 not in got  # absent term -> the query matches nothing


def test_stats_agg(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    # numeric metadata with a NULL (excluded per-field, the ES missing rule)
    vals = [10.0, None, 7.5, 3.0, 7.5, 1.0, 2.0]
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "docId long, size double"
    )
    hits = Q.search_keyword(postings, "scan")  # docs 0,1,2,4
    got = {r.col: r for r in Q.stats_agg(hits, docs, ["size", "docId"]).collect()}
    matched = [i for i, d in enumerate(DOCS) if "scan" in _toks(d)]
    sv = [vals[i] for i in matched if vals[i] is not None]
    assert got["size"].n == len(sv)
    assert got["size"].ndv == len(set(sv))
    assert got["size"].min == min(sv) and got["size"].max == max(sv)
    assert abs(got["size"].sum - sum(sv)) < 1e-9
    assert abs(got["size"].avg - sum(sv) / len(sv)) < 1e-9
    assert got["docId"].n == len(matched)  # id col has no nulls
    assert got["docId"].ndv == len(matched)
    # empty field list -> empty result, schema intact
    empty = Q.stats_agg(hits, docs, [])
    assert empty.columns == ["col", "n", "ndv", "min", "max", "sum", "avg"]
    assert empty.collect() == []


def test_percentiles_agg(spark, ext_index):
    import numpy as np

    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    vals = [10.0, 4.0, 7.5, 3.0, 6.0, 1.0, 2.0]
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "docId long, size double"
    )
    hits = Q.search_keyword(postings, "scan")
    matched = [vals[i] for i, d in enumerate(DOCS) if "scan" in _toks(d)]
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {r.p: r.value for r in
           Q.percentiles_agg(hits, docs, "size", ps).collect()}
    for p in ps:  # Spark exact percentile == numpy linear (R-7) interpolation
        assert abs(got[p] - float(np.percentile(matched, p * 100))) < 1e-9
    for bad in ([], [1.5], [-0.1]):
        with pytest.raises(ValueError):
            Q.percentiles_agg(hits, docs, "size", bad)


def test_date_histogram(spark):
    from datetime import datetime

    rows = [
        (datetime(2026, 1, 1, 3, 0), 1.0),
        (datetime(2026, 1, 1, 23, 59), 2.5),
        (datetime(2026, 1, 2, 0, 0), 4.0),
        (None, 99.0),  # null ts excluded
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {r.bucket: (r.n, r.sum_value)
           for r in Q.date_histogram(ev, "ts", "day", "value").collect()}
    assert got == {
        "2026-01-01 00:00:00": (2, 3.5),
        "2026-01-02 00:00:00": (1, 4.0),
    }
    # hour interval, count-only shape
    byh = Q.date_histogram(ev, "ts", "hour")
    assert byh.columns == ["bucket", "n"]
    assert {r.bucket: r.n for r in byh.collect()} == {
        "2026-01-01 03:00:00": 1, "2026-01-01 23:00:00": 1,
        "2026-01-02 00:00:00": 1,
    }


def test_rescore_phrase(spark, ext_index):
    """Rescore == primary DAAT top-window + boost on exact phrase match,
    re-sorted — derived oracle from the (independently tested) primary."""
    from search_engine_spark.operators.rank import (
        Scorer, rescore_phrase, score_query_daat,
    )

    p, m, corpus = ext_index
    segs = S.load_segments(spark, p)
    ts = S.load_term_stats(spark, p)
    n_docs, avgdl = m["stats"]["n_docs"], m["stats"]["avgdl"]
    sc = Scorer("bm25", 1.2, 0.75)
    window, k, boost = 5, 3, 0.5
    primary = {
        r.docId: r.score
        for r in score_query_daat(
            spark, segs, ts, ["scan"], n_docs, avgdl, sc, k=window,
            analyzer="naive", ties="asc",
        ).collect()
    }
    phrase = ["table", "scan"]
    ph_docs = {
        i for i, d in enumerate(DOCS)
        if any(_toks(d)[j:j + 2] == phrase for j in range(len(_toks(d))))
    }
    want = sorted(
        ((s + (boost if d in ph_docs else 0.0), d) for d, s in primary.items()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    got = [
        (r.score, r.docId)
        for r in rescore_phrase(
            spark, segs, ts, ["scan"], phrase, n_docs, avgdl, sc,
            window=window, k=k, boost=boost, analyzer="naive", ties="asc",
        ).collect()
    ]
    assert len(got) == k
    for (ws, wd), (gs, gd) in zip(want, got):
        assert wd == gd and abs(ws - gs) < 1e-9
    # the boost must actually reorder: at least one phrase doc in the window
    assert any(d in ph_docs for d in primary)


def test_significant_terms(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    ts = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    hits = Q.search_keyword(postings, "scan")
    matched = [i for i, d in enumerate(DOCS) if "scan" in _toks(d)]
    n_fg, n_docs = len(matched), len(DOCS)
    got = [
        (r.term, r.fg_df, r.df, r.score)
        for r in Q.significant_terms(
            hits, postings, ts, n_fg, n_docs, k=5, min_fg=2
        ).collect()
    ]
    # python truth: JLH over the same tokenization
    fg: dict[str, int] = {}
    df: dict[str, int] = {}
    for i, d in enumerate(DOCS):
        for t in set(_toks(d)):
            df[t] = df.get(t, 0) + 1
            if i in matched:
                fg[t] = fg.get(t, 0) + 1
    want = []
    for t, f_ in fg.items():
        if f_ < 2:
            continue
        fp, bp = f_ / n_fg, df[t] / n_docs
        want.append((t, f_, df[t], (fp - bp) * (fp / bp)))
    want.sort(key=lambda r: (-r[3], r[0]))
    want = want[:5]
    assert [(t, f_, d_) for t, f_, d_, _ in want] == [
        (t, f_, d_) for t, f_, d_, _ in got
    ]
    for (_, _, _, ws), (_, _, _, gs) in zip(want, got):
        assert abs(ws - gs) < 1e-9
    # 'scan' itself has fg_pct 1.0 and max lift of any full-coverage term
    assert got[0][0] == "scan"
    with pytest.raises(ValueError):
        Q.significant_terms(hits, postings, ts, 0, n_docs)


def test_decay_score(spark):
    import math

    from search_engine_spark.operators.rank import decay_score

    scored = spark.createDataFrame(
        [(0, 10.0), (1, 10.0), (2, 10.0), (3, 8.0)], "docId long, score double"
    )
    meta = spark.createDataFrame(
        [(0, 100.0), (1, 300.0), (2, None), (3, 100.0)],
        "docId long, v double",
    )
    origin, scale, decay = 100.0, 200.0, 0.5

    def gauss(v):
        if v is None:
            return 1.0  # missing field keeps multiplier 1
        s2 = -(scale ** 2) / (2.0 * math.log(decay))
        return math.exp(-((abs(v - origin)) ** 2) / (2.0 * s2))

    got = {r.docId: r.score
           for r in decay_score(scored, meta, "v", origin, scale,
                                decay=decay, k=None).collect()}
    assert abs(got[0] - 10.0) < 1e-9            # at origin: x1
    assert abs(got[1] - 10.0 * decay) < 1e-9     # at origin+scale: x decay
    assert abs(got[2] - 10.0) < 1e-9            # NULL field: x1
    assert abs(got[3] - 8.0) < 1e-9
    # exp kind: multiplier decay^(d/scale); linear hits 0 beyond s
    ge = {r.docId: r.score
          for r in decay_score(scored, meta, "v", origin, scale,
                               decay=decay, kind="exp", k=None).collect()}
    assert abs(ge[1] - 10.0 * decay) < 1e-9
    gl = {r.docId: r.score
          for r in decay_score(scored, meta, "v", origin, 100.0,
                               decay=0.5, kind="linear", k=None).collect()}
    assert abs(gl[1] - 0.0) < 1e-9  # d=200 = s -> 0
    # top-k cut: deterministic (score desc, docId asc)
    top = decay_score(scored, meta, "v", origin, scale, decay=decay, k=2).collect()
    assert [(r.docId) for r in top] == [0, 2]
    for bad in (dict(scale=-1.0), dict(decay=0.0), dict(decay=1.0),
                dict(kind="nope")):
        kw = dict(decay=0.5, kind="gauss")
        kw.update(bad)
        with pytest.raises(ValueError):
            decay_score(scored, meta, "v", origin,
                        kw.pop("scale", scale), **kw)


def test_complete_prefix(spark, ext_index):
    _, _, corpus = ext_index
    postings = build_postings(corpus, "naive")
    ts = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    got = [(r.term, r.df) for r in Q.complete_prefix(ts, "s", k=3).collect()]
    df: dict[str, int] = {}
    for d in DOCS:
        for t in set(_toks(d)):
            df[t] = df.get(t, 0) + 1
    want = sorted(
        ((t, n) for t, n in df.items() if t.startswith("s")),
        key=lambda r: (-r[1], r[0]),
    )[:3]
    assert got == want
    assert Q.complete_prefix(ts, "zzz").collect() == []
    with pytest.raises(ValueError):
        Q.complete_prefix(ts, "")


def test_rescore_vector(spark):
    import math

    from search_engine_spark.operators.similarity import rescore_vector

    scored = spark.createDataFrame(
        [(0, 5.0), (1, 5.0), (2, 4.0)], "docId long, score double"
    )
    # doc0 aligned with the query, doc1 orthogonal, doc2 has NO embedding
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.docId: r.score
           for r in rescore_vector(scored, emb, [2.0, 0.0], weight=1.0,
                                   k=None).collect()}
    assert abs(got[0] - 6.0) < 1e-6      # cos=1
    assert abs(got[1] - 5.0) < 1e-6      # cos=0
    assert abs(got[2] - 4.0) < 1e-6      # missing embedding -> unchanged
    # negative cosine can demote; top-k cut is deterministic
    got2 = [r.docId for r in
            rescore_vector(scored, emb, [-1.0, 0.0], weight=2.0, k=2).collect()]
    # doc0: 5-2=3, doc1: 5+0=5, doc2: 4 -> top2 = [1, 2]
    assert got2 == [1, 2]
    # zero-norm embeddings (doc or query side) would make the cosine
    # 0/0 = NaN, which sorts ABOVE every double under desc — must be
    # treated as "no signal", never propagate into scores
    embz = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    gz = {r.docId: r.score
          for r in rescore_vector(scored, embz, [2.0, 0.0], weight=1.0,
                                  k=None).collect()}
    assert abs(gz[0] - 5.0) < 1e-6 and not math.isnan(gz[0])
    assert abs(gz[1] - 6.0) < 1e-6
    gq = {r.docId: r.score
          for r in rescore_vector(scored, emb, [0.0, 0.0], weight=1.0,
                                  k=None).collect()}  # zero QUERY vector
    assert all(not math.isnan(v) for v in gq.values())
    assert abs(gq[0] - 5.0) < 1e-6
