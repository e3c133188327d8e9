"""Unified Lucene-style query parser: grammar goldens + end-to-end
execution equality against the composed single-operator truths."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import query as Q
from search_engine_spark.operators.parser import (
    parse_query,
    search_parsed,
    search_query_string,
)
from search_engine_spark.sources import segments as S
from tests.conftest import corpus_from_texts

DOCS = [
    "spark scan table scan filter join",    # 0
    "table a b c d e scan",                 # 1
    "scan table",                           # 2
    "join filter spark spark",              # 3
    "table x scan y table z z scan",        # 4
    "apple rotten apple",                   # 5
    "def import tok1 tok2",                 # 6
    "import tok1 prefab",                   # 7
    "sparky table",                         # 8  (fuzzy target for spark~1)
]


def test_parse_query_goldens():
    p = lambda s: parse_query(s, "naive")
    assert p("spark") == ("term", "spark")
    assert p("spark AND join") == ("and", [("term", "spark"), ("term", "join")])
    assert p("a OR b AND c") == (
        "or", [("term", "a"), ("and", [("term", "b"), ("term", "c")])])
    assert p("NOT a AND b") == ("and", [("not", ("term", "a")), ("term", "b")])
    assert p('"table scan"') == ("phrase", ("table", "scan"), 0)
    assert p('"table scan"~2') == ("phrase", ("table", "scan"), 2)
    assert p("spark~") == ("fuzzy", "spark", 1)
    assert p("spark~2") == ("fuzzy", "spark", 2)
    assert p("pre*") == ("prefix", "pre")
    assert p("n_chars:[10 TO 99]") == (
        "range", "n_chars", 10.0, 99.0, True, True)
    assert p("n_chars:{10 TO 99]") == (
        "range", "n_chars", 10.0, 99.0, False, True)
    assert p("n_chars:[10 TO *}") == (
        "range", "n_chars", 10.0, None, True, False)
    with pytest.raises(ValueError, match="no bounds"):
        p("n_chars:[* TO *]")
    assert p("(a OR b) AND NOT c") == (
        "and", [("or", [("term", "a"), ("term", "b")]),
                ("not", ("term", "c"))])
    with pytest.raises(ValueError, match="bare adjacency"):
        p("spark join")
    with pytest.raises(ValueError, match="trailing|adjacency|operand"):
        p("AND spark")
    with pytest.raises(ValueError, match="malformed range"):
        p("x:[1 2]")


def test_parse_fielded():
    tree = parse_query("lang:en", "naive")
    assert tree[0] == "term" and tree[1].endswith("en")
    with pytest.raises(ValueError, match="fuzzy.*fielded"):
        parse_query("lang:en~1", "naive")


@pytest.fixture(scope="module")
def parsed_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("parser")
    idx = str(root / "idx")
    corpus = corpus_from_texts(spark, DOCS).withColumn(
        "n_chars", F.length("content"))
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=2,
                  with_positions=True)
    return (corpus, S.load_segments(spark, idx),
            S.load_term_stats(spark, idx))


def _ids(df):
    return sorted(r.docId for r in df.collect())


def test_search_parsed_equals_composition(spark, parsed_index):
    corpus, segs, ts = parsed_index
    dec = S.decode_postings(segs)
    run = lambda q: _ids(search_query_string(
        spark, segs, ts, q, corpus=corpus, analyzer="naive"))

    # boolean core matches the AND / OR / AND-NOT operators it composes
    got = run("spark AND (scan OR filter) AND NOT apple")
    want = sorted(
        set(_ids(Q.search_and_not(dec, ["spark"], ["apple"])))
        & set(_ids(Q.search_or(dec, ["scan", "filter"]))))
    assert got == want and got
    assert got == sorted(
        set(_ids(Q.search_and(dec, ["spark", "scan"])))
        | set(_ids(Q.search_and(dec, ["spark", "filter"]))))

    # phrase leaf matches search_phrase
    pos = S.decode_postings(segs, ["table", "scan"], with_positions=True)
    assert run('"table scan"') == _ids(Q.search_phrase(pos, ["table", "scan"]))
    # sloppy phrase leaf
    assert run('"table scan"~2') == _ids(
        Q.search_sloppy_phrase(pos, ["table", "scan"], 2))

    # fuzzy leaf matches search_fuzzy (spark~1 also hits 'sparky')
    got_f = run("spark~1")
    want_f = _ids(Q.search_fuzzy(dec, ts, "spark", 1))
    assert got_f == want_f and 8 in got_f

    # prefix leaf matches search_prefix
    assert run("pre*") == _ids(Q.search_prefix(segs, "pre", "naive"))

    # range leaf over a corpus column
    lens = {r.docId: len(DOCS[r.docId]) for r in corpus.collect()}
    lo, hi = 10, 20
    assert run(f"n_chars:[{lo} TO {hi}] AND table") == sorted(
        d for d, n in lens.items()
        if lo <= n <= hi and "table" in DOCS[d].split())

    # the compound query composes all leaf kinds in one plan
    got_c = run('(spark~1 OR "table scan") AND n_chars:[10 TO 99] '
                "AND NOT apple")
    fz = set(want_f)
    ph = set(_ids(Q.search_phrase(pos, ["table", "scan"])))
    want_c = sorted(
        d for d in range(len(DOCS))
        if (d in fz or d in ph) and 10 <= lens[d] <= 99
        and "apple" not in DOCS[d].split())
    assert got_c == want_c and got_c

    # purely negative trees refuse
    with pytest.raises(ValueError, match="purely negative"):
        search_query_string(spark, segs, ts, "NOT spark", analyzer="naive")
    # range without corpus refuses
    with pytest.raises(ValueError, match="needs corpus"):
        search_query_string(spark, segs, ts, "n_chars:[1 TO 2]",
                            analyzer="naive")


def _bm25_expected(terms, docs, k1=1.2, b=0.75):
    """Hand-computed BM25 over whitespace-token docs (naive analyzer)."""
    import math
    from collections import Counter

    toks = [d.split() for d in docs]
    n = len(docs)
    dls = [len(t) for t in toks]
    avgdl = sum(dls) / n
    qtf = Counter(terms)
    out = {}
    for d, tk in enumerate(toks):
        tf = Counter(tk)
        s = 0.0
        for t, q in qtf.items():
            df = sum(1 for tt in toks if t in tt)
            if tf[t] == 0 or df == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += q * idf * tf[t] * (k1 + 1.0) / (
                tf[t] + k1 * (1.0 - b + b * dls[d] / avgdl))
        out[d] = s
    return out


def test_rank_query_string(spark, parsed_index):
    from search_engine_spark.operators.parser import (
        rank_query_string, scoring_terms,
    )

    corpus, segs, ts = parsed_index
    n_docs = len(DOCS)
    avgdl = sum(len(d.split()) for d in DOCS) / n_docs

    # scoring terms: positive term + phrase constituents; fuzzy/prefix/
    # range/negated excluded
    tree = parse_query(
        'spark AND "table scan" AND pre* AND sow~1 AND NOT apple '
        "AND n_chars:[1 TO 9999]", "naive")
    assert scoring_terms(tree) == ["spark", "table", "scan"]

    # exact scores vs the hand-computed oracle on the filtered matches
    got = rank_query_string(
        spark, segs, ts, 'spark AND "table scan"', n_docs, avgdl,
        analyzer="naive", k=10).collect()
    exp = _bm25_expected(["spark", "table", "scan"], DOCS)
    # filter: docs with 'spark' AND adjacent "table scan" -> doc 0 only
    assert [r.docId for r in got] == [0]
    assert abs(got[0].score - exp[0]) < 1e-9

    # constant-score matches rank with score 0.0 (matched via prefix only)
    got2 = rank_query_string(
        spark, segs, ts, "pre* OR spark", n_docs, avgdl,
        analyzer="naive", k=10).collect()
    by_id = {r.docId: r.score for r in got2}
    # doc 7 matches only via pre* (prefab) -> score 0; 0,3 carry spark BM25
    assert by_id[7] == 0.0 and 6 not in by_id
    assert abs(by_id[0] - _bm25_expected(["spark"], DOCS)[0]) < 1e-9
    assert abs(by_id[3] - _bm25_expected(["spark"], DOCS)[3]) < 1e-9
    # ordering: score desc, docId asc
    assert [r.docId for r in got2] == sorted(
        by_id, key=lambda d: (-by_id[d], d))

    # qtf: a term repeated across leaves scores with qtf=2
    got3 = rank_query_string(
        spark, segs, ts, 'spark AND "spark scan"', n_docs, avgdl,
        analyzer="naive", k=10).collect()
    exp3 = _bm25_expected(["spark", "spark", "scan"], DOCS)
    assert [r.docId for r in got3] == [0]
    assert abs(got3[0].score - exp3[0]) < 1e-9

    # tombstoned docs neither rank nor eat k slots
    tomb = spark.createDataFrame([(0,)], "docId long")
    got4 = rank_query_string(
        spark, segs, ts, "pre* OR spark", n_docs, avgdl,
        analyzer="naive", k=10, tombstones=tomb).collect()
    assert 0 not in {r.docId for r in got4}
    assert {r.docId for r in got4} == set(by_id) - {0}


def test_explain_parsed(spark, parsed_index):
    from search_engine_spark.operators.parser import explain_parsed

    corpus, segs, ts = parsed_index
    rep = explain_parsed(
        ts, '(spark~1 OR "table scan") AND pre* AND NOT apple '
            "AND n_chars:[10 TO 99]", analyzer="naive")
    kinds = [l["leaf"] for l in rep["leaves"]]
    assert sorted(kinds) == ["fuzzy", "phrase", "prefix", "range", "term"]
    by = {l["leaf"]: l for l in rep["leaves"]}
    # fuzzy expansion includes the typo neighbor
    assert "sparky" in by["fuzzy"]["expansions"]
    # phrase bound = min df of its terms; dfs are exact
    n_table = sum(1 for d in DOCS if "table" in d.split())
    n_scan = sum(1 for d in DOCS if "scan" in d.split())
    assert by["phrase"]["candidate_bound"] == min(n_table, n_scan)
    # prefix seeks the dictionary (prefab)
    assert by["prefix"]["n_dictionary_terms"] == 1
    # range leaves make the total bound unbounded (corpus filter)
    assert rep["candidate_bound"] is None
    # scoring terms: phrase constituents only (fuzzy/prefix const-score,
    # apple negated, range non-term)
    assert rep["scoring_terms"] == ["table", "scan"]

    # without a range leaf the bound is the finite sum
    rep2 = explain_parsed(ts, "spark AND apple", analyzer="naive")
    n_spark = sum(1 for d in DOCS if "spark" in d.split())
    n_apple = sum(1 for d in DOCS if "apple" in d.split())
    assert rep2["candidate_bound"] == n_spark + n_apple
    assert rep2["scoring_terms"] == ["spark", "apple"]


def test_boosted_rank_query_string(spark, parsed_index):
    """^W boosts: matching unchanged, BM25 contribution multiplied by W —
    exact against a hand-weighted oracle; phrase boosts distribute."""
    import math
    from collections import Counter

    from search_engine_spark.operators.parser import (
        rank_query_string, scoring_weights,
    )

    corpus, segs, ts = parsed_index
    n_docs = len(DOCS)
    avgdl = sum(len(d.split()) for d in DOCS) / n_docs

    # grammar + weights
    assert parse_query("spark^2", "naive") == ("boost", 2.0, ("term", "spark"))
    assert parse_query('"table scan"^1.5', "naive") == (
        "boost", 1.5, ("phrase", ("table", "scan"), 0))
    tree = parse_query('spark^2 AND "table scan"^1.5 AND pre*^3 '
                       "AND NOT apple^9", "naive")
    assert scoring_weights(tree) == {"spark": 2.0, "table": 1.5, "scan": 1.5}

    # matching identical with and without boosts
    q_plain = 'spark AND "table scan"'
    q_boost = 'spark^2 AND "table scan"^1.5'
    ids = lambda q: sorted(
        r.docId for r in rank_query_string(
            spark, segs, ts, q, n_docs, avgdl, analyzer="naive", k=None
        ).collect())
    assert ids(q_plain) == ids(q_boost)

    # exact boosted score: weight replaces qtf in the BM25 sum
    def expected(weights, d):
        toks = [x.split() for x in DOCS]
        dls = [len(t) for t in toks]
        avg = sum(dls) / len(DOCS)
        tf = Counter(toks[d])
        s = 0.0
        for t, w in weights.items():
            df = sum(1 for tt in toks if t in tt)
            if tf[t] == 0 or df == 0:
                continue
            idf = math.log((len(DOCS) - df + 0.5) / (df + 0.5) + 1.0)
            s += w * idf * tf[t] * 2.2 / (
                tf[t] + 1.2 * (1.0 - 0.75 + 0.75 * dls[d] / avg))
        return s

    got = rank_query_string(
        spark, segs, ts, q_boost, n_docs, avgdl, analyzer="naive", k=10
    ).collect()
    assert [r.docId for r in got] == [0]
    want = expected({"spark": 2.0, "table": 1.5, "scan": 1.5}, 0)
    assert abs(got[0].score - want) < 1e-9

    # a term both bare and boosted accumulates: spark + spark^2 -> 3.0
    tree2 = parse_query("spark AND spark^2", "naive")
    assert scoring_weights(tree2) == {"spark": 3.0}
    got2 = rank_query_string(
        spark, segs, ts, "spark AND spark^2", n_docs, avgdl,
        analyzer="naive", k=10).collect()
    want2 = {d: expected({"spark": 3.0}, d) for d in (0, 3)}
    by = {r.docId: r.score for r in got2}
    assert set(by) == {0, 3}
    assert all(abs(by[d] - want2[d]) < 1e-9 for d in by)


def test_fielded_phrase(spark, tmp_path_factory):
    """field:"a b" — adjacency over the field's OWN token stream: matches
    docs whose field contains the phrase, not content, and not docs with
    the words non-adjacent or reversed."""
    from tests.conftest import corpus_from_texts

    titles = [
        "big data spark",     # 0: phrase "data spark" in title
        "spark data big",     # 1: words present, wrong order
        "data x spark",       # 2: non-adjacent
        "plain",              # 3: phrase only in CONTENT, not title
    ]
    texts = ["a", "b", "c", "data spark"]
    root = tmp_path_factory.mktemp("fphrase")
    idx = str(root / "idx")
    corpus = corpus_from_texts(spark, texts).withColumn(
        "title", F.element_at(
            F.array(*[F.lit(t) for t in titles]),
            F.col("docId").cast("int") + 1))
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1,
                  fields={"title": "naive"})
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)

    tree = parse_query('title:"data spark"', "naive")
    assert tree[0] == "phrase" and all("\x1f" in t for t in tree[1])
    got = _ids(search_parsed(spark, segs, ts, tree, analyzer="naive"))
    assert got == [0]

    # sloppy fielded phrase: one intervening token allowed
    got2 = _ids(search_query_string(
        spark, segs, ts, 'title:"data spark"~1', analyzer="naive"))
    assert got2 == [0, 2]

    # unfielded phrase still hits content only
    got3 = _ids(search_query_string(
        spark, segs, ts, '"data spark"', analyzer="naive"))
    assert got3 == [3]

    # fielded wildcard expands in the namespaced dictionary subspace
    got4 = _ids(search_query_string(
        spark, segs, ts, "title:b?g", analyzer="naive"))
    assert got4 == [0, 1]  # titles containing 'big'; content terms unaffected


def test_wildcard_and_regexterm(spark, parsed_index):
    """te?m* wildcard + /regex/ term leaves: dictionary expansion,
    whole-term match, constant-score, composable in the boolean tree."""
    from search_engine_spark.operators.parser import (
        explain_parsed, rank_query_string,
    )

    corpus, segs, ts = parsed_index
    run = lambda q: _ids(search_query_string(
        spark, segs, ts, q, corpus=corpus, analyzer="naive"))

    # goldens
    assert parse_query("sc?n", "naive") == ("wildcard", "sc?n")
    assert parse_query("s*k", "naive") == ("wildcard", "s*k")
    assert parse_query("/sp[aeiou]rk[a-z]*/", "naive") == (
        "regexterm", "^(?:sp[aeiou]rk[a-z]*)$")
    # trailing-star-only stays a pushed prefix seek
    assert parse_query("pre*", "naive") == ("prefix", "pre")

    # ?: exactly one char, whole-term (scan; NOT sparky/spark)
    docs_with = lambda t: sorted(
        d for d, x in enumerate(DOCS) if t in x.split())
    assert run("sc?n") == docs_with("scan")
    # * mid-pattern: s*k -> spark (sparky does not END in k)
    assert run("s*k") == docs_with("spark")
    # regex: whole-term anchored -> spark and sparky
    got_rx = run("/sp[aeiou]rk[a-z]*/")
    want_rx = sorted(set(docs_with("spark")) | set(docs_with("sparky")))
    assert got_rx == want_rx
    # composes in the tree
    assert run("sc?n AND NOT /sp[aeiou]rk/") == sorted(
        set(docs_with("scan")) - set(docs_with("spark")))

    # the standalone operator (CLI 'wildcard' mode shape) agrees
    dec = S.decode_postings(segs)
    assert _ids(Q.search_wildcard(dec, ts, "s?ark")) == docs_with("spark")

    # a lone zero-expansion leaf returns empty, not an error
    assert run("zzznope*x") == []

    # constant-score: wildcard/regex matches rank at 0.0
    n_docs = len(DOCS)
    avgdl = sum(len(d.split()) for d in DOCS) / n_docs
    got = rank_query_string(
        spark, segs, ts, "s*k OR import", n_docs, avgdl,
        analyzer="naive", k=10).collect()
    by = {r.docId: r.score for r in got}
    assert by[0] == 0.0 and by[3] == 0.0  # matched via s*k (spark) only
    assert by[6] > 0 and by[7] > 0        # carry BM25 for 'import'

    # explain reports the expansions
    rep = explain_parsed(ts, "s*k AND /sp[aeiou]rk/", analyzer="naive")
    by_leaf = {l["leaf"]: l for l in rep["leaves"]}
    assert by_leaf["wildcard"]["expansions"] == ["spark"]
    assert by_leaf["regexterm"]["expansions"] == ["spark"]
    assert rep["scoring_terms"] == []


def test_query_budget_gate(spark, parsed_index):
    """max_candidates: df-based planner refusal BEFORE any postings decode;
    allow_corpus_filter=False refuses range leaves."""
    from search_engine_spark.operators.parser import (
        QueryBudgetExceeded, explain_parsed,
    )

    corpus, segs, ts = parsed_index

    # the bound equals explain's bound; over-budget refuses naming both
    rep = explain_parsed(ts, "spark AND table", analyzer="naive")
    b = rep["candidate_bound"]
    with pytest.raises(QueryBudgetExceeded, match=f"candidate bound {b}"):
        search_query_string(spark, segs, ts, "spark AND table",
                            analyzer="naive", max_candidates=b - 1)
    # at-budget runs and matches the ungated result
    got = _ids(search_query_string(spark, segs, ts, "spark AND table",
                                   analyzer="naive", max_candidates=b))
    assert got == _ids(search_query_string(spark, segs, ts,
                                           "spark AND table",
                                           analyzer="naive"))

    # expansion leaves (wildcard) count their dictionary dfs
    rep2 = explain_parsed(ts, "s*k", analyzer="naive")
    with pytest.raises(QueryBudgetExceeded):
        search_query_string(spark, segs, ts, "s*k", analyzer="naive",
                            max_candidates=rep2["candidate_bound"] - 1)

    # range leaves refuse under allow_corpus_filter=False, run otherwise
    with pytest.raises(QueryBudgetExceeded, match="corpus metadata scan"):
        search_query_string(spark, segs, ts,
                            "spark AND n_chars:[10 TO 99]",
                            corpus=corpus, analyzer="naive",
                            allow_corpus_filter=False)
    assert _ids(search_query_string(
        spark, segs, ts, "spark AND n_chars:[10 TO 99]",
        corpus=corpus, analyzer="naive"))


def test_range_bounds(spark, parsed_index):
    """Exclusive { } and open * range bounds execute correctly."""
    corpus, segs, ts = parsed_index
    lens = {r.docId: len(DOCS[r.docId]) for r in corpus.collect()}
    run = lambda q: _ids(search_query_string(
        spark, segs, ts, q, corpus=corpus, analyzer="naive"))

    lo, hi = 10, max(lens.values())
    # inclusive vs exclusive upper bound at an exact boundary value
    assert run(f"n_chars:[{lo} TO {hi}] AND table") != \
           run(f"n_chars:[{lo} TO {hi}}} AND table") or \
           all(n != hi for d, n in lens.items() if "table" in DOCS[d].split())
    assert run(f"n_chars:{{{lo} TO {hi}]") == sorted(
        d for d, n in lens.items() if lo < n <= hi)
    # open ends
    assert run(f"n_chars:[{lo} TO *]") == sorted(
        d for d, n in lens.items() if n >= lo)
    assert run(f"n_chars:[* TO {lo}}}") == sorted(
        d for d, n in lens.items() if n < lo)


def test_random_trees_roundtrip_and_semantics(spark, parsed_index):
    """Seeded random boolean trees: serialize -> parse round-trips exactly
    (precedence + parens), and search_parsed agrees with a pure-python
    truth evaluation over the fixture docs for every tree."""
    import random

    corpus, segs, ts = parsed_index
    rng = random.Random(42)
    vocab = sorted({t for d in DOCS for t in d.split()}) + ["zzz", "qqq"]
    toks = [d.split() for d in DOCS]

    def gen(depth):
        r = rng.random()
        if depth <= 0 or r < 0.45:
            kind = rng.choice(["term", "term", "phrase", "prefix", "wildcard"])
            if kind == "term":
                return ("term", rng.choice(vocab))
            if kind == "phrase":
                d = rng.choice(toks)
                if len(d) < 2:
                    return ("term", rng.choice(vocab))
                i = rng.randrange(len(d) - 1)
                return ("phrase", (d[i], d[i + 1]), 0)
            if kind == "prefix":
                return ("prefix", rng.choice(vocab)[:2])
            w = rng.choice(vocab)
            # always include '?' so the parser can't rewrite it to a prefix
            return ("wildcard",
                    w[0] + "?" + w[2:] if len(w) > 2 else "?" + w[1:])
        if r < 0.6:
            return ("not", gen(depth - 1))
        op = rng.choice(["and", "or"])
        return (op, [gen(depth - 1) for _ in range(rng.randint(2, 3))])

    PREC = {"or": 0, "and": 1, "not": 2}

    def to_q(node, parent=0):
        k = node[0]
        if k == "term":
            return node[1]
        if k == "phrase":
            return '"' + " ".join(node[1]) + '"'
        if k == "prefix":
            return node[1] + "*"
        if k == "wildcard":
            return node[1]
        if k == "not":
            s = f"NOT {to_q(node[1], PREC['not'])}"
            return f"({s})" if parent > PREC["not"] else s
        sep = f" {k.upper()} "
        s = sep.join(to_q(c, PREC[k] + 1) for c in node[1])
        return f"({s})" if parent > PREC[k] else s

    import fnmatch

    def truth(node, d):
        k = node[0]
        if k == "term":
            return node[1] in toks[d]
        if k == "phrase":
            a, b = node[1]
            return any(x == a and y == b
                       for x, y in zip(toks[d], toks[d][1:]))
        if k == "prefix":
            return any(t.startswith(node[1]) for t in toks[d])
        if k == "wildcard":
            # engine expands the DICTIONARY (whole-term match)
            return any(fnmatch.fnmatchcase(t, node[1]) for t in toks[d])
        if k == "not":
            return not truth(node[1], d)
        if k == "and":
            return all(truth(c, d) for c in node[1])
        return any(truth(c, d) for c in node[1])

    checked = 0
    while checked < 15:
        tree = gen(3)
        if _eval_py_matches_empty(tree):
            continue  # engine rejects purely-negative trees
        q = to_q(tree)
        got_tree = parse_query(q, "naive")
        assert _canon(got_tree) == _canon(tree), q
        want = sorted(d for d in range(len(DOCS)) if truth(tree, d))
        got = _ids(search_parsed(spark, segs, ts, got_tree, analyzer="naive"))
        assert got == want, f"{q}: {got} != {want}"
        checked += 1


def _eval_py_matches_empty(tree):
    from search_engine_spark.operators.parser import _eval_py

    return _eval_py(tree, set())


def _canon(node):
    """Single-child and/or nodes collapse during parsing; normalize."""
    k = node[0]
    if k in ("and", "or"):
        kids = [_canon(c) for c in node[1]]
        if len(kids) == 1:
            return kids[0]
        return (k, kids)
    if k == "not":
        return ("not", _canon(node[1]))
    return node


def test_field_group(spark, tmp_path_factory):
    """field:(a OR "b c") — every leaf in the group is fielded."""
    from tests.conftest import corpus_from_texts

    titles = ["big data spark", "spark data big", "data x spark", "plain"]
    texts = ["a", "b", "c", "big plain"]
    root = tmp_path_factory.mktemp("fgroup")
    idx = str(root / "idx")
    corpus = corpus_from_texts(spark, texts).withColumn(
        "title", F.element_at(
            F.array(*[F.lit(t) for t in titles]),
            F.col("docId").cast("int") + 1))
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1,
                  fields={"title": "naive"})
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    run = lambda q: _ids(search_query_string(spark, segs, ts, q,
                                             analyzer="naive"))

    # group = OR of fielded leaves; content terms ('big' in doc 3) ignored
    assert run('title:(plain OR "data spark")') == [0, 3]
    # NOT inside a group; wildcard inside a group is namespaced
    assert run("title:(b?g AND NOT x)") == [0, 1]
    # equivalent to the explicit fielded forms
    assert run('title:(plain OR "data spark")') == \
           run('title:plain OR title:"data spark"')
    # nested field inside a group refuses
    with pytest.raises(ValueError, match="nested field"):
        parse_query("title:(lang:en)", "naive")

    golden = parse_query("title:(a OR b)", "naive")
    assert golden == ("or", [("term", "title\x1fa"), ("term", "title\x1fb")])
