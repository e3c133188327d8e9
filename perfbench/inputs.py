"""Seeded inputs: the corpus (rows from ``sources.corpus.synthetic_corpus``),
the big-document tail, and the query and op streams.

Everything is a function of the workload seed. The corpus rows come from the
library's own generator; the streams are drawn with ``random.Random`` seeded
by a string, which is stable across processes and Python hash seeds.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from pyspark.sql import functions as F

from search_engine_spark.functions.analyzers import code_tokenize
from search_engine_spark.sources.corpus import synthetic_corpus, with_doc_ids

VOCAB = 5000
# strata by raw-token document frequency, as a share of the corpus
HEAD_DF = 0.05
MID_DF = 0.003
# the strata of the ranked queries, cycled in this order: every window sees
# the same mix (0.3 head, 0.3 mid, 0.3 tail, 0.1 zero terms) and only the
# terms drawn from each stratum change with the seed
RANKED_STRATA = (("head",), ("mid", "tail"), ("head", "mid"), ("tail",),
                 ("head", "mid", "tail"), ("zero",))


def corpus_rows(spark, n_rows: int, seed: int):
    """Rows ``0..n_rows-1`` of the seeded code corpus, with the row index
    ``i`` (the generator's repo grouping is ``i // 50``)."""
    c = synthetic_corpus(spark, n_docs=n_rows, vocab_size=VOCAB, seed=seed,
                         clustered_ids=True)
    return c.withColumn(
        "i", F.regexp_extract("path", r"file_(\d+)\.", 1).cast("int")
    )


def big_docs(rows, first_row: int, n_docs: int, rows_per_doc: int):
    """The big-document tail: doc ``t`` concatenates generated rows
    ``first_row + t*rows_per_doc ...`` in row order (~0.5 KB per row), as
    one big file of the repos those rows come from."""
    blk = F.floor((F.col("i") - first_row) / rows_per_doc).cast("int")
    grouped = (
        rows.where(
            (F.col("i") >= first_row)
            & (F.col("i") < first_row + n_docs * rows_per_doc)
        )
        .groupBy(blk.alias("t"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "content"))).alias("parts"))
    )
    docs = grouped.select(
        F.concat(F.lit("bigorg/big"), F.col("t").cast("string")).alias("repo"),
        F.concat(F.lit("big/doc_"), F.col("t").cast("string"), F.lit(".txt")).alias("path"),
        F.sha1(F.concat(F.lit("big:"), F.col("t").cast("string"))).alias("commit"),
        F.lit("txt").alias("lang"),
        F.concat_ws("\n", F.transform("parts", lambda p: p["content"])).alias("content"),
    )
    return with_doc_ids(docs, clustered=True)


def fingerprint(docs: dict[int, str]) -> str:
    """sha256 over ``(docId, content)`` in docId order."""
    h = hashlib.sha256()
    for d in sorted(docs):
        h.update(str(d).encode())
        h.update(b"\0")
        h.update(docs[d].encode())
        h.update(b"\0")
    return h.hexdigest()


class Vocabulary:
    """Raw code tokens of a corpus, split into document-frequency strata:
    head (WAND territory), mid, tail (repo-local ``rid...`` identifiers) and
    zero (absent from the corpus)."""

    def __init__(self, docs: dict[int, str]):
        self.doc_tokens = {d: code_tokenize(docs[d]) for d in sorted(docs)}
        df = Counter()
        for toks in self.doc_tokens.values():
            df.update(set(toks))
        self.df = df
        n = len(docs)
        self.strata = {
            "head": sorted(t for t, c in df.items() if c >= HEAD_DF * n),
            "mid": sorted(
                t for t, c in df.items()
                if MID_DF * n <= c < HEAD_DF * n and not t.startswith("rid")
            ),
            "tail": sorted(t for t in df if t.startswith("rid")),
        }
        for name, terms in self.strata.items():
            if not terms:
                raise ValueError(f"corpus has no {name}-stratum terms")

    def zero_term(self, rng: random.Random) -> str:
        while True:
            t = "zq" + "".join(rng.choice("bcdfghjkmnpqrstvwxz") for _ in range(6))
            if t not in self.df:
                return t

    def draw(self, rng: random.Random, stratum: str) -> str:
        if stratum == "zero":
            return self.zero_term(rng)
        return rng.choice(self.strata[stratum])

    def ranked_query(self, rng: random.Random, n: int) -> tuple[list[str], list[str]]:
        """The ``n``-th ranked query: one raw term per stratum of
        ``RANKED_STRATA[n % len(RANKED_STRATA)]``."""
        strata = list(RANKED_STRATA[n % len(RANKED_STRATA)])
        return [self.draw(rng, s) for s in strata], strata


# query workload: blocks of ten ops in this order, six ranked and one of each
# other kind, so every window sees the same mix of kinds
QUERY_BLOCK = ("daat", "and", "daat", "phrase", "daat", "query_string", "daat",
               "substring", "daat", "daat")


def query_ops(docs: dict[int, str], vocab: Vocabulary, seed: int, n_ops: int) -> list[dict]:
    rng = random.Random(f"query-ops-{seed}")
    ids = sorted(docs)
    ops: list[dict] = []
    ranked = 0
    while len(ops) < n_ops:
        for kind in QUERY_BLOCK:
            if kind == "daat":
                terms, strata = vocab.ranked_query(rng, ranked)
                ranked += 1
                ops.append({"kind": kind, "terms": terms, "strata": strata})
                continue
            toks = []
            while len(toks) < 3:  # a doc with enough tokens to draw from
                d = rng.choice(ids)
                toks = vocab.doc_tokens[d]
            if kind == "and":
                a, b = rng.sample(sorted(set(toks)), 2)
                ops.append({"kind": kind, "terms": [a, b]})
            elif kind == "phrase":
                n = rng.choice((2, 3))
                p = rng.randrange(len(toks) - n + 1)
                ops.append({"kind": kind, "terms": toks[p : p + n]})
            elif kind == "query_string":
                a = rng.choice(toks)
                b = vocab.draw(rng, rng.choice(("mid", "tail")))
                c = vocab.draw(rng, rng.choice(("head", "tail", "zero")))
                ops.append({"kind": kind, "q": f"{a} AND ({b} OR {c})",
                            "terms": [a, b, c]})
            else:
                ops.append({"kind": kind, "needle": _needle(rng, docs, ids)})
    return ops[:n_ops]


def _needle(rng: random.Random, docs: dict[int, str], ids: list[int]) -> str:
    """A substring of a random doc (6-12 chars), or one in no doc."""
    if rng.random() < 0.2:
        while True:
            s = "".join(rng.choice("bcdfghjkmnpqrstvwxz") for _ in range(8))
            if not any(s in c for c in docs.values()):
                return s
    while True:
        content = docs[rng.choice(ids)]
        n = rng.randint(6, 12)
        if len(content) > n:
            p = rng.randrange(len(content) - n)
            needle = content[p : p + n]
            if needle.strip() == needle:  # no leading/trailing blanks
                return needle


def ingest_ops(base_vocab: Vocabulary, batch_vocabs: list[Vocabulary], seed: int,
               batches_per_cycle: int, batch_size: int, fresh_per_batch: int) -> list[dict]:
    """One op list per ingest cycle: the keyword to delete (a repo-local
    identifier of the base corpus, never reused) and the serve batches; the
    first batch of a cycle holds ``fresh_per_batch`` queries on identifiers
    that exist only in that cycle's appended docs."""
    rng = random.Random(f"ingest-ops-{seed}")
    deletable = list(base_vocab.strata["tail"])
    rng.shuffle(deletable)
    cycles = []
    for c, bv in enumerate(batch_vocabs):
        fresh = [t for t in bv.strata["tail"] if t not in base_vocab.df]
        serve = []
        for b in range(batches_per_cycle):
            qs = []
            for q in range(batch_size):
                if b == 0 and q < fresh_per_batch:
                    qs.append({"terms": [rng.choice(fresh)], "strata": ["fresh"]})
                else:
                    terms, strata = base_vocab.ranked_query(rng, q)
                    qs.append({"terms": terms, "strata": strata})
            serve.append(qs)
        cycles.append({"delete": deletable[c], "serve": serve})
    return cycles
