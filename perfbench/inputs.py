"""Seeded inputs for the three workloads: corpora, micro-batches, deletes
and query mixes.

Every generator is driven by the run's ``--seed``, so one seed always
gives the same documents and queries.  Queries are produced twice over:
as the query string the engine parses, and as a small tuple tree
(``("term", t)``, ``("and", [...])``, ``("or", [...])``) that the
reference evaluates without the engine's parser.

Each query mix is a list of templates.  A pool holds the same number of
distinct queries per template, laid out in whole template cycles, so any
run of ``len(templates)`` consecutive pool entries holds every template
once.
"""

from __future__ import annotations

import numpy as np

from chearch_spark.sources.corpus import synth_code_corpus

# -- dense: the shape of the test data's documents.parquet ---------------
# Measured on documents.parquet at sf0.1: 5,000 docs; 10-100 tokens per
# doc, uniform (quartiles 32 / 54 / 76); 30 common words, each in 76-79%
# of docs; `dup` in 5.0% of docs, once per doc.  The generator keeps that
# shape per doc and makes 4x the docs, so posting decode and scoring weigh
# more against the fixed cost of a query.  The file separates tokens by
# single spaces in lower case; the generator mixes separators and
# upper-cases 5% of tokens, so the tokenizer's split and lowercase run.
DENSE_WORDS = [
    "stream", "value", "spark", "data", "big", "small", "vector", "group",
    "slow", "table", "key", "column", "window", "order", "scan", "hash",
    "merge", "row", "customer", "join", "fast", "filter", "a", "the",
    "line", "part", "sort", "query", "batch", "agg",
]
DENSE_RARE = "dup"
DENSE_DOCS = 20_000
DENSE_LEN = (10, 100)
DENSE_RARE_SHARE = 0.05

# -- zipf: the in-repo synthetic code corpus ------------------------------
# `synth_code_corpus` (FIXTURES F1): Zipf(1.3) over a 2,000-word vocabulary,
# 5-200 tokens per doc, plus 256 words `pterm_{p}_{s}` held by exactly s
# docs (s = 1..32).  Strata are set by document frequency in the generated
# corpus: head words are in at least a tenth of the docs; tail words in at
# most TAIL_MAX_DF docs, so each lives in a few of the index's segments
# and prunes the rest; torso is everything between.
ZIPF_DOCS = 12_000
HEAD_MIN_SHARE = 0.1
TAIL_MAX_DF = 8

# separators between tokens; the tokenizer must split on every one of them
_SEPS = np.array([" ", " ", " ", ", ", ".\n", " (", ") ", "; "])


def absent_term(i: int) -> str:
    """A word no generated document contains."""
    return f"nx{i}absent"


def _texts(rng, token_ids, lens, words, upper_share=0.05):
    """Join each doc's tokens with mixed separators; a few tokens are
    upper-cased so lowercasing is exercised.  Token counts are unchanged
    by both, so ``lens`` stays the generator's own token count."""
    words = np.asarray(words, dtype=object)
    toks = words[token_ids]
    up = rng.random(len(toks)) < upper_share
    toks[up] = np.array([t.upper() for t in toks[up]], dtype=object)
    seps = _SEPS[rng.integers(0, len(_SEPS), size=len(toks))]
    out = []
    o = 0
    for n in lens:
        parts = [None] * (2 * n - 1)
        parts[0::2] = toks[o:o + n]
        parts[1::2] = seps[o:o + n - 1]
        out.append("".join(parts))
        o += n
    return out


def dense_corpus(rng, n_docs=DENSE_DOCS):
    """(doc_ids, texts, n_tokens) with the dense 31-word shape."""
    lens = rng.integers(DENSE_LEN[0], DENSE_LEN[1] + 1, size=n_docs)
    ids = rng.integers(0, len(DENSE_WORDS), size=int(lens.sum()))
    words = DENSE_WORDS + [DENSE_RARE]
    # one token of ~5% of docs becomes the rare word
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    rare_docs = np.flatnonzero(rng.random(n_docs) < DENSE_RARE_SHARE)
    ids[starts[rare_docs]] = len(DENSE_WORDS)
    texts = _texts(rng, ids, lens, words)
    return np.arange(n_docs, dtype=np.int64), texts, int(lens.sum())


def zipf_docs(seed, first_id, n_docs, marker=None, n_marked=0):
    """(doc_ids, texts) of ``synth_code_corpus(n_docs, seed)`` with ids
    ``first_id..``; ``marker`` (if given) is appended to ``n_marked`` of
    the docs, so a query for it returns exactly them."""
    texts = synth_code_corpus(n_docs, seed=seed)["content"].tolist()
    if marker is not None:
        rng = np.random.default_rng(seed)
        for i in rng.choice(n_docs, size=n_marked, replace=False):
            texts[i] += " " + marker
    return np.arange(first_id, first_id + n_docs, dtype=np.int64), texts


def zipf_strata(doc_freqs: dict[str, int], n_docs: int):
    """(head, torso, tail) word lists of a corpus, from its document
    frequencies (sorted, so the strata depend only on the corpus)."""
    head, torso, tail = [], [], []
    for w, df in sorted(doc_freqs.items()):
        if df >= HEAD_MIN_SHARE * n_docs:
            head.append(w)
        elif df <= TAIL_MAX_DF:
            tail.append(w)
        else:
            torso.append(w)
    return head, torso, tail


# -- query mixes ----------------------------------------------------------
def _fmt(tree) -> str:
    kind, arg = tree
    if kind == "term":
        return arg
    if kind == "and":
        return " ".join(
            f"({_fmt(c)})" if c[0] == "or" else _fmt(c) for c in arg
        )
    return " OR ".join(
        f"({_fmt(c)})" if c[0] == "and" else _fmt(c) for c in arg
    )


def _combine(kind, ts):
    # a word repeated inside one query collapses to one clause
    ts = list(dict.fromkeys(ts))
    if len(ts) == 1:
        return ("term", ts[0])
    return (kind, [("term", t) for t in ts])


def _and(*ts):
    return _combine("and", ts)


def _or(*ts):
    return _combine("or", ts)


def dense_templates(rng):
    """Templates over the common words, from 1 to 3 terms, so query costs
    form a continuum."""
    W = DENSE_WORDS

    def pick(m):
        return [str(w) for w in rng.choice(W, size=m, replace=False)]

    return [
        lambda: ("term", pick(1)[0]),
        lambda: _and(*pick(2)),
        lambda: _or(*pick(3)),
        lambda: ("or", [_and(*pick(2)), ("term", pick(1)[0])]),
        lambda: _and(pick(1)[0], DENSE_RARE),
    ]


def zipf_templates(rng, strata, mixed=True, words_per_stratum=None):
    """Templates over head, torso, tail and absent words.  Absent words
    appear only under OR, so every query scans at least one segment.
    ``mixed=False`` leaves out the query that nests AND under OR (see
    README: it fails on an index with pending deletes).
    ``words_per_stratum`` draws every query from that many fixed words per
    stratum, so a pool of many distinct queries touches few distinct
    words."""
    head, torso, tail = strata
    if words_per_stratum:
        head, torso, tail = (
            [str(w) for w in rng.choice(s, size=min(words_per_stratum, len(s)),
                                        replace=False)]
            for s in strata)

    def r(words):
        return words[int(rng.integers(0, len(words)))]

    def ab():
        return absent_term(int(rng.integers(0, 10**6)))

    templates = [
        lambda: ("term", r(tail)),
        lambda: _and(r(head), r(torso)),
        lambda: _or(r(torso), r(tail)),
        lambda: ("or", [_and(r(head), r(torso)), ("term", r(tail))]),
        lambda: _or(r(tail), r(tail), ab()),
        lambda: _or(r(head), r(torso), r(tail)),
    ]
    if not mixed:
        templates.pop(3)
    return templates


def pool(templates, per_template):
    """``per_template`` distinct (query string, tree) pairs per template,
    laid out in whole template cycles."""
    cols = []
    for make in templates:
        seen: dict[str, tuple] = {}
        tries = 0
        while len(seen) < per_template:
            tries += 1
            if tries > 100 * per_template:
                raise ValueError("template has too few distinct queries")
            tree = make()
            seen.setdefault(_fmt(tree), tree)
        cols.append(list(seen.items()))
    return [col[c] for c in range(per_template) for col in cols]
