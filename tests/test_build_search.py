"""End-to-end: distributed build + query vs the single-node oracle
(SURVEY.md §5 d/e: rank-identical top-k, sha256 invariant, parallelism
invariance, resumable build)."""

import os

import pandas as pd
import pytest

from chearch_spark import spec
from chearch_spark.build import build_index
from chearch_spark.oracle import OracleIndex
from chearch_spark.plans.query import And, Or, Term
from chearch_spark.search import Index

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# F2-style reference query set over the documents table vocabulary
QUERIES = {
    "q_common": Term("batch"),
    "q_common2": Term("join"),
    "q_hot": Term("the"),
    "q_rare": Term("dup"),
    "q_missing": Term("zz_missing_zz"),
    "q_and_cc": Term("merge") & Term("sort"),
    "q_and_cr": Term("batch") & Term("dup"),
    "q_and_miss": Term("batch") & Term("zz_missing_zz"),
    "q_or_cc": Term("merge") | Term("sort"),
    "q_or_cr": Term("batch") | Term("dup"),
    "q_nested1": (Term("merge") & Term("sort")) | Term("dup"),
    "q_nested2": (Term("merge") | Term("sort")) & Term("dup"),
}


@pytest.fixture(scope="module")
def corpus_pdf():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return OracleIndex.from_rows(corpus_pdf.itertuples(index=False))


@pytest.fixture(scope="module")
def index(spark, corpus_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ix"))
    df = spark.createDataFrame(corpus_pdf)
    res = build_index(spark, df, out, num_segments=4)
    assert res.n_docs == len(corpus_pdf)
    return Index(spark, out)


def _collect(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("qname", sorted(QUERIES))
def test_topk_rank_identical(index, oracle, qname):
    node = QUERIES[qname]
    got = _collect(index.search(node, k=10))
    want = oracle.search(node, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], qname
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_per_segment_dispatch_paths_identical(index):
    """r7: the shuffle-free mapInPandas kernel dispatch (small
    unsplittable segment files) and the groupBy(seg_id) fallback (any
    layout) must be row-identical on every kernel family — test
    corpora are all small, so the fallback is exercised explicitly by
    pinning the guard."""
    assert index._segments_unsplittable() is True  # small files: fast path
    node = (Term("merge") & Term("sort")) | Term("dup")

    def snap():
        return {
            "search": _collect(index.search(node, k=10)),
            "match": sorted(
                r["doc_id"] for r in index.match_docs(node).collect()
            ),
            "near": sorted(
                r["doc_id"]
                for r in index.match_near("merge", "sort", 3).collect()
            ),
            "phrase": sorted(
                r["doc_id"]
                for r in index.match_phrase(["merge", "sort"]).collect()
            ),
            "postings": sorted(
                (r["term"], r["doc_id"], r["tf"])
                for r in index.postings_df(["merge", "sort"]).collect()
            ),
            "many": sorted(
                (r["query"], r["doc_id"], r["score"])
                for r in index.search_many(
                    {"a": node, "b": Term("batch")}, k=5
                ).collect()
            ),
        }

    fast = snap()
    index._layout.segs_unsplit = False  # force the groupBy fallback
    try:
        slow = snap()
    finally:
        del index._layout.segs_unsplit  # re-derive for other tests
    assert fast == slow


def test_match_docs_sets(index, oracle):
    for node in [Term("batch"), Term("merge") & Term("sort"),
                 Term("merge") | Term("dup")]:
        got = sorted(r["doc_id"] for r in index.match_docs(node).collect())
        want = sorted(oracle.doc_ids[d] for d in oracle.doc_set(node))
        assert got == want


def test_stats_match_oracle(index, oracle):
    assert index.n_docs == oracle.n_docs
    assert index.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    st = index.term_stats(["batch", "dup", "zz_missing_zz"])
    assert st["batch"][0] == oracle.df("batch")
    assert st["dup"][0] == oracle.df("dup")
    assert "zz_missing_zz" not in st


def test_sha256_invariant(index, corpus_pdf):
    """Per-row content sha256 equality vs the source table (north rule)."""
    dm = index.docmap().select("doc_id", "sha256").toPandas()
    src = corpus_pdf.assign(
        expect=corpus_pdf["text"].map(spec.content_sha256)
    )
    merged = dm.merge(src, on="doc_id")
    assert len(merged) == len(corpus_pdf)
    assert (merged["sha256"] == merged["expect"]).all()


def test_parallelism_invariance(spark, corpus_pdf, oracle, tmp_path_factory):
    """Identical ranks at 2 vs 8 segments (SURVEY §7.3.1)."""
    node = Term("merge") | Term("sort") | Term("dup")
    results = []
    for s in (2, 8):
        out = str(tmp_path_factory.mktemp(f"ix{s}"))
        df = spark.createDataFrame(corpus_pdf)
        build_index(spark, df, out, num_segments=s)
        results.append(_collect(Index(spark, out).search(node, k=10)))
    assert results[0] == results[1]
    assert [d for d, _ in results[0]] == [d for d, _ in oracle.search(node, 10)]


def test_resumable_build(spark, corpus_pdf, tmp_path_factory):
    """Delete 2 of 4 segment files; rebuild resumes only those and the
    result is identical (north rule: checkpoint + lineage)."""
    out = str(tmp_path_factory.mktemp("ixr"))
    df = spark.createDataFrame(corpus_pdf)
    r1 = build_index(spark, df, out, num_segments=4)
    assert r1.skipped_segments == 0
    ix1 = Index(spark, out)
    before = _collect(ix1.search(Term("merge") & Term("sort"), k=10))
    os.remove(os.path.join(out, "segments", "segment-00001.parquet"))
    os.remove(os.path.join(out, "segments", "segment-00003.parquet"))
    r2 = build_index(spark, df, out, num_segments=4)
    assert r2.skipped_segments == 2
    import json

    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    resumed = [s["seg_id"] for s in manifest["segments"]
               if s["resumed_from_checkpoint"]]
    assert resumed == [0, 2]
    assert isinstance(manifest["content_fp"], int)
    after = _collect(Index(spark, out).search(Term("merge") & Term("sort"), k=10))
    assert before == after


def test_parity_mode_spark_matches_oracle(spark, tmp_path_factory):
    """Helloworld golden via the DISTRIBUTED engine (1 segment)."""
    out = str(tmp_path_factory.mktemp("ixp"))
    pdf = pd.DataFrame(
        {
            # doc 10 = "x .. t2 .. t3", doc 15 = "x .. t2" with t2@6, t3@15
            "doc_id": [10, 15],
            "text": [
                "f0 f1 f2 f3 f4 f5 t2 f7 f8 f9 f10 f11 f12 f13 f14 t3",
                "g0 g1 g2 g3 g4 g5 t2",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, num_segments=1)
    ix = Index(spark, out)
    # doc_index order is doc_id asc (10 then 15); reference emission is
    # newest-first = doc 15 first
    assert ix.parity_search(Term("t2")) == [("t2", 6, 15), ("t2", 6, 10)]
    assert ix.parity_search(Term("t3")) == [("t3", 15, 10)]
    assert ix.parity_search(Or(Term("t3"), Term("t2"))) == [
        ("t2", 6, 15), ("t3", 15, 10), ("t2", 6, 10),
    ]
    assert ix.parity_search(And(Term("t3"), Term("t2"))) == [
        ("t3", 15, 10), ("t2", 6, 10),
    ]


def test_query_term_normalization(index, oracle):
    """Raw user strings normalize through the tokenizer (probe finding:
    Term('MERGE') must match the lowercased index)."""
    up = _collect(index.search(Term("MERGE"), k=5))
    lo = _collect(index.search(Term("merge"), k=5))
    assert up == lo and len(lo) == 5
    # a multi-token term folds into the conjunction the index
    # tokenizer implies (ADVICE r5: 'covid-19'-style strings must not
    # dead-end) …
    assert _collect(index.search(Term("merge sort"), k=5)) == _collect(
        index.search(Term("merge") & Term("sort"), k=5)
    )
    # … but a term with NO indexable token still raises
    with pytest.raises(ValueError):
        index.search(Term("!!!"), k=5).collect()


@pytest.mark.parametrize("qname", sorted(QUERIES))
def test_local_search_matches_distributed(index, qname):
    """Driver-local path (reference localQuery, searchindex.chpl:71-83)
    must return byte-identical top-k to the distributed path."""
    node = QUERIES[qname]
    dist = [
        (r["doc_id"], round(r["score"], 12))
        for r in index.search(node, k=10).collect()
    ]
    local = [(d, round(s, 12)) for d, s in index.local_search(node, k=10)]
    assert local == dist, qname


def test_hot_term_skew_build(spark, tmp_path_factory):
    """Skew fixture (SURVEY.md §5 f): one term in ~60% of docs.  The
    per-segment pre-aggregation bounds the hot term's dictionary merge
    to num_segments rows; df/cf and top-k must stay exact."""
    rows = [
        (
            i,
            ("hotterm filler%d " % (i % 7)) * 3
            if i % 5 != 0
            else "cold filler%d only" % (i % 7),
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("skew_ix"))
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, num_segments=8, resume=False)
    ix = Index(spark, out)
    oracle = OracleIndex.from_rows(pdf.itertuples(index=False))

    df_stats = ix.term_stats(["hotterm"])["hotterm"]
    assert df_stats == (400, 1200)  # df = docs containing, cf = 3 per doc
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in ix.search(Term("hotterm") | Term("cold"), k=10).collect()
    ]
    want = [
        (d, round(s, 9))
        for d, s in oracle.search(Term("hotterm") | Term("cold"), k=10)
    ]
    assert got == want


def test_search_many_matches_individual(index):
    """One-job batch execution must equal per-query search exactly."""
    batch = index.search_many(QUERIES, k=10).collect()
    by_query = {}
    for r in batch:
        by_query.setdefault(r["query"], []).append(
            (r["doc_id"], round(r["score"], 12), r["rank"])
        )
    for name, node in QUERIES.items():
        want = [
            (r["doc_id"], round(r["score"], 12), i + 1)
            for i, r in enumerate(index.search(node, k=10).collect())
        ]
        assert by_query.get(name, []) == want, name


@pytest.mark.parametrize("seed", [11, 42])
def test_random_corpus_engine_vs_oracle(spark, tmp_path_factory, seed):
    """Randomized corpora (seeded): distributed engine must be
    rank-identical to the single-node oracle on every query shape."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(50)] + ["hot"] * 10
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 40))))
        for i in range(300)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp(f"rnd_ix_{seed}"))
    build_index(
        spark, spark.createDataFrame(pdf), out, num_segments=5, resume=False
    )
    ix = Index(spark, out)
    oracle = OracleIndex.from_rows(pdf.itertuples(index=False))
    queries = [
        Term("hot"),
        Term("w1"),
        Term("w1") & Term("w2"),
        Term("w1") | Term("w2"),
        (Term("w1") & Term("hot")) | Term("w3"),
        (Term("w1") | Term("w2")) & (Term("w3") | Term("hot")),
    ]
    for q in queries:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in ix.search(q, k=15).collect()
        ]
        want = [(d, round(s, 9)) for d, s in oracle.search(q, k=15)]
        assert got == want, q
        local = [(d, round(s, 9)) for d, s in ix.local_search(q, k=15)]
        assert local == want, q


def test_hot_term_merge_is_bounded_by_segments(spark, tmp_path_factory):
    """Salting evidence (north rule): per-segment pre-aggregation bounds
    ANY term — however hot — to at most num_segments rows entering the
    dictionary merge shuffle."""
    rows = [(i, "hotterm common filler") for i in range(400)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("salt_ix"))
    build_index(
        spark, spark.createDataFrame(pdf), out, num_segments=8, resume=False
    )
    seg = pd.read_parquet(os.path.join(out, "segments"))
    per_term = seg[seg["term"] == "hotterm"].groupby("term").size()
    assert int(per_term.iloc[0]) <= 8  # merge input rows, not 400


def test_empty_corpus_build_and_query(spark, tmp_path_factory):
    """Zero-doc corpus: build succeeds, all query paths return empty."""
    out = str(tmp_path_factory.mktemp("empty_ix"))
    df = spark.createDataFrame([], "doc_id long, text string")
    res = build_index(spark, df, out, num_segments=2, resume=False)
    assert res.n_docs == 0
    ix = Index(spark, out)
    assert ix.search(Term("anything"), k=5).count() == 0
    assert ix.local_search(Term("anything"), k=5) == []
    assert ix.match_docs(Term("anything")).count() == 0


def test_diff_and_prefix_extensions(index, oracle):
    """Diff (AND-NOT) and Prefix expansion: engine == oracle == local
    path; Diff scores the positive side only."""
    from chearch_spark.plans.query import Diff, Prefix

    q_diff = Term("merge") - (Term("sort") & Term("dup"))
    got = _collect(index.search(q_diff, k=10))
    want = oracle.search(q_diff, k=10)
    assert [(d, round(s, 9)) for d, s in got] == [
        (d, round(s, 9)) for d, s in want
    ]
    assert got == [
        (d, s) for d, s in index.local_search(q_diff, k=10)
    ]
    # diff doc set is a true subtraction
    a = {r.doc_id for r in index.match_docs(Term("merge")).collect()}
    b = {r.doc_id for r in index.match_docs(Term("sort")).collect()}
    d = {r.doc_id for r in index.match_docs(Term("merge") - Term("sort")).collect()}
    assert d == a - b

    # prefix expands to the OR of dictionary matches
    pref = {r.doc_id for r in index.match_docs(Prefix("mer")).collect()}
    assert pref == a  # only 'merge' starts with 'mer' in this corpus
    assert index.match_docs(Prefix("zzz")).count() == 0
    # prefix must be a valid token prefix
    import pytest as _pytest

    with _pytest.raises(ValueError):
        index.search(Prefix("not a token"), k=5)


def test_wildcard_extension(index):
    """Wildcard glob leaf (r6): dictionary-expanded like Prefix, with
    mid-token '*', single-char '?', and leading-wildcard support; the
    string form routes through the parser; expansions over the cap
    raise."""
    import pytest as _pytest

    from chearch_spark import search as S
    from chearch_spark.plans.query import Prefix, Wildcard

    # a trailing-star wildcard is exactly the Prefix expansion
    via_prefix = {r.doc_id for r in index.match_docs(Prefix("mer")).collect()}
    via_wild = {
        r.doc_id for r in index.match_docs(Wildcard("mer*")).collect()
    }
    assert via_wild == via_prefix

    # '?' = exactly one char; leading '*' scans the vocabulary
    sort_docs = {r.doc_id for r in index.match_docs(Term("sort")).collect()}
    assert {
        r.doc_id for r in index.match_docs(Wildcard("s?rt")).collect()
    } >= sort_docs
    lead = {r.doc_id for r in index.match_docs(Wildcard("*ort")).collect()}
    assert lead >= sort_docs

    # expansion set == the distributed wildcard_terms probe
    exp = index._wildcard_expansion_terms("m*e")
    probe = sorted(r.term for r in index.wildcard_terms("m*e").collect())
    assert exp == probe and all(
        t.startswith("m") and t.endswith("e") for t in exp
    )

    # string form routes through the parser to the same node
    got_str = index.match_docs("m*e").count()
    assert got_str == index.match_docs(Wildcard("m*e")).count()

    # scored form: identical to the hand-built OR of the expansion
    or_node = Term(exp[0])
    for t in exp[1:]:
        or_node = or_node | Term(t)
    assert [
        (r.doc_id, round(r.score, 9))
        for r in index.search(Wildcard("m*e"), k=10).collect()
    ] == [
        (r.doc_id, round(r.score, 9))
        for r in index.search(or_node, k=10).collect()
    ]

    # no matches degrade to the empty result, not an error
    assert index.match_docs(Wildcard("zzq*x")).count() == 0

    # cap discipline: raise, never truncate
    old = S.MAX_PREFIX_EXPANSION
    S.MAX_PREFIX_EXPANSION = 0
    try:
        with _pytest.raises(ValueError, match="expands to"):
            index.match_docs(Wildcard("m*e")).count()
    finally:
        S.MAX_PREFIX_EXPANSION = old


def test_phrase_match(spark, tmp_path_factory):
    """Positions-based exact phrase matching, incl. duplicate-term
    phrases and the 255-position cap."""
    long_tail = "pad " * 300  # pushes later tokens past position 255
    rows = [
        (0, "alpha beta gamma"),          # "alpha beta" yes
        (1, "beta alpha gamma"),          # reversed -> no
        (2, "alpha x beta"),              # gap -> no
        (3, "the the end"),               # duplicate-term phrase
        (4, long_tail + "alpha beta"),    # phrase beyond position cap
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("phrase_ix"))
    build_index(spark, spark.createDataFrame(pdf), out, num_segments=2,
                resume=False)
    ix = Index(spark, out)
    assert {r.doc_id for r in ix.match_phrase(["alpha", "beta"]).collect()} == {0}
    assert {r.doc_id for r in ix.match_phrase(["the", "the"]).collect()} == {3}
    # consecutive in doc 1 ("beta ALPHA GAMMA") but not doc 0 (gap)
    assert {r.doc_id for r in ix.match_phrase(["alpha", "gamma"]).collect()} == {1}
    assert ix.match_phrase(["gamma", "beta"]).count() == 0
    assert {r.doc_id for r in ix.match_phrase(["beta"]).collect()} == {0, 1, 2}
    # doc 4's phrase starts past MAX_POSITION: not recorded, not matched
    # (the documented 8-bit textLocation cap)


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """Shared positional-query fixture: phrase/NEAR docs + a spare."""
    rows = [
        (0, "alpha beta gamma"),
        (1, "beta alpha gamma"),
        (2, "alpha x beta"),
        (3, "the the end"),
        (4, "pad " * 300 + "alpha beta"),
        (5, "alpha q w e beta"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("pos_ix"))
    build_index(spark, spark.createDataFrame(pdf), out, num_segments=2,
                resume=False)
    return Index(spark, out)


def test_phrase_near_query_algebra(pos_index):
    """Phrase/Near leaves compose on every query path (VERDICT r5 #1):
    string form == node form == the dedicated matcher, and BM25 scores
    equal the plain AND's scores on the position-filtered doc set."""
    from chearch_spark.plans.query import Near, Phrase

    ix = pos_index
    # string form == node form == match_phrase doc set
    s_str = _collect(ix.search('"alpha beta"', k=10))
    s_node = _collect(ix.search(Phrase(("alpha", "beta")), k=10))
    assert s_str == s_node
    assert {d for d, _ in s_str} == {
        r.doc_id for r in ix.match_phrase(["alpha", "beta"]).collect()
    }
    # phrase scoring == AND scoring restricted to the phrase docs
    and_scores = dict(_collect(ix.search(Term("alpha") & Term("beta"),
                                         k=10)))
    for d, s in s_str:
        assert s == pytest.approx(and_scores[d], rel=1e-12)
    # match_docs string form == the positional matcher
    assert sorted(
        r.doc_id for r in ix.match_docs('"alpha beta"').collect()
    ) == sorted(
        r.doc_id for r in ix.match_phrase(["alpha", "beta"]).collect()
    )
    # NEAR: string form == node form == match_near
    n_str = _collect(ix.search("alpha NEAR/1 beta", k=10))
    assert n_str == _collect(ix.search(Near("alpha", "beta", 1), k=10))
    assert {d for d, _ in n_str} == {
        r.doc_id for r in ix.match_near("alpha", "beta", 1).collect()
    }
    w4 = {r.doc_id for r in ix.match_docs(Near("alpha", "beta", 4)).collect()}
    assert w4 == {
        r.doc_id for r in ix.match_near("alpha", "beta", 4).collect()
    }
    # mixed tree: Or(Phrase, Term) doc set = union of the parts
    got = {r.doc_id for r in ix.match_docs('"alpha beta" OR gamma').collect()}
    gamma = {r.doc_id for r in ix.match_docs(Term("gamma")).collect()}
    phrase = {r.doc_id for r in ix.match_phrase(["alpha", "beta"]).collect()}
    assert got == gamma | phrase


def test_phrase_near_local_and_batch_parity(pos_index):
    """Driver-local and batched paths return the distributed answer
    for positional queries (same kernel, same occ decode)."""
    from chearch_spark.plans.query import Near

    ix = pos_index
    for q in ['"alpha beta"', "alpha NEAR/1 beta",
              Near("alpha", "beta", 4), '"alpha beta" OR gamma']:
        dist = [
            (r["doc_id"], round(r["score"], 12))
            for r in ix.search(q, k=10).collect()
        ]
        local = [
            (d, round(s, 12)) for d, s in ix.local_search(q, k=10)
        ]
        assert local == dist, q
    batch = ix.search_many(
        {"p": '"alpha beta"', "n": "alpha NEAR/1 beta", "t": "gamma"},
        k=10,
    ).collect()
    per = {
        name: _collect(ix.search(q, k=10))
        for name, q in
        [("p", '"alpha beta"'), ("n", "alpha NEAR/1 beta"),
         ("t", "gamma")]
    }
    got: dict = {}
    for r in batch:
        got.setdefault(r.query, []).append((r.doc_id, r.score))
    for name, want in per.items():
        assert sorted(got.get(name, [])) == sorted(want), name


def test_search_with_snippets(spark, index, corpus_pdf):
    """Top-k + KWIC in one plan: rows = search top-k joined with the
    snippets of exactly those docs, highlight terms = the query's
    EXPANDED scoring terms (fuzzy/prefix expansions included)."""
    from chearch_spark.functions.text import snippets
    from chearch_spark.plans.query import Fuzzy

    docs = spark.createDataFrame(corpus_pdf)
    node = (Term("merge") & Term("sort")) | Term("dup")
    got = index.search_with_snippets(node, docs, k=10, width=3).collect()
    top = _collect(index.search(node, k=10))
    assert [(r.doc_id, r.score) for r in got] == top
    want_snips = {
        r.doc_id: (r.pos, r.snippet)
        for r in snippets(
            docs.filter(docs.doc_id.isin([d for d, _ in top])),
            ["merge", "sort", "dup"],
            width=3,
        ).collect()
    }
    for r in got:
        assert (r.pos, r.snippet) == want_snips[r.doc_id]
    # fuzzy query: highlight terms are the dictionary expansions, so
    # every snippet's center token is a real expansion of 'merg'
    fz = index.search_with_snippets(Fuzzy("merg"), docs, k=5, width=2)
    rows = fz.collect()
    assert rows
    exp = set(index._fuzzy_expansion_terms("merg"))
    for r in rows:
        toks = r.snippet.split()
        assert any(t in exp for t in toks), r.snippet


def test_phrase_near_tombstones(spark, tmp_path_factory):
    """Deleting a doc removes it from positional results immediately
    (pure-Phrase doc sets never resurrect tombstoned docs)."""
    rows = [(0, "alpha beta gamma"), (1, "beta alpha gamma"),
            (2, "alpha beta x")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("pos_tomb_ix"))
    build_index(spark, spark.createDataFrame(pdf), out, num_segments=2,
                resume=False)
    ix = Index(spark, out)
    assert {r.doc_id for r in ix.match_docs('"alpha beta"').collect()} == {
        0, 2,
    }
    ix.delete([0])
    assert {r.doc_id for r in ix.match_docs('"alpha beta"').collect()} == {2}
    assert [d for d, _ in _collect(ix.search('"alpha beta"', k=10))] == [2]
    assert [d for d, _ in ix.local_search('"alpha beta"', k=10)] == [2]
    # parity mode stays reference-only
    with pytest.raises(ValueError):
        ix.parity_search('"alpha beta"')


def test_search_filtered_matches_posthoc_ranking(spark, index):
    """Filtered search (Lucene fq semantics): every plan path returns
    exactly the post-hoc-filtered full ranking — the predicate
    restricts the doc set and NEVER changes a surviving doc's score or
    the (score desc, doc_id asc) order."""
    from pyspark.sql import functions as F

    meta = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_of = (
        meta.select("doc_id", "n_chars")
        .toPandas()
        .set_index("doc_id")["n_chars"]
    )
    q = (Term("merge") & Term("sort")) | Term("dup")
    full = _collect(index.search(q, k=100_000))
    exp = [(d, s) for d, s in full if n_of[d] >= 400][:7]
    assert exp, "fixture predicate matched nothing — test is vacuous"
    for mode in ("auto", "kernel", "join"):
        got = _collect(
            index.search_filtered(q, meta, "n_chars >= 400", k=7, mode=mode)
        )
        assert got == exp, mode
    # Column predicate form; and a Spark-side spot-check of fq
    # semantics: a surviving doc's filtered score == unfiltered score
    got = _collect(
        index.search_filtered(q, meta, F.col("n_chars") >= 400, k=7)
    )
    assert got == exp
    unfiltered = dict(full)
    assert all(abs(unfiltered[d] - s) < 1e-12 for d, s in got)


def test_search_filtered_plan_shapes(spark, index):
    """The kernel path plans like plain search (NO join — the include
    set rides inside the scoring kernels); the join path carries one
    left-semi hash join; both top with TakeOrderedAndProject."""
    meta = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = Term("merge") | Term("dup")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    pk = plan(index.search_filtered(q, meta, "n_chars >= 400", mode="kernel"))
    assert "Join" not in pk and "TakeOrderedAndProject" in pk
    pj = plan(index.search_filtered(q, meta, "n_chars >= 400", mode="join"))
    assert "LeftSemi" in pj and "TakeOrderedAndProject" in pj
    assert "BroadcastHashJoin" not in pj, "broad-filter join must shuffle"


def test_search_filtered_edge_cases(spark, index):
    """Empty filter -> empty result (both paths); k above the filtered
    match count returns all of them; bad mode raises; auto path
    selection honors collect_threshold (forced-join equality)."""
    meta = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = Term("merge") | Term("dup")
    for mode in ("kernel", "join"):
        assert (
            index.search_filtered(q, meta, "n_chars < 0", k=5, mode=mode)
            .count() == 0
        )
    big_k = _collect(index.search_filtered(q, meta, "n_chars >= 400", k=10**6))
    assert 0 < len(big_k) < 10**6
    # collect_threshold=0 can never collect the ids -> auto takes the
    # join path; results must be identical to the kernel path
    via_join = _collect(
        index.search_filtered(
            q, meta, "n_chars >= 400", k=7, collect_threshold=0
        )
    )
    assert via_join == _collect(
        index.search_filtered(q, meta, "n_chars >= 400", k=7, mode="kernel")
    )
    with pytest.raises(ValueError):
        index.search_filtered(q, meta, "n_chars >= 400", mode="nope")


def test_search_filtered_positional_and_tombstones(spark, tmp_path_factory):
    """Phrase queries compose with metadata filters (occurrence keys
    pass through the include restriction), and tombstoned docs stay
    excluded on both paths."""
    rows = [
        (0, "alpha beta gamma", 10),
        (1, "beta alpha gamma", 10),
        (2, "alpha beta x", 99),
        (3, "alpha beta y", 10),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "n"])
    out = str(tmp_path_factory.mktemp("filt_pos_ix"))
    build_index(
        spark, spark.createDataFrame(pdf[["doc_id", "text"]]), out,
        num_segments=2, resume=False,
    )
    meta = spark.createDataFrame(pdf)
    ix = Index(spark, out)
    for mode in ("kernel", "join"):
        got = [
            d for d, _ in _collect(
                ix.search_filtered('"alpha beta"', meta, "n = 10", k=10,
                                   mode=mode)
            )
        ]
        assert got == [0, 3], mode
    ix.delete([0])
    for mode in ("kernel", "join"):
        got = [
            d for d, _ in _collect(
                ix.search_filtered('"alpha beta"', meta, "n = 10", k=10,
                                   mode=mode)
            )
        ]
        assert got == [3], mode


@pytest.mark.parametrize("qname", ["q_or_cr", "q_nested1", "q_and_cc"])
def test_search_after_pages_tile_the_ranking(index, qname):
    """Cursor pagination: walking pages of 7 via search_after
    reconstructs the full ranking exactly — no dropped, duplicated, or
    reordered hit at any page boundary (incl. score-tie boundaries,
    which this corpus has in abundance)."""
    q = QUERIES[qname]
    full = _collect(index.search(q, k=100_000))
    paged, cur = [], None
    while True:
        page = _collect(index.search_after(q, k=7, after=cur))
        if not page:
            break
        paged.extend(page)
        cur = (page[-1][1], page[-1][0])  # cursor is (score, doc_id)
        assert len(page) == 7 or len(paged) == len(full)
    assert paged == full
    # after=None degrades to plain search
    assert _collect(index.search_after(q, k=5)) == full[:5]
    # a cursor past the last row returns an empty page
    last = (full[-1][1], full[-1][0])
    assert _collect(index.search_after(q, k=7, after=last)) == []


def test_boost_semantics(index):
    """Query-time term boosts: a single-term boost w scales every
    score by exactly w (bit-exact — the weight multiplies the idf
    before the shared kernel float path); matching is unchanged; the
    WAND disjunction path, the driver-local path, the string form,
    and the batched search_many all agree on boosted queries; and
    boost=1.0 is the identity."""
    plain = _collect(index.search(Term("merge"), k=10))
    boosted = _collect(index.search(Term("merge", 2.0), k=10))
    assert boosted == [(d, s * 2.0) for d, s in plain]

    q = Term("merge", 2.5) | Term("dup")
    qp = Term("merge") | Term("dup")
    dist = _collect(index.search(q, k=10))
    # same FULL match set as unboosted (boost never adds/removes
    # docs) ...
    assert {d for d, _ in _collect(index.search(q, k=100_000))} == {
        d for d, _ in _collect(index.search(qp, k=100_000))
    }
    # ... but not the same top-10 ranking (the boost bites)
    assert dist != _collect(index.search(qp, k=10))
    # WAND disjunction vs exact local path vs parsed string form
    assert index.local_search(q, k=10) == dist
    assert _collect(index.search("merge^2.5 OR dup", k=10)) == dist
    # boost=1 identity
    assert _collect(index.search(Term("merge", 1.0) | Term("dup"), k=10)) \
        == _collect(index.search(qp, k=10))
    # batched: two queries boosting the same term DIFFERENTLY in one
    # job each match their individual search results
    batch = index.search_many(
        {"b": "merge^2.5 OR dup", "p": "merge OR dup"}, k=10
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    assert by_q["b"] == dist
    assert by_q["p"] == _collect(index.search(qp, k=10))
    # boosts compose with cursor pagination (exact path under cursor)
    cur = (dist[4][1], dist[4][0])
    assert _collect(index.search_after(q, k=5, after=cur)) == dist[5:10]


def test_explain_score(index):
    """Lucene-style explain: per-term breakdown whose total matches
    the engine's score for the same doc (bit-exact on the exact
    scoring path; <=1e-9 on the WAND path, whose per-posting
    accumulation order may differ in the last ulp), boosts visible in
    the weighted idf, synonyms as one blended entry, unknown doc
    raises."""
    from chearch_spark.plans.query import Synonym

    for q in [
        Term("batch"),
        Term("merge") & Term("sort"),
        Term("merge", 2.0) | Term("dup"),
        Synonym(("batch", "dup")),
    ]:
        for d, s in _collect(index.search(q, k=3)):
            e = index.explain_score(q, d)
            assert abs(e["total"] - s) < 1e-9, (q, d)
            assert e["total"] == sum(
                t["contribution"] for t in e["terms"].values()
            )
    d0 = _collect(index.search(Term("batch"), k=1))[0][0]
    e1 = index.explain_score(Term("batch"), d0)
    e2 = index.explain_score(Term("batch", 2.0), d0)
    assert (
        e2["terms"]["batch"]["weighted_idf"]
        == 2.0 * e1["terms"]["batch"]["weighted_idf"]
    )
    syn = index.explain_score(Synonym(("batch", "dup")), d0)
    assert "syn(batch|dup)" in syn["terms"]
    with pytest.raises(KeyError):
        index.explain_score(Term("batch"), 10**12)


def test_rescore_semantics(index):
    """Two-phase rescoring: equals the post-hoc recompute — top-window
    of the base query re-ranked by qw*base + rw*rescore, docs outside
    the window never enter, non-matching window docs keep the base
    contribution alone."""
    q = Term("batch") | Term("dup")
    base = _collect(index.search(q, k=50))
    rs = dict(_collect(index.search(Term("merge"), k=1_000_000)))
    want = sorted(
        ((d, 1.0 * s + 2.0 * rs.get(d, 0.0), s, rs.get(d, 0.0))
         for d, s in base),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = [
        (r.doc_id, r.score, r.base_score, r.rescore_score)
        for r in index.rescore(
            q, Term("merge"), k=10, window=50, rescore_weight=2.0
        ).collect()
    ]
    assert got == want
    # a doc outside the window never enters, even with a huge rescore
    window_ids = {d for d, _ in base}
    assert all(d in window_ids for d, *_ in got)
    # empty base -> empty result
    assert index.rescore(Term("zz_missing_zz"), q, k=10).count() == 0
    with pytest.raises(ValueError, match="window"):
        index.rescore(q, Term("merge"), window=0)


def test_search_collapsed_semantics(spark, index):
    """Field collapsing: the result equals post-hoc group-dedup of the
    FULL ranking (first hit per group in rank order, then top-k) —
    incl. a group whose winner ranks below k globally; NULL groups
    collapse into one."""
    from pyspark.sql import functions as F

    q = Term("batch") | Term("dup")
    full = index.search(q, k=1_000_000).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    grp = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    want, seen = [], set()
    for r in full:
        g = grp[r.doc_id]
        if g in seen:
            continue
        seen.add(g)
        want.append((r.doc_id, r.score, g))
    want = want[:10]
    got = [
        (r.doc_id, r.score, r.lang)
        for r in index.search_collapsed(q, docs, "lang", k=10).collect()
    ]
    assert got == want
    # collapsing can't return two hits of one group, and fewer groups
    # than k means fewer rows, never padding
    langs = [g for _, _, g in got]
    assert len(langs) == len(set(langs)) <= 10


def test_top_hits_by_group_semantics(spark, index):
    """Grouped top hits: equals the post-hoc recompute from the full
    ranking (groups ranked by best hit, each cut to n_per_group), the
    n_per_group=1 projection matches search_collapsed, and NULL groups
    survive (the windows-only plan never joins on the group key)."""
    q = Term("batch") | Term("dup")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = index.search(q, k=1_000_000).collect()
    grp = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    per_group: dict = {}
    for r in full:
        per_group.setdefault(grp[r.doc_id], []).append(
            (r.doc_id, r.score)
        )
    order = sorted(
        per_group, key=lambda g: (-per_group[g][0][1], per_group[g][0][0])
    )[:3]
    want = [
        (g, gi + 1, hi + 1, d, s)
        for gi, g in enumerate(order)
        for hi, (d, s) in enumerate(per_group[g][:2])
    ]
    got = [
        (r.group, r.group_rank, r.hit_rank, r.doc_id, r.score)
        for r in index.top_hits_by_group(
            q, docs, "lang", n_groups=3, n_per_group=2
        ).collect()
    ]
    assert got == want
    # n_per_group=1 projection == search_collapsed
    one = index.top_hits_by_group(
        q, docs, "lang", n_groups=10, n_per_group=1
    ).collect()
    coll = index.search_collapsed(q, docs, "lang", k=10).collect()
    assert [(r.doc_id, r.score) for r in one] == [
        (r.doc_id, r.score) for r in coll
    ]
    # NULL groups form one group and are never join-dropped
    nmeta = docs.selectExpr(
        "doc_id", "CASE WHEN lang = 'en' THEN NULL ELSE lang END AS lang"
    )
    rows = index.top_hits_by_group(
        q, nmeta, "lang", n_groups=10, n_per_group=2
    ).collect()
    assert any(r.group is None for r in rows)
    with pytest.raises(ValueError, match="n_groups"):
        index.top_hits_by_group(q, docs, "lang", n_groups=0)
    # a doc mapped to TWO groups (duplicate meta rows) ties both
    # groups on (best score, best doc); the group key tie-break keeps
    # ranks distinct, the n_groups cut exact, and the output pinned
    top_doc, top_score = full[0].doc_id, full[0].score
    top_lang = grp[top_doc]
    dmeta = docs.select("doc_id", "lang").unionByName(
        spark.createDataFrame(
            [(top_doc, "zzgrp")], "doc_id long, lang string"
        )
    )
    two = [
        (r.group, r.group_rank, r.hit_rank, r.doc_id, r.score)
        for r in index.top_hits_by_group(
            q, dmeta, "lang", n_groups=2, n_per_group=1
        ).collect()
    ]
    assert two == [
        (top_lang, 1, 1, top_doc, top_score),
        ("zzgrp", 2, 1, top_doc, top_score),
    ]


def test_synonym_blended_scoring(index):
    """Synonym leaf: doc set equals the OR union, but scoring blends
    the group into ONE pseudo-term (tf = sum of member tfs, df = max
    member df) — verified against a hand-computed BM25 for the top
    hit; a one-member group is exactly the plain Term; the local path
    agrees; composes under AND."""
    from chearch_spark.plans.query import Synonym

    syn = Synonym(("batch", "dup"))
    orq = Term("batch") | Term("dup")
    assert {r.doc_id for r in index.match_docs(syn).collect()} == {
        r.doc_id for r in index.match_docs(orq).collect()
    }
    ss = _collect(index.search(syn, k=10))
    assert ss != _collect(index.search(orq, k=10))
    assert index.local_search(syn, k=10) == ss
    assert _collect(index.search(Synonym(("batch",)), k=5)) == _collect(
        index.search(Term("batch"), k=5)
    )
    # hand-check the top hit's blended score
    stats = index.term_stats(["batch", "dup"])
    df = max(stats["batch"][0], stats["dup"][0])
    doc = ss[0][0]
    tf = sum(
        r.tf
        for r in index.postings_df(["batch", "dup"])
        .filter(f"doc_id = {doc}")
        .collect()
    )
    dl = index.docmap().filter(f"doc_id = {doc}").collect()[0].doc_len
    idf = spec.idf(index.n_docs, df)
    denom = spec.BM25_K1 * (
        1 - spec.BM25_B + spec.BM25_B * dl / index.avgdl
    )
    assert abs(idf * tf * (spec.BM25_K1 + 1) / (tf + denom) - ss[0][1]) < 1e-9
    # composes under AND (position in the algebra, not a special case)
    both = index.search(syn & Term("sort"), k=5)
    assert both.count() >= 0
    # snippets for synonym-matched hits must use MEMBER words, not the
    # '\x00syn:' pseudo-key (which no token can match) — every hit
    # keeps its snippet row
    import pyspark.sql

    docs = pyspark.sql.SparkSession.getActiveSession().read.parquet(
        f"{SF_DIR}/documents.parquet"
    )
    sw = index.search_with_snippets(syn, docs, k=5).collect()
    assert [r.doc_id for r in sw] == [d for d, _ in ss[:5]]
    assert all(
        ("batch" in r.snippet) or ("dup" in r.snippet) for r in sw
    )


def test_random_boosted_synonym_trees_rank_identical(index, oracle):
    """Property sweep: 25 seeded random query trees mixing plain,
    boosted, and Synonym leaves under And/Or/Diff must rank- and
    score-identical between the distributed engine and the pure-python
    oracle — the new scoring semantics (weighted idf, blended
    pseudo-terms) under arbitrary composition, not just the pinned
    contract shapes."""
    import random

    from chearch_spark.plans.query import Diff, Synonym

    rng = random.Random(20260817)
    vocab = sorted(oracle.tf, key=lambda t: -len(oracle.tf[t]))[:12]
    vocab.append("zz_missing_zz")

    def leaf():
        t = rng.choice(vocab)
        r = rng.random()
        if r < 0.3:
            return Term(t, rng.choice([0.5, 1.5, 2.0, 3.0]))
        if r < 0.5:
            u = rng.choice(vocab)
            if u != t:
                return Synonym((t, u))
        return Term(t)

    def tree(depth):
        if depth == 0 or rng.random() < 0.35:
            return leaf()
        a, b = tree(depth - 1), tree(depth - 1)
        return rng.choice(
            [lambda: a & b, lambda: a | b, lambda: Diff(a, b)]
        )()

    for i in range(25):
        q = tree(2)
        got = _collect(index.search(q, k=10))
        want = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (i, q)
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), (i, q)


def test_count_semantics(index):
    """Index.count: exact unscored hit count — equals the size of the
    full scored ranking, accepts the string grammar, 0 on no match."""
    q = Term("batch") | Term("dup")
    n = index.count(q)
    assert n == len(_collect(index.search(q, k=1_000_000))) > 0
    assert index.count("batch OR dup") == n
    assert index.count(Term("zz_missing_zz")) == 0


def test_phrase_prefix_semantics(index):
    """Phrase-prefix: the string form equals the union of dedicated
    Phrase matches over the dictionary expansions of the trailing
    prefix; scored retrieval agrees across the distributed and local
    paths; every hit contains the leading word."""
    from chearch_spark.plans.query import Phrase

    exp = index._prefix_terms("so")
    assert exp, "corpus must have so-prefixed vocabulary"
    got = {r.doc_id for r in index.match_docs('"merge so*"').collect()}
    want = set()
    for t in exp:
        want |= {
            r.doc_id
            for r in index.match_docs(Phrase(("merge", t))).collect()
        }
    assert got == want and got
    assert got <= {
        r.doc_id for r in index.match_docs(Term("merge")).collect()
    }
    s1 = _collect(index.search('"merge so*"', k=10))
    assert index.local_search('"merge so*"', k=10) == s1


def test_more_like_this_semantics(spark, tmp_path_factory):
    """MLT: interesting terms ranked (tf*idf desc, term asc) with the
    optional hot-term df cap; retrieval is the plain OR search minus
    the source doc; missing source raises; termless source -> empty."""
    rows = [
        (0, "rare rare rare common shared"),
        (1, "rare shared common"),
        (2, "shared common common"),
        (3, "common"),
        (4, "unrelated words here"),
        (5, ""),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("mlt_ix"))
    build_index(spark, spark.createDataFrame(pdf), out, num_segments=2,
                resume=False)
    ix = Index(spark, out)
    meta = spark.createDataFrame(pdf)

    # df: rare=2, shared=3, common=4 over N=6.  For doc 0, tf*idf ranks
    # rare (tf3, rarest) first, then shared/common by idf
    got = ix.mlt_terms(0, meta, max_terms=3)
    assert got[0] == "rare" and set(got) == {"rare", "shared", "common"}
    # df cap: common (df 4 = 2/3 of N) drops below a 0.5 cap
    assert "common" not in ix.mlt_terms(0, meta, max_terms=3,
                                        max_df_frac=0.5)
    # min_tf: doc 0 has tf=1 for shared/common -> min_tf=2 keeps rare
    assert ix.mlt_terms(0, meta, max_terms=3, min_tf=2) == ["rare"]

    # retrieval == plain OR search over the selected terms, source out
    terms = ix.mlt_terms(0, meta, max_terms=3)
    node = Term(terms[0])
    for t in terms[1:]:
        node = Or(node, Term(t))
    exp = [(d, s) for d, s in _collect(ix.search(node, k=10)) if d != 0][:4]
    assert _collect(ix.more_like_this(0, meta, k=4, max_terms=3)) == exp
    assert 0 not in {
        d for d, _ in _collect(ix.more_like_this(0, meta, k=10))
    }

    # a source with no indexable tokens returns an EMPTY (doc_id,
    # score) frame; an absent source raises
    empty = ix.more_like_this(5, meta, k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "score"]
    with pytest.raises(ValueError, match="not in meta"):
        ix.more_like_this(99, meta, k=5)


def test_index_fsck(spark, corpus_pdf, tmp_path_factory):
    """scripts/verify_index.py validates manifest/docmap/dictionary
    consistency and detects corruption."""
    import importlib.util

    spec_ = importlib.util.spec_from_file_location(
        "verify_index",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "verify_index.py"),
    )
    vi = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(vi)

    out = str(tmp_path_factory.mktemp("fsck_ix"))
    build_index(spark, spark.createDataFrame(corpus_pdf), out,
                num_segments=4, resume=False)
    report = vi.verify(out)
    assert report["status"] == "INDEX_OK"
    assert report["n_docs"] == len(corpus_pdf)

    # stale extra file (e.g. a differently-partitioned older build)
    stale = os.path.join(out, "segments", "segment-99999.parquet")
    with open(stale, "wb") as f:
        f.write(b"junk")
    with pytest.raises(vi.IndexCorruption):
        vi.verify(out)
    os.remove(stale)

    # corruption: delete one segment file -> fsck must fail
    seg0 = os.path.join(out, "segments", sorted(
        os.listdir(os.path.join(out, "segments")))[0])
    os.remove(seg0)
    with pytest.raises(vi.IndexCorruption):
        vi.verify(out)


def test_fresh_build_clears_stale_segments(spark, corpus_pdf, tmp_path_factory):
    """resume=False into a dir holding a previous build with MORE
    segments must not leave stale files that queries would serve."""
    out = str(tmp_path_factory.mktemp("stale_ix"))
    df = spark.createDataFrame(corpus_pdf)
    build_index(spark, df, out, num_segments=8, resume=False)
    build_index(spark, df, out, num_segments=4, resume=False)
    segs = os.listdir(os.path.join(out, "segments"))
    assert len(segs) == 4
    ix = Index(spark, out)
    assert ix.n_docs == len(corpus_pdf)
    assert ix.match_docs(Term("batch")).count() == \
        ix.docmap().filter("doc_id >= 0").join(
            ix.match_docs(Term("batch")), "doc_id").count()


def test_resume_rejects_different_segment_count(spark, corpus_pdf, tmp_path_factory):
    """resume=True with a different partitioning would silently mix
    old- and new-modulus segments; it must be rejected."""
    out = str(tmp_path_factory.mktemp("guard_ix"))
    df = spark.createDataFrame(corpus_pdf)
    build_index(spark, df, out, num_segments=8, resume=False)
    with pytest.raises(ValueError, match="segment count"):
        build_index(spark, df, out, num_segments=4, resume=True)
    # matching count resumes fine (all skipped)
    r = build_index(spark, df, out, num_segments=8, resume=True)
    assert r.skipped_segments == 8


def test_dictionary_file_level_pruning(spark, tmp_path_factory):
    """The dictionary is range-partitioned with a bounds sidecar: a
    point probe must open exactly the one file whose range contains the
    term (not list/open every part file), with identical results; the
    legacy footer-scan fallback must agree after the sidecar is gone."""
    rows = [(i, f"w{i:04d}a w{i:04d}b common") for i in range(400)]
    out = str(tmp_path_factory.mktemp("dict_ix"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    build_index(spark, df, out, num_segments=32, resume=False)
    ix = Index(spark, out)

    assert os.path.exists(os.path.join(out, "dict_bounds.json"))
    bounds = ix._layout.dict_bounds
    n_files = len(bounds)
    assert n_files >= 4  # S//8 range files
    # disjoint, ordered ranges covering the vocab
    ivs = sorted(bounds.values())
    for (lo1, hi1), (lo2, _) in zip(ivs, ivs[1:]):
        assert hi1 < lo2

    touched = ix._dict_files_for(["w0123a"])
    assert len(touched) == 1
    assert ix.term_stats(["w0123a", "w0377b", "common"]) == {
        "w0123a": (1, 1), "w0377b": (1, 1), "common": (400, 400),
    }
    # prefix range probe touches only intersecting files
    pref_files = ix._dict_files_for_range("w039", "w03:")
    assert 1 <= len(pref_files) < n_files
    assert len(ix._prefix_terms("w039")) == 20

    # STALE sidecar (names files that no longer exist — crash between
    # dictionary overwrite and sidecar rewrite): must be discarded and
    # recomputed, never silently resolve present terms as absent
    import json as json_

    stale = {"files": {"part-dead.parquet": ["a", "z"]}}
    with open(os.path.join(out, "dict_bounds.json"), "w") as f:
        json_.dump(stale, f)
    ix_stale = Index(spark, out)
    assert ix_stale.term_stats(["w0123a"]) == {"w0123a": (1, 1)}

    # legacy index (no sidecar): one-time footer scan, same answers
    os.remove(os.path.join(out, "dict_bounds.json"))
    ix2 = Index(spark, out)
    assert ix2.term_stats(["w0123a"]) == {"w0123a": (1, 1)}
    assert len(ix2._dict_files_for(["w0123a"])) == 1


def test_search_with_meta_driver_path_touches_k_files(index):
    """The default (driver) form of search_with_meta must open only the
    hit segments' docmap files — O(k) opens regardless of segment count
    — and return exactly what the distributed isin-join form returns."""
    q = Term("merge") & Term("sort")
    opened = []
    orig = index._docmap_file_of

    def spy(seg_id):
        p = orig(seg_id)
        opened.append(p)
        return p

    index._docmap_file_of = spy
    try:
        got = [tuple(r) for r in index.search_with_meta(q, k=10).collect()]
    finally:
        index._docmap_file_of = orig
    assert 1 <= len(opened) <= 10
    want = [
        tuple(r)
        for r in index.search_with_meta(q, k=10, distributed=True).collect()
    ]
    assert got == want
    assert len(got) == 10


def test_partition_limit_truncation(index):
    """Reference partitionLimit parity (`search.chpl:17`): boolean mode
    returns at most N matches per segment, lowest doc_index first;
    parity mode caps occurrence rows per segment in emission order."""
    full = {r.doc_id for r in index.match_docs(Term("merge")).collect()}
    seg_of = {
        r.doc_id: r.seg_id
        for r in index.docmap().select("doc_id", "seg_id").collect()
    }
    lim = [r.doc_id for r in index.match_docs(Term("merge"), partition_limit=1).collect()]
    # exactly the lowest matching doc id of each segment that has one
    expect = {}
    for d in full:
        s = seg_of[d]
        expect[s] = min(expect.get(s, d), d)
    assert sorted(lim) == sorted(expect.values())
    assert set(lim) <= full

    rows_full = index.parity_search(Term("merge"))
    rows_lim = index.parity_search(Term("merge"), partition_limit=2)
    # <= 2 occurrence rows per segment, all drawn from the full set
    from collections import Counter

    per_seg = Counter(seg_of[doc] for (_, _, doc) in rows_lim)
    assert all(c <= 2 for c in per_seg.values())
    assert Counter(rows_lim) <= Counter(rows_full)
    want_total = sum(
        min(c, 2)
        for c in Counter(seg_of[doc] for (_, _, doc) in rows_full).values()
    )
    assert len(rows_lim) == want_total


def test_resume_recovers_segment_count_without_cfg(
    spark, corpus_pdf, tmp_path_factory
):
    """resume=True over an index whose build_config.json is lost must
    recover num_segments from the manifest — recomputing S from corpus
    size would resume existing segments under a different modulus."""
    out = str(tmp_path_factory.mktemp("nocfg_ix"))
    df = spark.createDataFrame(corpus_pdf)
    build_index(spark, df, out, num_segments=8, resume=False)
    os.remove(os.path.join(out, "build_config.json"))
    # no explicit num_segments: recovered from manifest.json -> all skip
    r = build_index(spark, df, out, resume=True)
    assert r.num_segments == 8 and r.skipped_segments == 8
    # conflicting explicit count: refused (before any cfg rewrite)
    os.remove(os.path.join(out, "build_config.json"))
    with pytest.raises(ValueError, match="recovered"):
        build_index(spark, df, out, num_segments=4, resume=True)
    assert not os.path.exists(os.path.join(out, "build_config.json"))
    # nothing to recover from: refused rather than guessed
    os.remove(os.path.join(out, "manifest.json"))
    os.remove(os.path.join(out, "stats.json"))
    with pytest.raises(ValueError, match="recover"):
        build_index(spark, df, out, resume=True)


def test_prefix_expansion_over_cap_raises(spark, tmp_path_factory, monkeypatch):
    """A prefix matching more dictionary terms than the cap must raise
    (TooManyClauses), never silently truncate the result set."""
    import chearch_spark.search as search_mod
    from chearch_spark.plans.query import Prefix

    rows = [(i, f"pre{i:03d} other") for i in range(6)]
    out = str(tmp_path_factory.mktemp("prefix_ix"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    build_index(spark, df, out, num_segments=2, resume=False)
    ix = Index(spark, out)
    monkeypatch.setattr(search_mod, "MAX_PREFIX_EXPANSION", 3)
    with pytest.raises(ValueError, match="MAX_PREFIX_EXPANSION"):
        ix.match_docs(Prefix("pre")).collect()
    # under the cap: full expansion, all docs match
    monkeypatch.setattr(search_mod, "MAX_PREFIX_EXPANSION", 64)
    assert ix.match_docs(Prefix("pre")).count() == 6


def test_match_near_semantics(spark, tmp_path_factory):
    """NEAR windows, the 255-position cap, argument validation, and
    tombstone exclusion on the proximity path."""
    import pandas as pd

    from chearch_spark.build import build_index
    from chearch_spark.search import Index
    from chearch_spark.tombstones import delete_docs

    rows = [
        (0, "alpha x beta"),              # dist 2
        (1, "alpha beta"),                # dist 1
        (2, "alpha x x x x x beta"),      # dist 6
        (3, "beta x alpha"),              # unordered, dist 2
        (4, "alpha " + "pad " * 300 + "beta"),  # beta past the 255 cap
        (5, "alpha only here"),
        (6, "beta only here"),
    ]
    out = str(tmp_path_factory.mktemp("near_ix"))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    build_index(spark, df, out, num_segments=2, resume=False)
    ix = Index(spark, out)

    def near(w):
        return {
            int(r.doc_id)
            for r in ix.match_near("alpha", "beta", window=w).collect()
        }

    assert near(1) == {1}
    assert near(2) == {0, 1, 3}
    assert near(6) == {0, 1, 2, 3}
    assert near(255) == {0, 1, 2, 3}  # doc 4's beta is past the cap
    with pytest.raises(ValueError):
        ix.match_near("alpha", "alpha")
    with pytest.raises(ValueError):
        ix.match_near("alpha", "beta", window=0)
    delete_docs(out, [1])
    ix.refresh()
    assert near(2) == {0, 3}


def test_tmp_write_litter_is_invisible_to_readers(spark, tmp_path_factory):
    """Crashed write attempts leave dot-prefixed tmp files; every
    reader (Spark scan, pyarrow dataset, listings) must skip them —
    a partial parquet must not crash scans, and a COMPLETE duplicate
    (killed between write and rename) must not double-count."""
    import os

    import pandas as pd
    import pyarrow.dataset as ds

    from chearch_spark.build import build_index
    from chearch_spark.search import Index

    out = str(tmp_path_factory.mktemp("tmplitter_ix"))
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, f"alpha w{i}") for i in range(20)],
            columns=["doc_id", "text"],
        )
    )
    build_index(spark, df, out, num_segments=2, resume=False)
    seg_dir = os.path.join(out, "segments")
    seg0 = os.path.join(seg_dir, "segment-00000.parquet")
    # a COMPLETE duplicate left by a kill between write and rename
    import shutil

    shutil.copy(seg0, os.path.join(
        seg_dir, ".segment-00000.parquet.tmp.999.deadbeef"
    ))
    # a PARTIAL write
    with open(os.path.join(
        seg_dir, ".segment-00001.parquet.tmp.999.cafebabe"
    ), "wb") as f:
        f.write(b"PAR1garbage")
    ix = Index(spark, out)
    hits = ix.match_docs(Term("alpha")).collect()
    assert len(hits) == 20  # duplicate NOT double-counted, partial NOT read
    assert len(
        ds.dataset(seg_dir, format="parquet").files
    ) == 2  # pyarrow also skips dot-files
    # fsck: litter reported, not a failure
    import json as json_
    import subprocess
    import sys

    fs = subprocess.run(
        [sys.executable, "scripts/verify_index.py", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert fs.returncode == 0, fs.stderr
    rep = json_.loads(fs.stdout)
    assert rep["status"] == "INDEX_OK"
    assert len(rep["tmp_litter"]) == 2


def test_local_cache_byte_budget_holds_under_rotation(spark, tmp_path_factory):
    """The driver-local decoded cache is LRU with a BYTE budget: a
    rotating hot-term workload (more distinct terms than the budget
    holds) keeps cache bytes <= budget the whole time, evicted terms
    reload transparently, and every answer stays identical to a
    fresh-handle baseline."""
    out = str(tmp_path_factory.mktemp("lru_ix"))
    rows = [
        (i, " ".join(f"w{j}" for j in range(i % 40, i % 40 + 12)))
        for i in range(300)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    build_index(spark, df, out, num_segments=4)

    baseline = Index(spark, out)
    want = {
        f"w{j}": baseline.local_search(Term(f"w{j}"), k=10)
        for j in range(0, 50, 3)
    }

    # a budget small enough that 17 rotating terms cannot all stay
    # resident (each term's postings decode to ~1-2 KB here)
    ix = Index(spark, out, local_cache_bytes=8 * 1024)
    for sweep in range(3):
        for j in range(0, 50, 3):
            got = ix.local_search(Term(f"w{j}"), k=10)
            assert got == want[f"w{j}"], (sweep, j)
            assert ix._layout.local_cache.total <= ix.local_cache_bytes
    # eviction actually happened (the workload exceeds the budget)
    assert len(ix._layout.local_cache) < 17 + 4  # < all terms + all metas


def test_local_search_loads_only_candidate_meta(spark, tmp_path_factory):
    """local_search decodes meta rows for the PRUNED candidate
    segments only — the per-query work is O(candidates), not
    O(resident segments)."""
    out = str(tmp_path_factory.mktemp("cand_ix"))
    rows = [(i, f"common only_{i:03d}") for i in range(64)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    build_index(spark, df, out, num_segments=8)
    ix = Index(spark, out)
    # a unique term lives in exactly one segment; after querying it,
    # only that segment's meta is cached
    hits = ix.local_search(Term("only_007"), k=5)
    assert len(hits) == 1
    metas = [k for k in ix._layout.local_cache._d if k[0] == "m"]
    assert len(metas) == 1


def test_byte_lru_skips_oversized_entries():
    """r4 judge finding #4: an entry larger than the whole budget used
    to be RETAINED (the len>1 eviction guard spared the newest entry),
    silently holding the cache over budget while that key stayed hot.
    Oversized entries are now never cached — the caller still gets its
    value, the budget invariant (total <= budget) always holds."""
    from chearch_spark.search import _ByteLRU

    c = _ByteLRU(100)
    c.put("small", "v1", 40)
    c.put("huge", "v2", 400)  # > budget: not retained
    assert c.get("huge") is None
    assert "huge" not in c
    assert c.get("small") == "v1"  # and it evicted nothing
    assert c.total == 40 <= c.budget

    # replacing an existing key with an oversized value drops the key
    # (stale data must not survive under the old accounting)
    c.put("small", "v3", 500)
    assert c.get("small") is None
    assert c.total == 0


def test_string_queries_use_full_grammar(index):
    """Strings passed to search()/match_docs() now parse through the
    full grammar (plans/parser.py): single tokens behave as before,
    and operators/markers reach the same plans as the programmatic
    API."""
    from chearch_spark.plans.query import Term

    # historical behavior unchanged: bare token == Term
    assert _collect(index.search("merge", k=10)) == _collect(
        index.search(Term("merge"), k=10)
    )
    # whitespace = AND; OR keyword; negation; fuzzy marker
    assert _collect(index.search("merge sort", k=10)) == _collect(
        index.search(Term("merge") & Term("sort"), k=10)
    )
    assert _collect(index.search("merge OR dup", k=10)) == _collect(
        index.search(Term("merge") | Term("dup"), k=10)
    )
    assert _collect(index.search("merge -sort", k=10)) == _collect(
        index.search(Term("merge") - Term("sort"), k=10)
    )
    assert _collect(index.search("merg~", k=10)) == _collect(
        index.fuzzy_search("merg", k=10)
    )
    # match_docs accepts the same strings
    a = {r.doc_id for r in index.match_docs("merge -sort").collect()}
    b = {
        r.doc_id
        for r in index.match_docs(Term("merge") - Term("sort")).collect()
    }
    assert a == b


def test_regexp_semantics(index):
    """Regexp leaf: character-class patterns equal the corresponding
    Wildcard; alternation equals the exact-term OR; scored string form
    agrees with the local path; a no-match pattern yields empty."""
    from chearch_spark.plans.query import Regexp, Wildcard

    a = {r.doc_id for r in index.match_docs(Regexp("s.rt")).collect()}
    assert a == {
        r.doc_id for r in index.match_docs(Wildcard("s?rt")).collect()
    }
    assert {
        r.doc_id for r in index.match_docs(Regexp("(batch|dup)")).collect()
    } == {
        r.doc_id
        for r in index.match_docs(Term("batch") | Term("dup")).collect()
    }
    s1 = _collect(index.search("/s.rt/ OR dup", k=10))
    assert index.local_search("/s.rt/ OR dup", k=10) == s1
    assert index.match_docs(Regexp("zzqx[0-9]+")).count() == 0


# -- scoring combinators (MinShould / DisMax / ConstantScore / Boosting) --

def _structured_queries():
    from chearch_spark.plans.query import (
        Boosting,
        ConstantScore,
        DisMax,
        MinShould,
        Synonym,
    )

    return {
        "msm_2of3": MinShould(
            (Term("batch"), Term("dup"), Term("merge")), 2
        ),
        "msm_3of4": MinShould(
            (Term("merge"), Term("sort"), Term("join"), Term("dup")), 3
        ),
        "msm_boosted_syn": MinShould(
            (Term("batch", 2.0), Synonym(("merge", "sort")), Term("dup")),
            2,
        ),
        "dismax_tie0": DisMax((Term("batch"), Term("join")), 0.0),
        "dismax_mixed": DisMax(
            (And(Term("merge"), Term("sort")), Term("dup")), 0.3
        ),
        "const_or": ConstantScore(Or(Term("batch"), Term("dup")), 1.5),
        "boosting": Boosting(
            Or(Term("batch"), Term("join")), Term("dup"), 0.4
        ),
        "nested": Boosting(
            DisMax((Term("merge"), Term("sort")), 0.5),
            Or(Term("dup"), Term("batch")),
            0.7,
        ),
    }


@pytest.mark.parametrize("qname", sorted(_structured_queries()))
def test_structured_scoring_rank_identical(index, oracle, qname):
    """Scoring combinators rank- and score-identical vs the oracle's
    structural scorer, on the distributed AND driver-local paths, with
    match_docs agreeing on the doc set."""
    q = _structured_queries()[qname]
    got = _collect(index.search(q, k=10))
    want = oracle.search(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    assert index.local_search(q, k=10) == got
    md = sorted(r.doc_id for r in index.match_docs(q).collect())
    assert md == sorted(oracle.doc_ids[d] for d in oracle.doc_set(q))


def test_structured_scoring_degenerate_identities(index):
    """m=1 == OR, m=n == AND (same docs AND scores); tie=1 DisMax over
    term clauses == the flat OR sum; ConstantScore hits all score the
    boost in doc_id order; Boosting demotes exactly the negative
    matches of the positive result."""
    from chearch_spark.plans.query import (
        Boosting,
        ConstantScore,
        DisMax,
        MinShould,
    )

    terms = (Term("merge"), Term("sort"), Term("dup"))
    assert _collect(
        index.search(MinShould(terms, 1), k=10)
    ) == _collect(index.search(Term("merge") | Term("sort") | Term("dup"), k=10))
    assert _collect(
        index.search(MinShould(terms, 3), k=10)
    ) == _collect(index.search(Term("merge") & Term("sort") & Term("dup"), k=10))
    dm = _collect(index.search(DisMax((Term("merge"), Term("dup")), 1.0), k=10))
    flat = _collect(index.search(Term("merge") | Term("dup"), k=10))
    assert [d for d, _ in dm] == [d for d, _ in flat]
    for (_, a), (_, b) in zip(dm, flat):
        assert a == pytest.approx(b, rel=1e-12)
    cs = _collect(index.search(ConstantScore(Term("batch"), 2.5), k=10))
    assert all(s == 2.5 for _, s in cs)
    assert [d for d, _ in cs] == sorted(d for d, _ in cs)
    # boosting: docs outside the negative set score exactly like the
    # positive query; docs inside are multiplied by negative_boost
    pos = dict(
        _collect(index.search(Or(Term("batch"), Term("join")), k=100000))
    )
    neg = {r.doc_id for r in index.match_docs(Term("dup")).collect()}
    bq = _collect(
        index.search(
            Boosting(Or(Term("batch"), Term("join")), Term("dup"), 0.4),
            k=100000,
        )
    )
    for d, s in bq:
        expect = pos[d] * 0.4 if d in neg else pos[d]
        assert s == pytest.approx(expect, rel=1e-12)


def test_structured_scoring_validation_and_wire():
    """Constructor validation + no CHASM opcode for combinators."""
    from chearch_spark.plans.query import (
        Boosting,
        ConstantScore,
        DisMax,
        MinShould,
        to_postfix,
    )

    with pytest.raises(ValueError):
        MinShould((Term("a"),), 1)  # needs >= 2 clauses
    with pytest.raises(ValueError):
        MinShould((Term("a"), Term("b")), 0)
    with pytest.raises(ValueError):
        MinShould((Term("a"), Term("b")), 3)
    with pytest.raises(ValueError):
        DisMax((Term("a"), Term("b")), 1.5)
    with pytest.raises(ValueError):
        ConstantScore(Term("a"), 0.0)
    with pytest.raises(ValueError):
        Boosting(Term("a"), Term("b"), 0.0)
    with pytest.raises(ValueError):
        Boosting(Term("a"), Term("b"), 1.2)
    for bad in (
        MinShould((Term("a"), Term("b")), 2),
        DisMax((Term("a"), Term("b")), 0.5),
        ConstantScore(Term("a")),
        Boosting(Term("a"), Term("b")),
    ):
        with pytest.raises(ValueError):
            to_postfix(bad)


def test_structured_explain_bit_exact(index):
    """explain_score totals are BIT-exact vs search() scores for
    combinator trees (the scalar mirror of _structural_scores), and
    positional leaves inside combinators are rejected with a clear
    error."""
    from chearch_spark.plans.query import DisMax, MinShould, Phrase

    for qname, q in sorted(_structured_queries().items()):
        if qname == "nested":
            continue  # covered below to keep the spark round-trips low
        got = _collect(index.search(q, k=3))
        for d, s in got:
            assert index.explain_score(q, d)["total"] == s, (qname, d)
    q = _structured_queries()["nested"]
    d, s = _collect(index.search(q, k=1))[0]
    assert index.explain_score(q, d)["total"] == s
    with pytest.raises(ValueError, match="positions kernel"):
        index.explain_score(
            DisMax((Phrase(("merge", "sort")), Term("dup")), 0.3), 1
        )


def test_structured_positional_clause(index, spark):
    """A Phrase clause inside DisMax/MinShould evaluates through the
    positions kernel: the doc set is the union/count over the REAL
    phrase doc set (not the bag-of-words AND), and where only the
    phrase clause matches, the score equals the phrase's flat score."""
    from chearch_spark.plans.query import DisMax, MinShould, Phrase

    ph = Phrase(("merge", "sort"))
    ph_docs = {r.doc_id for r in index.match_docs(ph).collect()}
    dup_docs = {r.doc_id for r in index.match_docs(Term("dup")).collect()}
    dm = DisMax((ph, Term("dup")), 0.0)
    assert {
        r.doc_id for r in index.match_docs(dm).collect()
    } == ph_docs | dup_docs
    ms = MinShould((ph, Term("dup"), Term("batch")), 2)
    batch_docs = {
        r.doc_id for r in index.match_docs(Term("batch")).collect()
    }
    expect = {
        d
        for d in ph_docs | dup_docs | batch_docs
        if (d in ph_docs) + (d in dup_docs) + (d in batch_docs) >= 2
    }
    assert {r.doc_id for r in index.match_docs(ms).collect()} == expect
    ph_scores = dict(_collect(index.search(ph, k=500)))
    for d, s in _collect(index.search(dm, k=500)):
        if d in ph_docs and d not in dup_docs:
            assert s == pytest.approx(ph_scores[d], rel=1e-12)


def test_structured_search_many_parity(index):
    """Combinator queries inside a search_many batch answer identically
    to their individual search() calls (shared-scan kernel path)."""
    qs = {k: v for k, v in sorted(_structured_queries().items())[:4]}
    batch = index.search_many(qs, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query, []).append((r.doc_id, r.score))
    for name, q in qs.items():
        assert by_q.get(name, []) == _collect(index.search(q, k=10)), name


def test_random_structured_trees_rank_identical(index, oracle):
    """Property sweep: 25 seeded random trees mixing ALL scoring
    combinators with boosted/synonym leaves under And/Or/Diff must
    rank- and score-identical vs the oracle."""
    import random

    from chearch_spark.plans.query import (
        Boosting,
        ConstantScore,
        Diff,
        DisMax,
        Filter,
        MinShould,
        Synonym,
    )

    rng = random.Random(20260818)
    vocab = sorted(oracle.tf, key=lambda t: -len(oracle.tf[t]))[:12]
    vocab.append("zz_missing_zz")

    def leaf():
        t = rng.choice(vocab)
        r = rng.random()
        if r < 0.25:
            return Term(t, rng.choice([0.5, 1.5, 2.0]))
        if r < 0.45:
            u = rng.choice(vocab)
            if u != t:
                return Synonym((t, u))
        return Term(t)

    def tree(depth):
        if depth == 0 or rng.random() < 0.3:
            return leaf()
        r = rng.random()
        if r < 0.18:
            n = rng.randint(2, 4)
            return MinShould(
                tuple(tree(depth - 1) for _ in range(n)), rng.randint(1, n)
            )
        if r < 0.36:
            return DisMax(
                tuple(tree(depth - 1) for _ in range(rng.randint(2, 3))),
                rng.choice([0.0, 0.3, 1.0]),
            )
        if r < 0.46:
            return ConstantScore(tree(depth - 1), rng.choice([0.7, 1.5]))
        if r < 0.56:
            return Boosting(
                tree(depth - 1), tree(depth - 1), rng.choice([0.4, 0.9])
            )
        if r < 0.62:
            # a Filter side under And/Or: restricts or widens the doc
            # set while contributing 0 — composition with every other
            # combinator rides the same sweep
            return (
                And(tree(depth - 1), Filter(tree(depth - 1)))
                if rng.random() < 0.5
                else Or(tree(depth - 1), Filter(tree(depth - 1)))
            )
        a, b = tree(depth - 1), tree(depth - 1)
        return rng.choice(
            [lambda: a & b, lambda: a | b, lambda: Diff(a, b)]
        )()

    n_structured = 0
    for i in range(25):
        q = tree(2)
        got = _collect(index.search(q, k=10))
        want = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (i, q)
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), (i, q)
        from chearch_spark.plans.query import has_structured_scoring

        n_structured += has_structured_scoring(q)
    assert n_structured >= 10  # the sweep actually exercises combinators


def test_spell_suggest_semantics(index, oracle):
    """ES term suggester (suggest_mode=missing): only unknown tokens
    get suggestions, ranked by (df desc, term asc) among terms one
    edit away; did_you_mean substitutes the best suggestion per
    unknown token and returns None when nothing needed fixing."""
    rows = index.spell_suggest("mergr sort", k=3).collect()
    assert rows and all(r.token == "mergr" for r in rows)  # 'sort' known
    # rank-1 = the df-maximal one-edit neighbor, straight from the oracle
    from chearch_spark.search import _within_one_edit

    cands = sorted(
        (
            (t, len(d))
            for t, d in oracle.tf.items()
            if t != "mergr" and _within_one_edit(t, "mergr")
        ),
        key=lambda r: (-r[1], r[0]),
    )
    assert [(r.suggestion, r.df) for r in rows] == cands[:3]
    assert rows[0].rank == 1
    dfs = [r.df for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    corrected = index.did_you_mean("mergr sort")
    assert corrected == f"{rows[0].suggestion} sort"
    assert index.did_you_mean("merge sort") is None
    # an unknown token with no near neighbor stays as typed
    assert index.spell_suggest("zzqxv", k=3).count() == 0
    assert index.did_you_mean("zzqxv merge") is None


def test_facet_cardinality_and_percentiles(spark, index, corpus_pdf):
    """ES cardinality / percentiles aggregations over the match set:
    exact forms agree with a pandas recount; approx forms return the
    same groups with plausible values (HLL rsd, t-digest accuracy)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = Term("merge") | Term("dup")
    match = {r.doc_id for r in index.match_docs(q).collect()}
    meta = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sub = meta[meta.doc_id.isin(match)]

    card = index.facet_cardinality(q, docs, ["lang"], "n_chars")
    got = {
        (r.value, r.n_distinct)
        for r in card.filter("facet = 'lang'").collect()
    }
    want = {
        (str(lang), int(g.n_chars.nunique()))
        for lang, g in sub.groupby("lang")
    }
    assert got == want

    pct = index.facet_percentiles(q, docs, ["lang"], "n_chars", (0.5,))
    for r in pct.collect():
        g = sub[sub.lang == r.value].n_chars
        assert r.val == pytest.approx(float(g.quantile(0.5)))

    # approx paths: same group keys, values within loose bounds
    acard = {
        r.value: r.n_distinct
        for r in index.facet_cardinality(
            q, docs, ["lang"], "n_chars", approx=True
        ).collect()
    }
    exact = dict(got)
    assert set(acard) == set(exact)
    for v, n in acard.items():
        assert abs(n - exact[v]) <= max(3, 0.2 * exact[v])
    apct = index.facet_percentiles(
        q, docs, ["lang"], "n_chars", (0.5,), approx=True
    )
    assert {r.value for r in apct.collect()} == set(exact)


def test_profile_diagnostics(index):
    """ES _profile flavor: plan classification, expansion and pruning
    counts, and the n_hits/upper-bound sandwich for each plan family."""
    from chearch_spark.plans.query import MinShould, Phrase, Prefix

    p = index.profile(Term("merge") | Term("dup"))
    assert p["plan"] == "wand_or" and p["n_terms"] == 2
    assert 0 < p["n_hits"] <= min(p["k"], p["match_upper_bound"])
    assert p["segments_scanned"] <= p["segments_total"]
    assert set(p["timings_ms"]) == {
        "prep", "stats_probe", "segment_pruning", "execute"
    }
    assert index.profile(Term("merge") & Term("sort"))["plan"] == (
        "conjunctive_pruned"
    )
    assert index.profile(
        MinShould((Term("merge"), Term("sort"), Term("dup")), 2)
    )["plan"] == "structural"
    assert index.profile(Phrase(("merge", "sort")))["plan"] == "positional"
    assert index.profile(Term("merge") - Term("sort"))["plan"] == (
        "docset_algebra"
    )
    # expansion visible: a prefix profile reports the expanded terms
    pp = index.profile(Prefix("mer"))
    assert pp["n_terms"] >= 1 and pp["terms_in_dictionary"] == pp["n_terms"]
    # a missing term prunes everything via the exact directory
    pm = index.profile(Term("zz_missing_zz"))
    assert pm["n_hits"] == 0 and pm["match_upper_bound"] == 0
    assert pm["segments_scanned"] == 0


def test_filter_clause_and_bool_query(index, oracle):
    """ES bool query semantics: filter restricts without scoring (a
    filtered hit scores exactly like the unfiltered must), scoring-only
    shoulds add score but never docs, msm counts shoulds, must_not
    excludes; engine == oracle throughout; filter-only root scores 0
    in doc_id order."""
    from chearch_spark.plans.query import Filter, bool_query

    # filter does not touch scores: bool(must=merge, filter=sort)
    # docset = merge AND sort, each hit scored as plain Term('merge')
    bq = bool_query(must=[Term("merge")], filter_=[Term("sort")])
    got = _collect(index.search(bq, k=200))
    m_scores = dict(_collect(index.search(Term("merge"), k=100000)))
    sort_docs = {r.doc_id for r in index.match_docs(Term("sort")).collect()}
    assert got and all(d in sort_docs for d, _ in got)
    for d, s in got:
        assert s == m_scores[d]
    # engine == oracle for the composed forms
    forms = [
        bq,
        bool_query(
            must=[Term("merge")],
            filter_=[Term("sort")],
            should=[Term("dup")],
        ),
        bool_query(
            should=[Term("merge"), Term("sort"), Term("dup")],
            minimum_should_match=2,
        ),
        bool_query(
            must=[Term("batch")],
            must_not=[Term("dup")],
        ),
        Filter(Term("merge") | Term("dup")),
    ]
    for q in forms:
        got = _collect(index.search(q, k=10))
        want = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q
        assert index.local_search(q, k=10) == got, q
    # scoring-only should: same DOCS as the bare must, scores >= it,
    # and docs with the should term strictly gain
    base = dict(_collect(index.search(Term("merge"), k=100000)))
    boosted = dict(
        _collect(
            index.search(
                bool_query(must=[Term("merge")], should=[Term("dup")]),
                k=100000,
            )
        )
    )
    assert set(base) == set(boosted)
    dup_docs = {r.doc_id for r in index.match_docs(Term("dup")).collect()}
    for d in base:
        if d in dup_docs:
            assert boosted[d] > base[d]
        else:
            assert boosted[d] == base[d]
    # filter-only root: all-zero scores, doc_id order
    fo = _collect(index.search(Filter(Term("merge")), k=10))
    assert all(s == 0.0 for _, s in fo)
    assert [d for d, _ in fo] == sorted(d for d, _ in fo)
    # validation
    with pytest.raises(ValueError, match="positive clause"):
        bool_query(must_not=[Term("merge")])
    with pytest.raises(ValueError, match="exceeds"):
        bool_query(should=[Term("a")], minimum_should_match=2)


def test_chained_near_raises(index):
    """A second infix NEAR must raise, not silently parse the literal
    term 'near' (the binary-operator trap); explicit parenthesized
    clauses remain the supported spelling, and trailing 'near' still
    parses as an ordinary term."""
    from chearch_spark.plans.parser import QueryParseError

    with pytest.raises(QueryParseError, match="chained NEAR"):
        index.search("merge NEAR/3 sort NEAR/3 dup")
    ok = index.search(
        "(merge NEAR/3 sort) AND (sort NEAR/3 dup)", k=5
    ).collect()
    assert isinstance(ok, list)
    # trailing 'near' is a term, unchanged
    a = _collect(index.search("merge NEAR/3 sort near", k=10))
    assert isinstance(a, list)


def test_search_sorted_semantics(spark, index, corpus_pdf):
    """ES sort-by-field: the match set ordered by metadata (no
    scoring); NULLs last in both directions; deterministic doc_id
    tiebreak; equals the post-hoc sort of match_docs."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = Term("merge") | Term("dup")
    match = {r.doc_id for r in index.match_docs(q).collect()}
    meta = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sub = meta[meta.doc_id.isin(match)]
    want = [
        (int(r.doc_id), int(r.n_chars))
        for r in sub.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).head(10).itertuples()
    ]
    got = [
        (r.doc_id, r.n_chars)
        for r in index.search_sorted(q, docs, "n_chars", k=10).collect()
    ]
    assert got == want
    got_asc = [
        (r.doc_id, r.n_chars)
        for r in index.search_sorted(
            q, docs, "n_chars", k=10, ascending=True
        ).collect()
    ]
    want_asc = [
        (int(r.doc_id), int(r.n_chars))
        for r in sub.sort_values(
            ["n_chars", "doc_id"], ascending=[True, True]
        ).head(10).itertuples()
    ]
    assert got_asc == want_asc


def test_refresh_rederives_split_guard(spark, corpus_pdf, tmp_path_factory):
    """refresh() re-derives the shuffle-free dispatch guard: once the
    split cap is under the segment file sizes (as after a compaction
    grows a segment past it), a refreshed Index must leave the
    partition-local path and answer exactly like a freshly opened
    one."""
    out = str(tmp_path_factory.mktemp("split_ix"))
    build_index(spark, spark.createDataFrame(corpus_pdf), out, num_segments=4)
    ix = Index(spark, out)
    q = QUERIES["q_nested1"]
    before = _collect(ix.search(q, k=10))
    assert ix._segments_unsplittable() is True
    smallest = min(
        e.stat().st_size
        for e in os.scandir(ix.seg_dir)
        if e.name.startswith("segment-")
    )
    keys = (
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.maxPartitionBytes",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, str(smallest // 2))
        ix.refresh()
        assert ix._segments_unsplittable() is False
        got = _collect(ix.search(q, k=10))
        assert got == _collect(Index(spark, out).search(q, k=10))
        assert got == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decode_segment_without_meta_raises():
    """A segment group without its META row is partial or corrupt:
    the kernel refuses it and names the segment."""
    from chearch_spark.search import _decode_segment

    pdf = pd.DataFrame(
        {
            "seg_id": [7],
            "term": ["merge"],
            "doc_ids": [b"\x00"],
            "tfs": [b"\x01"],
        }
    )
    with pytest.raises(ValueError, match="segment 7"):
        _decode_segment(pdf)


def test_snapshot_keeps_source_dir_mode(index, tmp_path):
    """A snapshot is published with the source index directory's
    permissions, not the 0700 of its temporary stage."""
    import stat

    mode = stat.S_IMODE(os.stat(index.path).st_mode)
    os.chmod(index.path, 0o755)
    try:
        dest = tmp_path / "snap"
        index.snapshot(str(dest))
        assert stat.S_IMODE(os.stat(dest).st_mode) == 0o755
    finally:
        os.chmod(index.path, mode)
