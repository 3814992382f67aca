"""Deletes via tombstones — the LSM delete lifecycle the reference
marks TODO (`search.chpl:38-39`):

  delete_docs -> every query path excludes immediately (top-k refills)
  -> compact_stream_segments physically purges
  -> post-compaction index answers EXACTLY like a fresh build without
     the deleted docs (rank/score/byte equivalence)
  -> gc_tombstones retires tombstones nothing references
  -> fsck stays green at every step.
"""

import json
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from chearch_spark.build import _build_segment_tables, build_index
from chearch_spark.plans.query import Prefix, Term
from chearch_spark.search import Index
from chearch_spark.streaming.compact import (
    _merge_segment_tables,
    compact_stream_segments,
)
from chearch_spark.streaming.ingest import finalize_index, ingest_batch
from chearch_spark.tombstones import (
    delete_docs,
    gc_tombstones,
    load_tombstones,
)

ROWS = [
    (i, f"alpha shared w{i % 7} unique_{i:03d} tail")
    for i in range(60)
]


def _fsck(path: str) -> dict:
    out = subprocess.run(
        [sys.executable, "scripts/verify_index.py", path],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout)


@pytest.fixture()
def batch_index(spark, tmp_index_dir):
    df = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    build_index(spark, df, tmp_index_dir, num_segments=4, resume=False)
    return Index(spark, tmp_index_dir)


def test_delete_excludes_everywhere_and_refills(spark, batch_index):
    ix = batch_index
    before = ix.search(Term("alpha"), k=10).collect()
    victims = [int(r.doc_id) for r in before[:3]]
    assert delete_docs(ix.path, victims) == 3
    assert delete_docs(ix.path, victims) == 0  # idempotent
    ix.refresh()

    after = ix.search(Term("alpha"), k=10).collect()
    got = [int(r.doc_id) for r in after]
    assert not set(victims) & set(got)
    assert len(after) == 10  # top-k refilled with survivors
    # survivors keep their ranks/scores relative to each other
    survivors_before = [
        (int(r.doc_id), float(r.score))
        for r in before
        if int(r.doc_id) not in victims
    ]
    assert [(int(r.doc_id), float(r.score)) for r in after[:len(survivors_before)]] == survivors_before

    # boolean / phrase / local / batched / meta paths all exclude
    assert not set(victims) & {
        int(r.doc_id) for r in ix.match_docs(Term("alpha")).collect()
    }
    assert not set(victims) & {
        int(r.doc_id)
        for r in ix.match_phrase(["alpha", "shared"]).collect()
    }
    assert not set(victims) & {
        d for d, _ in ix.local_search(Term("alpha"), k=60)
    }
    assert ix.local_search(Term("alpha"), k=10) == [
        (int(r.doc_id), float(r.score)) for r in after
    ]
    assert not set(victims) & {
        int(r.doc_id)
        for r in ix.search_many({"q": Term("alpha")}, k=60).collect()
    }
    assert not set(victims) & {
        int(r.doc_id)
        for r in ix.search_with_meta(Term("alpha"), k=10).collect()
    }
    assert not set(victims) & {
        ext for (_t, _p, ext) in ix.local_parity_search(Term("alpha"))
    }
    # deleting every match of a term empties its results
    uniq_doc = 5
    delete_docs(ix.path, [uniq_doc])
    ix.refresh()
    assert ix.search(Term("unique_005"), k=10).count() == 0
    # fsck: tombstones are advisory, index still healthy
    rep = _fsck(ix.path)
    assert rep["status"] == "INDEX_OK"
    assert rep["tombstones_pending"] == 4


def test_index_delete_wrapper_no_full_refresh(spark, batch_index):
    """Index.delete() makes the live handle exclude at once without
    rebuilding the listing/bloom/dictionary caches."""
    ix = batch_index
    before = ix.search(Term("alpha"), k=5).collect()
    blooms_obj = ix._load_blooms()
    assert ix.delete([int(before[0].doc_id)]) == 1
    assert ix.delete([int(before[0].doc_id)]) == 0
    after = ix.search(Term("alpha"), k=5).collect()
    assert int(before[0].doc_id) not in {int(r.doc_id) for r in after}
    # caches survived (same objects — no refresh storm)
    assert ix._load_blooms() is blooms_obj


def test_wand_exclusion_is_exact(spark, batch_index):
    """Deleting docs invalidates block-max metadata for their terms;
    the kernel must fall back to admissible bounds — top-k over a
    disjunction must equal the brute-force rescoring of survivors."""
    ix = batch_index
    node = Term("alpha") | Term("shared") | Term("w3")
    full = ix.search(node, k=60).collect()
    victims = [int(full[i].doc_id) for i in (0, 3, 7, 20)]
    delete_docs(ix.path, victims)
    ix.refresh()
    got = [(int(r.doc_id), round(float(r.score), 9))
           for r in ix.search(node, k=10).collect()]
    want = [
        (int(r.doc_id), round(float(r.score), 9))
        for r in full
        if int(r.doc_id) not in victims
    ][:10]
    assert got == want


def test_compaction_purges_and_matches_fresh_build(spark, tmp_index_dir):
    """delete -> compact -> the index equals a FRESH stream build over
    the surviving docs: same stats, same docmap ids, same top-k scores
    (global stats recomputed by compaction's finalize)."""
    out = tmp_index_dir
    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    for b in range(3):
        ingest_batch(
            docs.filter(f"pmod(doc_id, 3) = {b}"), out,
            batch_id=b, num_segments=2,
        )
    finalize_index(spark, out)
    victims = [0, 7, 33, 59]
    delete_docs(out, victims)
    stats = compact_stream_segments(spark, out, num_segments=2)
    assert stats["n_docs"] == 60 - len(victims)
    ix = Index(spark, out)
    live_ids = {
        int(r.doc_id) for r in ix.docmap().select("doc_id").collect()
    }
    assert not set(victims) & live_ids  # physically gone
    rep = _fsck(out)
    assert rep["status"] == "INDEX_OK" and rep["n_docs"] == 56

    # reference: a fresh stream build over the survivors
    import tempfile

    ref = tempfile.mkdtemp(prefix="chearch_tomb_ref_")
    try:
        surv = docs.filter(
            ~docs.doc_id.isin([int(v) for v in victims])
        )
        for b in range(3):
            ingest_batch(
                surv.filter(f"pmod(doc_id, 3) = {b}"), ref,
                batch_id=b, num_segments=2,
            )
        finalize_index(spark, ref)
        rix = Index(spark, ref)
        for q in (Term("alpha"), Term("alpha") & Term("shared"),
                  Term("w3") | Term("w5"), Prefix("uni")):
            got = [(int(r.doc_id), float(r.score))
                   for r in ix.search(q, k=15).collect()]
            want = [(int(r.doc_id), float(r.score))
                    for r in rix.search(q, k=15).collect()]
            assert got == want, q
        assert ix.stats["content_fp"] == rix.stats["content_fp"]
    finally:
        import shutil

        shutil.rmtree(ref, ignore_errors=True)

    # gc: every tombstoned id is purged from all live segments here,
    # so the whole set retires
    assert load_tombstones(out).tolist() == sorted(victims)
    res = gc_tombstones(spark, out)
    assert res == {"kept": 0, "dropped": 4}
    assert load_tombstones(out).size == 0
    rep = _fsck(out)
    assert rep["tombstones_pending"] == 0


def test_gc_keeps_ids_still_live_elsewhere(spark, tmp_index_dir):
    """An id present in a BATCH segment (never compacted) must keep
    its tombstone through gc — dropping it would resurrect the doc."""
    out = tmp_index_dir
    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    build_index(spark, docs, out, num_segments=2, resume=False)
    delete_docs(out, [3, 4])
    res = gc_tombstones(spark, out)
    assert res == {"kept": 2, "dropped": 0}
    ix = Index(spark, out)
    assert not {3, 4} & {
        int(r.doc_id) for r in ix.match_docs(Term("alpha")).collect()
    }


def test_merge_with_drop_equals_direct_build_property():
    """Purging during the merge is byte-equivalent to building the
    surviving docs directly (the compaction invariant, extended to
    deletes)."""
    rng = np.random.default_rng(11)
    n = 40
    texts = [
        " ".join(
            f"t{j}" for j in rng.integers(0, 30, size=int(rng.integers(0, 40)))
        )
        for _ in range(n)
    ]
    ids = rng.permutation(500)[:n].astype("int64")
    whole = pd.DataFrame({"doc_id": ids, "text": texts})
    drop = np.sort(ids[rng.random(n) < 0.3])
    want_seg, want_map, want_sum = _build_segment_tables(
        whole[~whole["doc_id"].isin(drop)].reset_index(drop=True),
        seg_id=9, store_positions=True,
    )
    assign = rng.integers(0, 3, size=n)
    inputs = []
    for p in range(3):
        part = whole[assign == p].reset_index(drop=True)
        inputs.append(
            _build_segment_tables(part, 200 + p, True)[:2]
        )
    got_seg, got_map, got_sum = _merge_segment_tables(
        inputs, seg_id=9, drop_ext=drop
    )
    for col in want_seg.columns:
        assert got_seg[col].tolist() == want_seg[col].tolist(), col
    for col in want_map.columns:
        assert got_map[col].tolist() == want_map[col].tolist(), col
    assert got_sum == want_sum


def test_include_batch_compaction_purges_batch_index(spark, tmp_index_dir):
    """Full physical-delete lifecycle for a BATCH-built index:
    delete -> compact(include_batch=True) rewrites every live segment
    (the retire machinery of stream compaction, applied to batch
    files) -> purged docs gone, stats/scores equal a fresh build over
    the survivors, gc retires every tombstone, fsck green — including
    after a SECOND compaction GCs the retire manifest (the build
    manifest must not resurrect the retired files)."""
    out = tmp_index_dir
    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    build_index(spark, docs, out, num_segments=4, resume=False)
    victims = [2, 11, 40]
    delete_docs(out, victims)
    stats = compact_stream_segments(
        spark, out, num_segments=3, include_batch=True
    )
    assert stats["n_docs"] == 60 - len(victims)
    ix = Index(spark, out)
    live_ids = {
        int(r.doc_id) for r in ix.docmap().select("doc_id").collect()
    }
    assert not set(victims) & live_ids
    assert _fsck(out)["status"] == "INDEX_OK"
    assert gc_tombstones(spark, out) == {"kept": 0, "dropped": 3}

    import tempfile

    ref = tempfile.mkdtemp(prefix="chearch_ibatch_ref_")
    try:
        surv = docs.filter(~docs.doc_id.isin(victims))
        build_index(spark, surv, ref, num_segments=3, resume=False)
        rix = Index(spark, ref)
        for q in (Term("alpha"), Term("alpha") & Term("shared")):
            got = [(int(r.doc_id), float(r.score))
                   for r in ix.search(q, k=20).collect()]
            want = [(int(r.doc_id), float(r.score))
                    for r in rix.search(q, k=20).collect()]
            assert got == want, q
        assert ix.stats["content_fp"] == rix.stats["content_fp"]
    finally:
        import shutil

        shutil.rmtree(ref, ignore_errors=True)

    # second compaction merges the first pass's outputs and GCs its
    # manifest; the retired batch files must stay retired
    compact_stream_segments(spark, out, num_segments=2)
    rep = _fsck(out)
    assert rep["status"] == "INDEX_OK" and rep["n_docs"] == 57

    # a resumed build into the retired id space must refuse
    with pytest.raises(ValueError, match="retire"):
        build_index(spark, docs, out, num_segments=4, resume=True)
    # fresh build resets the directory (manifests cleared) and works
    build_index(spark, docs, out, num_segments=4, resume=False)
    assert Index(spark, out).n_docs == 60
    assert _fsck(out)["status"] == "INDEX_OK"


def test_include_batch_gc_retires_build_blooms(spark, tmp_index_dir):
    """After include_batch retires every batch segment, the retired
    segments' per-segment bloom files must be GC'd (stale entries
    bloat every probe) and the fsck must report no stale bloom ids."""
    import os

    from chearch_spark.build import bloom_file_path

    out = tmp_index_dir
    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    build_index(spark, docs, out, num_segments=4, resume=False)
    compact_stream_segments(spark, out, num_segments=2, include_batch=True)
    for sid in range(4):  # the retired batch segments
        assert not os.path.exists(
            bloom_file_path(os.path.join(out, "blooms"), sid)
        )
    rep = _fsck(out)
    assert rep["status"] == "INDEX_OK"
    assert rep["bloom_stale"] == [] and rep["bloom_uncovered"] == []


def test_large_tombstone_set_uses_broadcast(spark, batch_index):
    """Past _TOMB_BROADCAST_THRESHOLD ids the tombstone set ships to
    kernels as a Spark broadcast (a closure capture that size re-ships
    per task and can exceed RPC limits).  Deleting ids that were never
    indexed is legal (idempotent no-ops), so a synthetic 1M+ set
    exercises the branch cheaply; results must be unchanged except for
    the few real victims."""
    from chearch_spark import search as S

    ix = batch_index
    before = ix.search(Term("alpha"), k=10).collect()
    victims = [int(before[0].doc_id)]
    fake = np.arange(1_000_100, dtype=np.int64) + 10_000_000
    delete_docs(ix.path, np.concatenate((fake, np.array(victims))))
    ix.refresh()
    handle = ix._tomb_handle()
    assert hasattr(handle, "value"), "expected a broadcast handle"
    assert len(handle.value) > S._TOMB_BROADCAST_THRESHOLD
    after = ix.search(Term("alpha"), k=10).collect()
    assert victims[0] not in {int(r.doc_id) for r in after}
    assert len(after) == 10
    want = [
        (int(r.doc_id), round(float(r.score), 9))
        for r in before
        if int(r.doc_id) not in victims
    ]
    assert [
        (int(r.doc_id), round(float(r.score), 9)) for r in after
    ][: len(want)] == want
    # local path shares the same exclusion
    assert victims[0] not in {
        d for d, _ in ix.local_search(Term("alpha"), k=60)
    }


def test_gc_large_set_stays_off_the_driver(spark, tmp_index_dir):
    """gc over a LARGE synthetic tombstone set (1.5M ids, mostly
    never-indexed) must (a) adjudicate correctly — live ids kept,
    the rest dropped — and (b) never materialize the id set in the
    Python driver: the keep-set is computed by a Spark semi-join and
    written back by Spark, so driver-side allocations during the call
    stay in the low MBs (the old collect()-based shape allocated one
    Row per id — ~hundreds of MB at this size, GBs at the 50M valve)."""
    import tracemalloc

    out = tmp_index_dir
    docs = spark.createDataFrame(
        pd.DataFrame(ROWS, columns=["doc_id", "text"])
    )
    build_index(spark, docs, out, num_segments=2, resume=False)
    # 1.5M tombstones: ids 0..9 are live in the docmap, the rest are
    # synthetic ids no docmap row references (delete of unknown ids is
    # legal — idempotent no-op semantics)
    big = np.concatenate(
        [np.arange(10), np.arange(1_000_000, 2_490_000)]
    ).astype(np.int64)
    delete_docs(out, big)

    tracemalloc.start()
    res = gc_tombstones(spark, out)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()

    assert res == {"kept": 10, "dropped": len(big) - 10}
    assert load_tombstones(out).tolist() == list(range(10))
    # the old driver-collect shape allocated >100 MB here; the
    # distributed shape touches only file metadata on the driver
    assert peak < 16 * 1024 * 1024, f"driver allocated {peak} bytes"

    # retired ids really are queryable again only if re-ingested —
    # live ones stay excluded
    ix = Index(spark, out)
    live = {int(r.doc_id) for r in ix.match_docs(Term("alpha")).collect()}
    assert not set(range(10)) & live


# nested AND/OR shapes that score through _flat_term_scores (neither a
# pure disjunction nor a pure conjunction)
EMPTIED_SHAPES = {
    "(a b) OR c": lambda a, b, c: (a & b) | c,
    "a OR (b c)": lambda a, b, c: a | (b & c),
    "a (b OR c)": lambda a, b, c: a & (b | c),
}


@pytest.mark.parametrize("shape", sorted(EMPTIED_SHAPES))
def test_score_decoded_skips_emptied_posting_list(shape):
    """A posting list that tombstones emptied scores like a missing
    one, instead of indexing docs[-1] of an empty array."""
    from chearch_spark.search import _drop_tombstoned, _score_decoded

    node = EMPTIED_SHAPES[shape](Term("a"), Term("b"), Term("c"))
    meta_ids = np.array([10, 11, 12, 13], dtype=np.int64)
    doc_lens = np.array([3, 4, 2, 3], dtype=np.int64)
    idfs = {"a": 0.4, "b": 0.9, "c": 1.7}

    def post(*docs):
        d = np.array(docs, dtype=np.int64)
        return d, np.ones(len(d), dtype=np.int64)

    postings = {"a": post(0, 1, 2), "b": post(1, 2), "c": post(3)}
    kept, blocks = _drop_tombstoned(
        postings, {}, meta_ids, np.array([13], dtype=np.int64)
    )
    assert len(kept["c"][0]) == 0  # every doc holding c is deleted
    got = _score_decoded(node, kept, meta_ids, doc_lens, blocks, idfs, 3.0, 10)
    missing = {t: p for t, p in kept.items() if t != "c"}
    want = _score_decoded(node, missing, meta_ids, doc_lens, {}, idfs, 3.0, 10)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
    assert len(got[0]) > 0


def test_emptied_posting_list_all_paths_agree(spark, tmp_index_dir):
    """Delete every doc holding `c` in one segment (not yet compacted):
    local_search, search and search_many must not raise, must agree
    and must exclude the deleted docs."""
    rows = [
        (i, "a" + (" b" if i % 2 else "") + (" c" if i % 5 == 0 else ""))
        for i in range(80)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    build_index(spark, df, tmp_index_dir, num_segments=2, resume=False)
    ix = Index(spark, tmp_index_dir)
    seg_of = {int(r.doc_id): int(r.seg_id) for r in ix.docmap().collect()}
    c_docs = [i for i, _ in rows if i % 5 == 0]
    seg0 = seg_of[c_docs[0]]
    victims = [d for d in c_docs if seg_of[d] == seg0]
    assert len(victims) < len(c_docs)  # c survives in the other segment
    assert ix.delete(victims) == len(victims)

    queries = {
        s: f(Term("a"), Term("b"), Term("c"))
        for s, f in EMPTIED_SHAPES.items()
    }
    many = {}
    for r in ix.search_many(queries, k=100).collect():
        many.setdefault(r.query, []).append((int(r.doc_id), r.score))
    for name, q in queries.items():
        local = ix.local_search(q, k=100)
        dist = [(int(r.doc_id), r.score) for r in ix.search(q, k=100).collect()]
        assert local and not {d for d, _ in local} & set(victims), name
        for other in (dist, many[name]):
            assert [d for d, _ in other] == [d for d, _ in local], name
            assert [s for _, s in other] == pytest.approx(
                [s for _, s in local], rel=1e-12
            ), name
