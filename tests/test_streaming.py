"""Streaming ingest: an index built incrementally from micro-batches
must answer queries identically to a batch build over the same corpus
(scores use global stats, so segmentation cannot affect ranks)."""

import json
import os
import shutil
import tempfile

import pytest

from chearch_spark.build import build_index
from chearch_spark.plans.query import Term
from chearch_spark.search import Index
from chearch_spark.streaming.ingest import (
    finalize_index,
    ingest_batch,
    stream_build,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="chearch_stream_")
    yield {
        "input": os.path.join(d, "in"),
        "stream_ix": os.path.join(d, "six"),
        "batch_ix": os.path.join(d, "bix"),
    }
    shutil.rmtree(d, ignore_errors=True)


def test_stream_build_matches_batch_build(spark, dirs):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    # two "arriving" parquet files -> two micro-batches
    os.makedirs(dirs["input"])
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(
        dirs["input"] + "/part=0"
    )
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(
        dirs["input"] + "/part=1"
    )

    stats = stream_build(
        spark,
        dirs["input"] + "/part=*",
        dirs["stream_ix"],
        num_segments=4,
    )
    build_index(
        spark, docs, dirs["batch_ix"], num_segments=4, resume=False
    )

    six = Index(spark, dirs["stream_ix"])
    bix = Index(spark, dirs["batch_ix"])
    assert six.n_docs == bix.n_docs == stats["n_docs"]
    assert six.stats["total_tokens"] == bix.stats["total_tokens"]
    # lineage identity: same corpus -> same (order-independent) global
    # content fingerprint, however the docs were segmented
    assert six.stats["content_fp"] == bix.stats["content_fp"]

    for q in (
        Term("merge"),
        Term("merge") & Term("sort"),
        (Term("merge") & Term("sort")) | Term("dup"),
    ):
        got = [(r.doc_id, round(r.score, 9)) for r in six.search(q, k=10).collect()]
        want = [(r.doc_id, round(r.score, 9)) for r in bix.search(q, k=10).collect()]
        assert got == want, q


def test_ingest_batch_replay_is_idempotent(spark, dirs):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(50)
    out = dirs["stream_ix"]
    s1 = ingest_batch(docs, out, batch_id=0, num_segments=2)
    assert sum(r.n_docs for r in s1) == 50
    assert not any(r.skipped for r in s1)
    # replay (as after a foreachBatch failure/restart): skipped, no rewrite
    s2 = ingest_batch(docs, out, batch_id=0, num_segments=2)
    assert all(r.skipped for r in s2)
    finalize_index(spark, out)
    assert Index(spark, out).n_docs == 50


def test_finalize_fingerprint_is_manifest_only(spark, dirs):
    """finalize_index must derive content_fp from the per-segment
    manifest values (O(segments) driver memory), not by materializing
    docmap sha256s on the driver: with the docmap directory removed
    entirely, the fingerprint still comes out identical."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    out = dirs["stream_ix"]
    ingest_batch(docs, out, batch_id=0, num_segments=2)
    ingest_batch(docs.limit(0), out, batch_id=1, num_segments=2)
    want = finalize_index(spark, out)["content_fp"]
    assert want != 0
    shutil.rmtree(os.path.join(out, "docmap"))
    got = finalize_index(spark, out)["content_fp"]
    assert got == want


def test_finalize_fingerprint_legacy_fallback_is_distributed(spark, dirs):
    """Segments whose manifests are gone (legacy index) fall back to a
    distributed per-segment docmap aggregation — same fingerprint."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    out = dirs["stream_ix"]
    ingest_batch(docs, out, batch_id=0, num_segments=2)
    want = finalize_index(spark, out)["content_fp"]
    for f in os.listdir(out):
        if f.startswith("manifest-batch-"):
            os.remove(os.path.join(out, f))
    got = finalize_index(spark, out)["content_fp"]
    assert got == want


def test_full_finalize_rejects_segment_without_meta(spark, dirs):
    """Full finalize counts segments twice: META rows for the stats,
    the file listing for coverage and fingerprints.  A segment file
    that lost its META row makes them disagree, and finalize must
    fail instead of publishing stats that undercount it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from chearch_spark.build import META_TERM

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    out = dirs["stream_ix"]
    ingest_batch(docs, out, batch_id=0, num_segments=2)
    finalize_index(spark, out, incremental=False)  # consistent: passes
    seg_dir = os.path.join(out, "segments")
    victim = os.path.join(
        seg_dir,
        sorted(f for f in os.listdir(seg_dir) if f.startswith("segment-"))[0],
    )
    t = pq.read_table(victim)
    pq.write_table(t.filter(pc.not_equal(t["term"], META_TERM)), victim)
    with pytest.raises(ValueError, match="META"):
        finalize_index(spark, out, incremental=False)


def test_watermarked_window_stream_matches_batch(spark, dirs):
    """Watermarked tumbling-window streaming agg: every window the
    stream finalizes (append mode) must equal the batch computation;
    only trailing windows still open at end-of-input may be missing."""
    from chearch_spark.streaming.events import (
        stream_windowed_counts,
        windowed_event_counts,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    os.makedirs(dirs["input"])
    # two files split by time -> two micro-batches in event-time order
    lo, hi = events.selectExpr("min(ts)", "max(ts)").collect()[0]
    mid = (lo + (hi - lo) / 2).isoformat(sep=" ")
    events.filter(f"ts <= '{mid}'").coalesce(1).write.parquet(
        dirs["input"] + "/part=0"
    )
    events.filter(f"ts > '{mid}'").coalesce(1).write.parquet(
        dirs["input"] + "/part=1"
    )

    got = stream_windowed_counts(
        spark, dirs["input"] + "/part=*", dirs["stream_ix"]
    )
    batch = windowed_event_counts(events)
    g = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_k)
        for r in got.collect()
    }
    b = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_k)
        for r in batch.collect()
    }
    assert g, "stream emitted no finalized windows"
    assert set(g) <= set(b)
    for key, vals in g.items():
        assert vals == b[key], key
    # everything except windows at/after the watermark cutoff was emitted
    missing = {k[0] for k in set(b) - set(g)}
    emitted = {k[0] for k in g}
    assert not missing or min(missing) >= max(emitted)


def test_sessionize_stateful_stream_matches_batch(spark, dirs):
    """applyInPandasWithState sessionization: every session the stream
    CLOSES must exist, identically aggregated, in the batch result."""
    from chearch_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    os.makedirs(dirs["input"])
    lo, hi = events.selectExpr("min(ts)", "max(ts)").collect()[0]
    mid = (lo + (hi - lo) / 2).isoformat(sep=" ")
    events.filter(f"ts <= '{mid}'").coalesce(1).write.parquet(
        dirs["input"] + "/part=0"
    )
    events.filter(f"ts > '{mid}'").coalesce(1).write.parquet(
        dirs["input"] + "/part=1"
    )

    got = sessionize_stream(
        spark, dirs["input"] + "/part=*", dirs["stream_ix"]
    )
    batch = {
        (r.user_id, r.session_start): (r.n_events, round(r.sum_value, 6))
        for r in sessionize_batch(events).collect()
    }
    emitted = {
        (r.user_id, r.session_start): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }
    assert emitted, "stream closed no sessions"
    assert set(emitted) <= set(batch)
    for key, vals in emitted.items():
        assert vals == batch[key], key


def test_stream_append_to_batch_index_no_seg_collision(spark, dirs):
    """Streamed segments must coexist with batch-built ones: ids are
    disjoint (STREAM_SEG_BASE offset), and finalize merges both."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    build_index(spark, docs.filter("doc_id < 250"), out, num_segments=4,
                resume=False)
    ingest_batch(docs.filter("doc_id >= 250"), out, batch_id=0,
                 num_segments=2)
    finalize_index(spark, out)
    ix = Index(spark, out)
    assert ix.n_docs == docs.count()
    # every doc from both halves retrievable
    full = build_index_dir = None
    got = {r.doc_id for r in ix.match_docs(Term("merge")).collect()}
    bix_out = dirs["batch_ix"]
    build_index(spark, docs, bix_out, num_segments=4, resume=False)
    want = {r.doc_id for r in Index(spark, bix_out).match_docs(
        Term("merge")).collect()}
    assert got == want


def test_compaction_preserves_results_and_bounds_segments(spark, dirs):
    """10 micro-batches × 2 partitions = 20 stream segments; after
    compaction to 4 the index must answer every query IDENTICALLY
    (scores, doc sets, phrases — positions survive the posting-algebra
    merge) with segment count ≤ 4 and identical lineage stats."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(10):
        ingest_batch(
            docs.filter(f"doc_id % 10 = {b}"), out, batch_id=b,
            num_segments=2,
        )
    before_stats = finalize_index(spark, out)
    ix0 = Index(spark, out)
    queries = [
        Term("merge"),
        Term("merge") & Term("sort"),
        (Term("merge") & Term("sort")) | Term("dup"),
    ]
    want_top = [
        [(r.doc_id, round(r.score, 9)) for r in ix0.search(q, k=10).collect()]
        for q in queries
    ]
    want_docs = {r.doc_id for r in ix0.match_docs(Term("merge")).collect()}
    want_phrase = {r.doc_id for r in ix0.match_phrase(["merge", "sort"]).collect()}

    from chearch_spark.streaming.compact import compact_stream_segments

    stats = compact_stream_segments(spark, out, num_segments=4)
    segs = [f for f in os.listdir(os.path.join(out, "segments"))]
    assert len(segs) <= 4
    assert stats["n_docs"] == before_stats["n_docs"]
    assert stats["total_tokens"] == before_stats["total_tokens"]
    assert stats["content_fp"] == before_stats["content_fp"]

    ix1 = Index(spark, out)
    for q, want in zip(queries, want_top):
        got = [
            (r.doc_id, round(r.score, 9)) for r in ix1.search(q, k=10).collect()
        ]
        assert got == want, q
    assert {r.doc_id for r in ix1.match_docs(Term("merge")).collect()} == want_docs
    assert {
        r.doc_id for r in ix1.match_phrase(["merge", "sort"]).collect()
    } == want_phrase
    # local (driver RAM) path sees the compacted layout identically
    assert [
        (d, round(s, 9)) for d, s in ix1.local_search(queries[2], k=10)
    ] == want_top[2]

    # idempotent: nothing left to compact (4 segments -> capped at 4,
    # a second pass merges 4 -> 4... must still answer identically)
    compact_stream_segments(spark, out, num_segments=4)
    ix2 = Index(spark, out)
    got = [
        (r.doc_id, round(r.score, 9))
        for r in ix2.search(queries[2], k=10).collect()
    ]
    assert got == want_top[2]


def test_compaction_leaves_batch_segments_untouched(spark, dirs):
    """Mixed index (batch build + stream appends): compaction merges
    only the stream segments; batch files are untouched."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    build_index(spark, docs.filter("doc_id < 250"), out, num_segments=4,
                resume=False)
    batch_files = {
        f: os.path.getmtime(os.path.join(out, "segments", f))
        for f in os.listdir(os.path.join(out, "segments"))
    }
    for b in range(4):
        ingest_batch(
            docs.filter(f"doc_id >= 250 and doc_id % 4 = {b}"), out,
            batch_id=b, num_segments=2,
        )
    from chearch_spark.streaming.compact import compact_stream_segments

    compact_stream_segments(spark, out, num_segments=2)
    now = {
        f: os.path.getmtime(os.path.join(out, "segments", f))
        for f in os.listdir(os.path.join(out, "segments"))
    }
    for f, mt in batch_files.items():
        assert f in now and now[f] == mt
    assert len(now) == 4 + 2
    ix = Index(spark, out)
    assert ix.n_docs == docs.count()
    got = {r.doc_id for r in ix.match_docs(Term("merge")).collect()}
    bix_out = dirs["batch_ix"]
    build_index(spark, docs, bix_out, num_segments=4, resume=False)
    want = {
        r.doc_id
        for r in Index(spark, bix_out).match_docs(Term("merge")).collect()
    }
    assert got == want


def test_compaction_crash_window_ghosts_are_excluded(spark, dirs):
    """Crash between compaction-manifest publish and old-file deletion
    leaves 'ghost' segment files on disk.  Every query path must treat
    them as dead (the manifest's replaced list is authoritative) — no
    doc may be counted twice."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(4):
        ingest_batch(docs.filter(f"doc_id % 4 = {b}"), out, batch_id=b,
                     num_segments=2)
    finalize_index(spark, out)
    ix0 = Index(spark, out)
    q = (Term("merge") & Term("sort")) | Term("dup")
    want = [(r.doc_id, round(r.score, 9)) for r in ix0.search(q, k=10).collect()]
    want_docs = sorted(
        r.doc_id for r in ix0.match_docs(Term("merge")).collect()
    )

    # snapshot the stream files, compact, then resurrect them (ghosts)
    import tempfile as tf

    snap = tf.mkdtemp(prefix="ghost_snap_")
    for sub in ("segments", "docmap"):
        os.makedirs(os.path.join(snap, sub))
        for f in os.listdir(os.path.join(out, sub)):
            shutil.copy2(os.path.join(out, sub, f),
                         os.path.join(snap, sub, f))
    from chearch_spark.streaming.compact import compact_stream_segments

    compact_stream_segments(spark, out, num_segments=2)
    for sub in ("segments", "docmap"):
        for f in os.listdir(os.path.join(snap, sub)):
            dst = os.path.join(out, sub, f)
            if not os.path.exists(dst):
                shutil.copy2(os.path.join(snap, sub, f), dst)
    shutil.rmtree(snap, ignore_errors=True)

    ghost_ix = Index(spark, out)
    # doc sets: each doc exactly once (the ghost copies are ignored)
    got_docs = [r.doc_id for r in ghost_ix.match_docs(Term("merge")).collect()]
    assert sorted(got_docs) == want_docs  # no duplicates, same set
    got = [
        (r.doc_id, round(r.score, 9))
        for r in ghost_ix.search(q, k=10).collect()
    ]
    assert got == want
    # local path and forward-map projection also ghost-free
    assert [
        (d, round(s, 9)) for d, s in ghost_ix.local_search(q, k=10)
    ] == want
    meta = ghost_ix.search_with_meta(Term("merge") & Term("sort"), k=10)
    ids = [r.doc_id for r in meta.collect()]
    assert len(ids) == len(set(ids)) == 10
    # rerunning compaction completes the deletion; fsck is green again
    compact_stream_segments(spark, out, num_segments=2)


def test_compaction_orphan_outputs_rolled_back_and_ignored(spark, dirs):
    """Crash BEFORE the compaction manifest is published leaves orphan
    output segments (compact-range ids with no manifest for their
    epoch).  Readers and finalize must ignore them (their inputs are
    all still live — counting both doubles docs), and the next
    compaction run must roll them back."""
    from chearch_spark.streaming.compact import (
        COMPACT_EPOCH_STRIDE,
        COMPACT_SEG_BASE,
        compact_stream_segments,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(3):
        ingest_batch(docs.filter(f"doc_id % 3 = {b}"), out, batch_id=b,
                     num_segments=2)
    stats0 = finalize_index(spark, out)
    ix0 = Index(spark, out)
    want_docs = sorted(r.doc_id for r in ix0.match_docs(Term("merge")).collect())

    # forge an orphan: a compact-range output whose epoch has no
    # manifest (as if the merge job finished but the publish didn't) —
    # content = a real segment, so scanning it WOULD double-count
    import pyarrow as pa
    import pyarrow.parquet as pq

    seg_dir = os.path.join(out, "segments")
    map_dir = os.path.join(out, "docmap")
    src = sorted(f for f in os.listdir(seg_dir))[0]
    src_id = int(src[len("segment-"):-len(".parquet")])
    orphan_id = COMPACT_SEG_BASE + 0 * COMPACT_EPOCH_STRIDE + 7

    def _clone_with_seg_id(src_path, dst_path):
        t = pq.read_table(src_path)
        sid_col = pa.array(
            [orphan_id] * t.num_rows, type=t.schema.field("seg_id").type
        )
        t = t.set_column(t.schema.get_field_index("seg_id"), "seg_id", sid_col)
        pq.write_table(t, dst_path)

    _clone_with_seg_id(
        os.path.join(seg_dir, src),
        os.path.join(seg_dir, f"segment-{orphan_id:09d}.parquet"),
    )
    _clone_with_seg_id(
        os.path.join(map_dir, f"docmap-{src_id:09d}.parquet"),
        os.path.join(map_dir, f"docmap-{orphan_id:09d}.parquet"),
    )

    ghost_ix = Index(spark, out)
    got = sorted(r.doc_id for r in ghost_ix.match_docs(Term("merge")).collect())
    assert got == want_docs  # orphan not scanned, no duplicates
    # finalize also ignores it (stats unchanged)
    stats1 = finalize_index(spark, out)
    assert stats1["n_docs"] == stats0["n_docs"]
    assert stats1["content_fp"] == stats0["content_fp"]
    # the next compaction rolls the orphan back, then compacts cleanly
    compact_stream_segments(spark, out, num_segments=2)
    assert not os.path.exists(
        os.path.join(seg_dir, f"segment-{orphan_id:09d}.parquet")
    )
    ix2 = Index(spark, out)
    assert sorted(
        r.doc_id for r in ix2.match_docs(Term("merge")).collect()
    ) == want_docs


def test_fsck_on_stream_and_compacted_index(spark, dirs):
    """The fsck validates stream-ingested and compacted layouts: green
    after ingest+finalize, green after compaction, and it detects a
    half-finished compaction (replaced file still on disk)."""
    import importlib.util

    spec_ = importlib.util.spec_from_file_location(
        "verify_index",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "verify_index.py"),
    )
    vi = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(vi)

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(4):
        ingest_batch(docs.filter(f"doc_id % 4 = {b}"), out, batch_id=b,
                     num_segments=2)
    finalize_index(spark, out)
    rep = vi.verify(out)
    assert rep["status"] == "INDEX_OK" and rep["segments"] == 8
    assert rep["bloom_uncovered"] == [] and rep["bloom_stale"] == []

    from chearch_spark.streaming.compact import compact_stream_segments

    compact_stream_segments(spark, out, num_segments=2)
    rep2 = vi.verify(out)
    assert rep2["status"] == "INDEX_OK" and rep2["segments"] == 2
    assert rep2["n_docs"] == rep["n_docs"]
    assert rep2["bloom_stale"] == []

    # simulate a half-finished compaction: resurrect one replaced file
    import glob as glob_

    mpath = sorted(glob_.glob(os.path.join(out, "manifest-compact-*.json")))[-1]
    with open(mpath) as f:
        replaced = json.load(f)["replaced"]
    ghost = os.path.join(out, replaced[0])
    os.makedirs(os.path.dirname(ghost), exist_ok=True)
    with open(ghost, "wb") as f:
        f.write(b"ghost")
    with pytest.raises(vi.IndexCorruption, match="pending compaction"):
        vi.verify(out)
    os.remove(ghost)
    assert vi.verify(out)["status"] == "INDEX_OK"


def test_repeated_compaction_cycles_keep_fsck_green(spark, dirs):
    """ingest → compact → ingest → compact: epoch slots recycle,
    fully-applied manifests (compact AND batch) are garbage-collected,
    and the fsck stays green with correct totals after every cycle —
    the long-running-stream maintenance loop."""
    import importlib.util

    spec_ = importlib.util.spec_from_file_location(
        "verify_index",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "verify_index.py"),
    )
    vi = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(vi)

    from chearch_spark.streaming.compact import compact_stream_segments

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(2):
        ingest_batch(docs.filter(f"doc_id % 4 = {b}"), out, batch_id=b,
                     num_segments=2)
    compact_stream_segments(spark, out, num_segments=2)
    for b in range(2, 4):
        ingest_batch(docs.filter(f"doc_id % 4 = {b}"), out, batch_id=b,
                     num_segments=2)
    stats = compact_stream_segments(spark, out, num_segments=2)
    assert stats["n_docs"] == docs.count()
    rep = vi.verify(out)
    assert rep["status"] == "INDEX_OK" and rep["segments"] == 2
    assert rep["n_docs"] == docs.count()
    # one more cycle to prove slot recycling end-to-end
    ingest_batch(
        docs.filter("doc_id % 4 = 0").selectExpr(
            "doc_id + 50000 as doc_id", "text"
        ),
        out, batch_id=4, num_segments=2,
    )
    stats2 = compact_stream_segments(spark, out, num_segments=2)
    rep2 = vi.verify(out)
    assert rep2["status"] == "INDEX_OK"
    assert rep2["n_docs"] == stats2["n_docs"] == stats["n_docs"] + docs.count() // 4
    ix = Index(spark, out)
    got = {r.doc_id for r in ix.match_docs(Term("merge")).collect()}
    assert len(got) > 0 and all(isinstance(d, int) for d in got)


@pytest.mark.parametrize("seed", [11, 29])
def test_random_stream_lifecycle_vs_oracle(spark, dirs, seed):
    """Randomized corpora through the FULL online lifecycle — random
    micro-batch splits → ingest → finalize → compact — must be
    rank-identical to the single-node oracle on every query shape,
    exactly like the batch build is."""
    import numpy as np
    import pandas as pd

    from chearch_spark.oracle import OracleIndex
    from chearch_spark.streaming.compact import compact_stream_segments

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(50)] + ["hot"] * 10
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 40))))
        for i in range(300)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = dirs["stream_ix"]
    n_batches = int(rng.integers(2, 5))
    assign = rng.integers(0, n_batches, len(pdf))
    df = spark.createDataFrame(pdf)
    for b in range(n_batches):
        batch_ids = [int(i) for i in pdf["doc_id"][assign == b]]
        ingest_batch(
            df.filter(df.doc_id.isin(batch_ids)), out, batch_id=b,
            num_segments=int(rng.integers(1, 4)),
        )
    finalize_index(spark, out)
    compact_stream_segments(spark, out, num_segments=3)
    ix = Index(spark, out)
    oracle = OracleIndex.from_rows(pdf.itertuples(index=False))
    for q in (
        Term("hot"),
        Term("w1") & Term("w2"),
        (Term("w1") & Term("hot")) | Term("w3"),
        (Term("w1") | Term("w2")) & (Term("w3") | Term("hot")),
    ):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in ix.search(q, k=15).collect()
        ]
        want = [(d, round(s, 9)) for d, s in oracle.search(q, k=15)]
        assert got == want, q
        local = [(d, round(s, 9)) for d, s in ix.local_search(q, k=15)]
        assert local == want, q


def test_batch_resume_over_mixed_index_keeps_global_stats(spark, dirs):
    """Re-running build_index(resume=True) on an index that ALSO holds
    stream segments must not regress stats.json to batch-only totals —
    queries scan every segment, so a batch-only N/avgdl would shift
    every BM25 score."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    build_index(spark, docs.filter("doc_id < 250"), out, num_segments=4,
                resume=False)
    ingest_batch(docs.filter("doc_id >= 250"), out, batch_id=0,
                 num_segments=2)
    finalize_index(spark, out)
    # batch resume (e.g. an orchestrator re-runs the build step): all
    # batch segments skip, but the snapshot must still cover everything
    r = build_index(spark, docs.filter("doc_id < 250"), out, resume=True)
    assert r.skipped_segments == 4
    assert r.n_docs == docs.count()  # 500, not 250
    ix = Index(spark, out)
    assert ix.n_docs == docs.count()
    # scores equal a single batch build over the full corpus (global
    # stats identical, segmentation irrelevant)
    bix_out = dirs["batch_ix"]
    build_index(spark, docs, bix_out, num_segments=4, resume=False)
    bix = Index(spark, bix_out)
    q = (Term("merge") & Term("sort")) | Term("dup")
    got = [(r_.doc_id, round(r_.score, 9)) for r_ in ix.search(q, k=10).collect()]
    want = [(r_.doc_id, round(r_.score, 9)) for r_ in bix.search(q, k=10).collect()]
    assert got == want


def test_stream_empty_result_windows(spark, dirs):
    """All input inside one window -> append mode emits nothing; the
    runner must return an empty typed frame, not crash."""
    from chearch_spark.streaming.events import stream_windowed_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lo = events.selectExpr("min(ts)").collect()[0][0]
    hi = lo.isoformat(sep=" ")
    os.makedirs(dirs["input"])
    events.filter(f"ts <= '{hi}'").coalesce(1).write.parquet(
        dirs["input"] + "/part=0"
    )
    got = stream_windowed_counts(
        spark, dirs["input"] + "/part=*", dirs["stream_ix"]
    )
    assert got.count() == 0


def test_incremental_finalize_equals_full(spark, dirs, monkeypatch):
    """Incremental finalize (scan only uncovered segments + merge with
    the existing dictionary) must produce EXACTLY the full
    re-aggregation's dictionary and stats after every batch — with a
    tiny DICT_SEGS_CAP so the hot-term NULL merges (old NULL, new
    NULL, union overflow) are all exercised — and must fall back
    cleanly after a compaction retires covered segments."""
    import pandas as pd

    from chearch_spark import spec
    from chearch_spark.streaming.compact import compact_stream_segments
    from chearch_spark.streaming.ingest import _finalize_incremental

    monkeypatch.setattr(spec, "DICT_SEGS_CAP", 2)

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    inc, full = dirs["stream_ix"], dirs["batch_ix"]

    def _dict_rows(path):
        import pyarrow.dataset as ds

        t = (
            ds.dataset(os.path.join(path, "dictionary"), format="parquet")
            .to_table()
            .to_pandas()
            .sort_values("term")
            .reset_index(drop=True)
        )
        t["segs"] = t["segs"].map(
            lambda v: None if v is None else sorted(int(x) for x in v)
        )
        return t

    def _stats(path):
        with open(os.path.join(path, "stats.json")) as f:
            return json.load(f)

    for b in range(4):
        for out in (inc, full):
            ingest_batch(
                docs.filter(f"pmod(doc_id, 4) = {b}"), out,
                batch_id=b, num_segments=2,
            )
        finalize_index(spark, inc)  # b=0: falls back (no snapshot yet)
        finalize_index(spark, full, incremental=False)
        di, df_ = _dict_rows(inc), _dict_rows(full)
        pd.testing.assert_frame_equal(di, df_)
        assert _stats(inc) == _stats(full)
        if b > 0:
            # the fast path actually engages once a snapshot exists
            from chearch_spark.streaming.compact import replaced_seg_ids
            from chearch_spark.streaming.ingest import _seg_files

            live = {
                s
                for s in _seg_files(os.path.join(inc, "segments"))
                if s not in replaced_seg_ids(inc)
            }
            assert _finalize_incremental(spark, inc, live) is not None

    # some term must actually be NULL-capped for the merge test to bite
    assert (_dict_rows(inc)["segs"].isna()).any()

    # query equality through the incremental snapshots
    qi = {r.doc_id for r in Index(spark, inc).match_docs(Term("merge")).collect()}
    qf = {r.doc_id for r in Index(spark, full).match_docs(Term("merge")).collect()}
    assert qi == qf

    # compaction retires covered ids -> incremental must decline...
    compact_stream_segments(spark, inc, num_segments=2, finalize=False)
    from chearch_spark.streaming.compact import replaced_seg_ids
    from chearch_spark.streaming.ingest import _seg_files

    live = {
        s
        for s in _seg_files(os.path.join(inc, "segments"))
        if s not in replaced_seg_ids(inc)
    }
    assert _finalize_incremental(spark, inc, live) is None
    # ...and finalize_index(incremental=True) still lands correctly
    compact_stream_segments(spark, full, num_segments=2, finalize=False)
    finalize_index(spark, inc)
    finalize_index(spark, full, incremental=False)
    pd.testing.assert_frame_equal(_dict_rows(inc), _dict_rows(full))
    assert _stats(inc) == _stats(full)

    # post-compaction snapshot exists again -> next batch goes fast
    for out in (inc, full):
        ingest_batch(
            docs.filter("pmod(doc_id, 4) = 1"), out,
            batch_id=9, num_segments=2,
        )
    finalize_index(spark, inc)
    finalize_index(spark, full, incremental=False)
    pd.testing.assert_frame_equal(_dict_rows(inc), _dict_rows(full))
    assert _stats(inc) == _stats(full)


@pytest.mark.parametrize("seed", [3, 19])
def test_random_delete_lifecycle_vs_oracle(spark, dirs, seed):
    """Randomized corpora through the full DELETE lifecycle, checked
    against the single-node oracle at every phase with the PINNED
    semantics of each phase:

    * after delete, before compaction: deleted docs excluded from
      results, scores computed with the last snapshot's (stale) stats
      — i.e. exactly the full-corpus oracle's results minus deleted
      docs;
    * after compaction (physical purge) + finalize: scores equal an
      oracle over the SURVIVORS (stats recomputed);
    * repeated across two delete/compact rounds, with fsck + gc at the
      end.
    """
    import numpy as np
    import pandas as pd

    from chearch_spark.oracle import OracleIndex
    from chearch_spark.streaming.compact import compact_stream_segments
    from chearch_spark.tombstones import delete_docs, gc_tombstones

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(40)] + ["hot"] * 8
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 30))))
        for i in range(240)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = dirs["stream_ix"]
    df = spark.createDataFrame(pdf)
    n_batches = int(rng.integers(2, 4))
    assign = rng.integers(0, n_batches, len(pdf))
    for b in range(n_batches):
        ids = [int(i) for i in pdf["doc_id"][assign == b]]
        ingest_batch(
            df.filter(df.doc_id.isin(ids)), out, batch_id=b,
            num_segments=int(rng.integers(1, 4)),
        )
    finalize_index(spark, out)

    queries = (
        Term("hot"),
        Term("w1") & Term("w2"),
        (Term("w1") & Term("hot")) | Term("w3"),
    )
    alive = set(pdf["doc_id"].tolist())
    for _round in range(2):
        victims = set(
            int(v)
            for v in rng.choice(
                sorted(alive), size=int(rng.integers(5, 40)), replace=False
            )
        )
        delete_docs(out, sorted(victims))
        alive -= victims
        ix = Index(spark, out)
        # phase 1: stale stats, deleted docs excluded
        oracle_full = OracleIndex.from_rows(
            pdf[pdf["doc_id"].isin(
                alive | victims | set()
            )].itertuples(index=False)
        )
        for q in queries:
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in ix.search(q, k=12).collect()
            ]
            want = [
                (d, round(s, 9))
                for d, s in oracle_full.search(q, k=500)
                if d in alive
            ][:12]
            assert got == want, ("pre-compact", q)
            assert [
                (d, round(s, 9)) for d, s in ix.local_search(q, k=12)
            ] == want, ("pre-compact local", q)
        # phase 2: physical purge + fresh stats
        compact_stream_segments(
            spark, out, num_segments=int(rng.integers(1, 4))
        )
        ix = Index(spark, out)
        oracle_live = OracleIndex.from_rows(
            pdf[pdf["doc_id"].isin(alive)].itertuples(index=False)
        )
        for q in queries:
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in ix.search(q, k=12).collect()
            ]
            want = [(d, round(s, 9)) for d, s in oracle_live.search(q, k=12)]
            assert got == want, ("post-compact", q)
        # the pdf "full oracle" for the NEXT round is the live corpus
        pdf = pdf[pdf["doc_id"].isin(alive)].reset_index(drop=True)

    assert gc_tombstones(spark, out)["kept"] == 0
    fs = __import__("subprocess").run(
        [__import__("sys").executable, "scripts/verify_index.py", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert fs.returncode == 0, fs.stderr


def test_ingest_batch_id_space_and_replay_guards(spark, dirs):
    """int32 id-space overflow raises instead of silently wrapping to
    a negative seg_id; a replayed batch with a different partition
    count or positions flag is refused (double-count hazard)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(30)
    out = dirs["stream_ix"]
    with pytest.raises(ValueError, match="id space"):
        ingest_batch(docs, out, batch_id=10_738, num_segments=2)
    with pytest.raises(ValueError, match="id space"):
        ingest_batch(docs, out, batch_id=-1, num_segments=2)
    ingest_batch(docs, out, batch_id=10_737, num_segments=2)  # last valid
    with pytest.raises(ValueError, match="replay"):
        ingest_batch(docs, out, batch_id=10_737, num_segments=3)
    with pytest.raises(ValueError, match="replay"):
        ingest_batch(
            docs, out, batch_id=10_737, num_segments=2,
            store_positions=False,
        )
    # a faithful replay is still idempotent
    s = ingest_batch(docs, out, batch_id=10_737, num_segments=2)
    assert all(r.skipped for r in s)


def test_incremental_finalize_declines_after_coverage_invalidated(
    spark, dirs
):
    """Crash window between the dictionary overwrite and the coverage
    rewrite: write_dictionary removes dict_coverage.json FIRST, so a
    crash leaves no coverage and the next finalize takes the full
    (always correct) path instead of double-merging."""
    import os

    from chearch_spark.streaming.ingest import (
        _finalize_incremental,
        _seg_files,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(2):
        ingest_batch(
            docs.filter(f"pmod(doc_id, 2) = {b}"), out,
            batch_id=b, num_segments=2,
        )
    finalize_index(spark, out)
    # simulate the crash: coverage gone, dictionary present
    os.remove(os.path.join(out, "dict_coverage.json"))
    live = set(_seg_files(os.path.join(out, "segments")))
    assert _finalize_incremental(spark, out, live) is None
    stats = finalize_index(spark, out)  # full fallback, correct
    assert stats["n_docs"] == docs.count()


def test_ingest_landing_during_compaction_survives(spark, dirs, monkeypatch):
    """The compaction docstring's concurrency claim, made deterministic:
    a micro-batch that lands AFTER compaction takes its input snapshot
    (but before it publishes) must survive untouched — its segments
    stay live, its docs are served exactly once next to the compacted
    outputs, its bloom file survives the bloom GC, and the fsck stays
    green.  Simulated by running the late ingest inside the snapshot
    hook itself."""
    import numpy as np

    from chearch_spark.streaming import compact as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dirs["stream_ix"]
    for b in range(2):
        ingest_batch(
            docs.filter(f"pmod(doc_id, 3) = {b}"), out,
            batch_id=b, num_segments=2,
        )
    finalize_index(spark, out)

    real = C._stream_seg_ids
    fired = {"done": False}

    def snapshot_then_late_ingest(seg_dir):
        ids = real(seg_dir)
        if not fired["done"]:
            fired["done"] = True
            # batch 2 lands between the snapshot and the publish
            ingest_batch(
                docs.filter("pmod(doc_id, 3) = 2"), out,
                batch_id=2, num_segments=2,
            )
        return ids

    monkeypatch.setattr(C, "_stream_seg_ids", snapshot_then_late_ingest)
    C.compact_stream_segments(spark, out, num_segments=2)
    monkeypatch.setattr(C, "_stream_seg_ids", real)

    ix = Index(spark, out)
    # every doc served exactly once (late batch next to compacted)
    got = sorted(
        int(r.doc_id) for r in ix.docmap().select("doc_id").collect()
    )
    want = sorted(int(r.doc_id) for r in docs.collect())
    assert got == want
    # the late batch's segments are LIVE stream segments, not replaced
    from chearch_spark.streaming.ingest import STREAM_SEG_BASE

    live = ix._all_seg_ids()
    late = [s for s in live if s >= STREAM_SEG_BASE + 2 * 100_000]
    assert len(late) == 2
    # ...and still bloom-covered (the GC must not delete a bloom file
    # that covers post-snapshot segments)
    assert set(late) <= set(ix._load_blooms())
    # rank-identical to a batch build over the same corpus
    bix_out = dirs["batch_ix"]
    build_index(spark, docs, bix_out, num_segments=4, resume=False)
    bix = Index(spark, bix_out)
    q = (Term("merge") & Term("sort")) | Term("dup")
    assert [
        (r.doc_id, round(r.score, 9)) for r in ix.search(q, k=10).collect()
    ] == [
        (r.doc_id, round(r.score, 9)) for r in bix.search(q, k=10).collect()
    ]
    # fsck green over the mixed (compacted + late-stream) layout
    import subprocess
    import sys

    fs = subprocess.run(
        [sys.executable, "scripts/verify_index.py", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert fs.returncode == 0, fs.stderr


def test_stream_build_auto_compact_bounds_fanout(spark, dirs):
    """stream_build(auto_compact=...) keeps fan-out bounded over a
    10-micro-batch drain with no manual maintenance, and the result
    still answers exactly like a batch build (compaction is
    rank/score/byte neutral)."""
    from chearch_spark.streaming.compact import replaced_seg_ids
    from chearch_spark.streaming.ingest import _seg_files

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    os.makedirs(dirs["input"])
    for p in range(10):
        docs.filter(f"pmod(doc_id, 10) = {p}").coalesce(1).write.parquet(
            dirs["input"] + f"/part={p}"
        )

    stats = stream_build(
        spark,
        dirs["input"] + "/part=*",
        dirs["stream_ix"],
        num_segments=2,
        auto_compact={"max_segments": 4, "num_segments": 2},
    )
    out = dirs["stream_ix"]
    dead = replaced_seg_ids(out)
    live = [
        s
        for s in _seg_files(os.path.join(out, "segments"))
        if s not in dead
    ]
    # 10 batches x 2 segments = 20 unattended; policy holds it at
    # <= max_segments + one batch's segments
    assert len(live) <= 6, live

    build_index(
        spark, docs, dirs["batch_ix"], num_segments=4, resume=False
    )
    six = Index(spark, out)
    bix = Index(spark, dirs["batch_ix"])
    assert six.n_docs == bix.n_docs == stats["n_docs"]
    assert six.stats["content_fp"] == bix.stats["content_fp"]
    for q in (Term("merge"), Term("merge") & Term("sort")):
        got = [
            (r.doc_id, round(r.score, 9))
            for r in six.search(q, k=10).collect()
        ]
        want = [
            (r.doc_id, round(r.score, 9))
            for r in bix.search(q, k=10).collect()
        ]
        assert got == want, q


def test_finalize_driver_memory_at_10k_segments(spark, tmp_path_factory):
    """BUILD/finalize-side scale pin (the query/probe side is pinned
    separately at 102k segments): `finalize_index` over a stubbed
    10^4-segment layout must keep DRIVER allocations O(segments) and
    small — the pressure points are the one collected row carrying
    `collect_set(seg_id)` and the dict_coverage.json write; everything
    else (stats agg, dictionary merge + directory, parquet writes)
    runs executor-side.  Measured ~29 MiB at 10^4 (mostly the listing
    and the coverage ids), asserted under 64 MiB; a vocabulary-sized
    driver structure would blow through that instantly (10^4 segments
    x ~1 KiB of term rows each is already ~10x the bound)."""
    import time
    import tracemalloc

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chearch_spark.streaming.ingest import STREAM_SEG_BASE

    out = str(tmp_path_factory.mktemp("finalize10k"))
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir)
    S = 10_000
    for i in range(S):
        sid = STREAM_SEG_BASE + i
        t = pa.table(
            {
                "seg_id": pa.array([sid] * 3, pa.int32()),
                "term": ["", "alpha", f"uniq{i:05d}"],
                "df": pa.array([2, 2, 1], pa.int64()),
                "cf": pa.array([4, 3, 1], pa.int64()),
                "doc_ids": pa.array(
                    [b"\x01\x01", b"\x00\x01", b"\x01"], pa.binary()
                ),
                "tfs": pa.array(
                    [b"\x02\x02", b"\x02\x01", b"\x01"], pa.binary()
                ),
                "pos_counts": pa.array([b""] * 3, pa.binary()),
                "positions": pa.array([b""] * 3, pa.binary()),
                "blocks": pa.array([b""] * 3, pa.binary()),
            }
        )
        pq.write_table(
            t,
            f"{seg_dir}/segment-{sid:09d}.parquet",
            compression="none",
        )
    # manifest supplies per-segment fingerprints, so finalize never
    # scans a docmap for them (the scale path)
    with open(os.path.join(out, "manifest-batch-000000.json"), "w") as f:
        json.dump(
            {
                "batch_id": 0,
                "segments": [
                    {
                        "seg_id": STREAM_SEG_BASE + i,
                        "n_docs": 2,
                        "n_tokens": 4,
                        "content_fp": i,
                    }
                    for i in range(S)
                ],
            },
            f,
        )

    t0 = time.time()
    tracemalloc.start()
    stats = finalize_index(spark, out)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    wall = time.time() - t0

    assert stats["n_docs"] == 2 * S
    assert stats["total_tokens"] == 4 * S
    assert stats["num_segments"] == S
    assert stats["content_fp"] == sum(range(S)) % (2**63)
    with open(os.path.join(out, "dict_coverage.json")) as f:
        cov = json.load(f)
    assert len(cov["seg_ids"]) == S
    assert peak < 64 * 1024 * 1024, f"driver allocated {peak} bytes"
    # generous wall bound: catches an accidental O(S^2) listing or a
    # per-segment driver loop, not VM noise (measured ~26 s on 4 cores)
    assert wall < 180, f"finalize took {wall:.0f}s at 10k segments"


def test_answer_query_stream(spark, tmp_path_factory):
    """Streaming query answering: each micro-batch's queries run as
    one search_many job; per-query results equal plain search; a
    malformed query fails only itself (an error row); duplicate query
    strings in a batch each get their own qid's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chearch_spark.streaming.queries import answer_query_stream

    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha"),
        (3, "delta only"),
    ]
    base = tmp_path_factory.mktemp("qstream")
    ixdir = str(base / "ix")
    build_index(
        spark,
        spark.createDataFrame(rows, "doc_id long, text string"),
        ixdir, num_segments=2, resume=False,
    )
    ix = Index(spark, ixdir)

    qdir = base / "queries"
    qdir.mkdir()
    def _qfile(name, items):
        pq.write_table(
            pa.table({"qid": pa.array([q for q, _ in items], pa.int64()),
                      "query": pa.array([s for _, s in items])}),
            str(qdir / name),
        )
    _qfile("b1.parquet", [(0, "alpha"), (1, "alpha beta")])
    _qfile("b2.parquet", [(2, "alpha OR delta"), (3, "AND"),
                          (4, "alpha"),           # dup of qid 0's string
                          (5, "zz_nohit_zz"),     # valid, zero hits
                          (6, None)])             # NULL query

    out = str(base / "answers")
    answer_query_stream(ix, str(qdir), out, k=5)
    res = spark.read.parquet(os.path.join(out, "results")).collect()

    by_qid = {}
    for r in res:
        by_qid.setdefault(r.qid, []).append(r)
    # per-query results equal plain search (rank order)
    for qid, qs in [(0, "alpha"), (1, "alpha beta"),
                    (2, "alpha OR delta"), (4, "alpha")]:
        got = sorted(by_qid[qid], key=lambda r: r.rank)
        want = ix.search(qs, k=5).collect()
        assert [(g.doc_id, g.score) for g in got] == [
            (w.doc_id, w.score) for w in want
        ], qid
        assert all(g.error is None for g in got)
    # the malformed query failed ONLY itself
    err = by_qid[3]
    assert len(err) == 1 and err[0].error and err[0].rank is None
    # a NULL query fails only itself too (TypeError-class inputs)
    nul = by_qid[6]
    assert len(nul) == 1 and nul[0].error and nul[0].rank is None
    # a VALID zero-hit query still answers: one all-NULL-payload row
    # (rank NULL + error NULL = answered empty, not lost)
    zero = by_qid[5]
    assert len(zero) == 1 and zero[0].error is None
    assert zero[0].rank is None and zero[0].doc_id is None
    # one micro-batch per file (maxFilesPerTrigger=1)
    assert {r.batch_id for r in res} == {0, 1}


def test_segments_and_index_stats_observability(spark, tmp_path):
    """ES _segments/_stats parity: per-segment rows with provenance
    tags through the full lifecycle (batch build -> stream ingest ->
    delete -> compaction), doc counts from parquet footers summing to
    the corpus, and index-level byte/term totals."""
    import pandas as pd

    from chearch_spark.build import build_index
    from chearch_spark.search import Index
    from chearch_spark.streaming.compact import compact_stream_segments
    from chearch_spark.streaming.ingest import finalize_index, ingest_batch

    pdf = pd.read_parquet(f"{SF}/documents.parquet")[
        ["doc_id", "text"]
    ]
    out = str(tmp_path / "obs_ix")
    cold = pdf[pdf.doc_id % 3 != 0]
    hot = pdf[pdf.doc_id % 3 == 0]
    build_index(spark, spark.createDataFrame(cold), out, num_segments=3)
    ix = Index(spark, out)
    segs = ix.segments().collect()
    assert {r.source for r in segs} == {"batch"}
    assert sum(r.n_docs for r in segs) == len(cold)
    assert all(r.n_terms > 0 and r.bytes > 0 for r in segs)

    ingest_batch(spark.createDataFrame(hot), out, batch_id=0, num_segments=2)
    finalize_index(spark, out)
    ix.refresh()
    segs = {r.seg_id: r for r in ix.segments().collect()}
    assert {r.source for r in segs.values()} == {"batch", "stream"}
    assert sum(r.n_docs for r in segs.values()) == len(pdf)

    victims = [int(hot.doc_id.iloc[0]), int(cold.doc_id.iloc[0])]
    ix.delete(victims)
    st = ix.index_stats()
    assert st["pending_deletes"] == 2
    assert st["n_docs"] == len(pdf)
    assert st["live_segments"] == len(segs)
    assert st["dict_terms"] > 0
    assert st["bytes"]["total"] == sum(
        st["bytes"][k] for k in ("segments", "docmap", "dictionary", "blooms")
    )
    assert st["bytes"]["segments"] == sum(r.bytes for r in segs.values())

    compact_stream_segments(spark, out, num_segments=2, include_batch=True)
    ix.refresh()
    segs2 = ix.segments().collect()
    assert {r.source for r in segs2} == {"compacted"}
    from chearch_spark.tombstones import gc_tombstones

    gc_tombstones(spark, out)
    ix.refresh()
    st2 = ix.index_stats()
    assert st2["pending_deletes"] == 0  # purged by compaction, GC'd
    assert sum(r.n_docs for r in segs2) == len(pdf) - 2
    assert st2["replaced_segments"] >= len(segs)


def test_snapshot_restore_lifecycle(spark, tmp_path):
    """ES snapshot/restore: a snapshot taken mid-lifecycle (post-ingest,
    with a pending tombstone) restores as an independent index —
    identical results at snapshot time, immune to later source deletes
    and compactions, fsck-clean, ghosts excluded."""
    import pandas as pd

    from chearch_spark.build import build_index
    from chearch_spark.plans.query import Term
    from chearch_spark.search import Index
    from chearch_spark.streaming.compact import compact_stream_segments
    from chearch_spark.streaming.ingest import finalize_index, ingest_batch
    import subprocess
    import sys

    pdf = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    src = str(tmp_path / "src_ix")
    build_index(
        spark,
        spark.createDataFrame(pdf[pdf.doc_id % 3 != 0]),
        src,
        num_segments=3,
    )
    ingest_batch(
        spark.createDataFrame(pdf[pdf.doc_id % 3 == 0]), src,
        batch_id=0, num_segments=2,
    )
    finalize_index(spark, src)
    ix = Index(spark, src)
    victim = int(pdf.doc_id.iloc[0])
    ix.delete([victim])
    q = (Term("merge") & Term("sort")) | Term("dup")
    want = [(r.doc_id, r.score) for r in ix.search(q, k=10).collect()]

    dest = str(tmp_path / "snap_ix")
    info = ix.snapshot(dest)
    assert info["files"] > 0 and info["bytes"] > 0
    snap = Index(spark, dest)
    got = [(r.doc_id, r.score) for r in snap.search(q, k=10).collect()]
    assert got == want  # bit-identical at snapshot time
    assert snap.index_stats()["pending_deletes"] == 1  # tombstone rode along
    fs = subprocess.run(
        [sys.executable, "scripts/verify_index.py", dest],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert fs.returncode == 0, fs.stderr

    # later source mutations don't reach the snapshot
    more = [int(d) for d in pdf.doc_id.iloc[1:4]]
    ix.delete(more)
    compact_stream_segments(spark, src, num_segments=2, include_batch=True)
    snap.refresh()
    still = [(r.doc_id, r.score) for r in snap.search(q, k=10).collect()]
    assert still == want
    # ghosts excluded: snapshotting the compacted source copies only
    # its live (compacted) segments
    ix.refresh()
    dest2 = str(tmp_path / "snap2_ix")
    ix.snapshot(dest2)
    snap2 = Index(spark, dest2)
    assert {r.source for r in snap2.segments().collect()} == {"compacted"}
    fs2 = subprocess.run(
        [sys.executable, "scripts/verify_index.py", dest2],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert fs2.returncode == 0, fs2.stderr
    with pytest.raises(FileExistsError):
        ix.snapshot(dest)
