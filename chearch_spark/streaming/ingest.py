"""Streaming ingest: incremental index build via Structured Streaming.

The reference's online path is an async producer/consumer indexer and a
TCP server, both explicitly in-progress (`queuedindexer.chpl:13-81`,
`chearch_srv.chpl:20-72`, `README.md:18-21`).  The Spark-native
re-expression is Structured Streaming + ``foreachBatch``: each
micro-batch is hash-partitioned by doc_id and built into *new immutable
segment files* (same layout as the batch build — the batch kernel is
reused verbatim), so the index grows by whole segments and readers are
snapshot-isolated for free, exactly the reference's
publish-by-counter semantics (`memorysegment.chpl:289-306`) at file
granularity.

Scale notes: per micro-batch the work is one repartition exchange +
coordination-free Arrow kernels, identical to the batch build;
checkpointLocation gives exactly-once batch replay, and segment writes
are atomic (tmp -> rename) + keyed by (batch_id, partition), so batch
retries are idempotent — the streaming analogue of the resumable batch
build.  The global dictionary is deliberately NOT updated per batch
(a hot-path global shuffle per micro-batch would serialize ingest);
:func:`finalize_index` merges per-segment stats into the dictionary
when a queryable snapshot is needed — call it per N batches or on
demand.  Queries before finalize see the previous snapshot.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

from chearch_spark import spec
from chearch_spark.build import (
    SUMMARY_SCHEMA,
    _atomic_write_parquet,
    _build_segment_tables,
    write_bloom_file,
)

# Segment ids must be unique across (batch, partition) AND disjoint
# from batch-build ids (0..S-1), since finalize_index supports streams
# appending to a batch-built index and query kernels group by seg_id:
# seg_id = STREAM_SEG_BASE + batch_id * BATCH_SEG_STRIDE + partition.
# STREAM_SEG_BASE = 2^30 keeps ids inside the segment schema's int32
# while sitting far above any realistic batch segment count.
STREAM_SEG_BASE = 1 << 30
BATCH_SEG_STRIDE = 100_000


def ingest_batch(
    batch_df,
    out_dir: str,
    batch_id: int,
    *,
    num_segments: int = 8,
    store_positions: bool = True,
) -> list:
    """Build the micro-batch into new segment files (idempotent:
    a replayed batch finds its files and skips).  Returns the
    per-partition summary rows."""
    from pyspark import TaskContext

    seg_dir = os.path.join(out_dir, "segments")
    map_dir = os.path.join(out_dir, "docmap")
    bloom_dir = os.path.join(out_dir, "blooms")
    os.makedirs(seg_dir, exist_ok=True)
    os.makedirs(map_dir, exist_ok=True)
    os.makedirs(bloom_dir, exist_ok=True)
    if num_segments > BATCH_SEG_STRIDE:
        raise ValueError(
            f"num_segments {num_segments} exceeds the per-batch id stride"
        )
    base = STREAM_SEG_BASE + batch_id * BATCH_SEG_STRIDE
    # the segment schema stores seg_id as int32; an id past 2^31-1
    # would WRAP SILENTLY in the numpy kernel to a negative id that
    # the whole id-range machinery misclassifies as batch-built.
    # ~10.7k batches fit; compaction frees no batch-id space (ids are
    # write-once), so a longer-lived stream restarts batch numbering
    # after a fresh build or uses larger micro-batches.
    if batch_id < 0 or base + num_segments - 1 > 2**31 - 1:
        raise ValueError(
            f"batch_id {batch_id} exceeds the stream id space "
            f"(max {(2**31 - 1 - STREAM_SEG_BASE) // BATCH_SEG_STRIDE} "
            "batches with the pinned stride); rebuild the index to "
            "reset ids or increase micro-batch size"
        )
    # replay-consistency guard (the streaming analogue of
    # build_config.json): a replayed batch re-run with a DIFFERENT
    # partition count re-hashes docs under a new modulus — partitions
    # whose files survived the crash are skipped, while their docs
    # also hash into partitions that DO rebuild: silent double
    # counting.  The batch's config is committed atomically BEFORE any
    # segment file, so whatever is on disk was written under the
    # recorded modulus.
    cfg_path = os.path.join(out_dir, f"batch_config-{batch_id:06d}.json")
    if os.path.exists(cfg_path):
        with open(cfg_path) as f:
            prev = json.load(f)
        if (
            int(prev["num_segments"]) != int(num_segments)
            or bool(prev["store_positions"]) != bool(store_positions)
        ):
            raise ValueError(
                f"batch {batch_id} was previously ingested with "
                f"num_segments={prev['num_segments']}, "
                f"store_positions={prev['store_positions']}; a replay "
                "must use the same settings (differing moduli would "
                "double-count docs across skipped and rebuilt "
                "partitions)"
            )
    else:
        with open(cfg_path + ".tmp", "w") as f:
            json.dump(
                {
                    "num_segments": int(num_segments),
                    "store_positions": bool(store_positions),
                },
                f,
            )
        os.replace(cfg_path + ".tmp", cfg_path)

    def _kernel(batches):
        import pyarrow as pa

        ctx = TaskContext.get()
        seg_id = base + ctx.partitionId()
        seg_path = os.path.join(seg_dir, f"segment-{seg_id:09d}.parquet")
        map_path = os.path.join(map_dir, f"docmap-{seg_id:09d}.parquet")
        k0 = time.time()
        if os.path.exists(seg_path) and os.path.exists(map_path):
            # replayed micro-batch (exactly-once via idempotent
            # writes): one shared checkpoint-summary implementation
            # with the batch build's resume branch (also repairs a
            # missing per-segment bloom file)
            from chearch_spark.build import (
                _checkpoint_summary,
                _summary_row,
            )

            yield pa.RecordBatch.from_pylist(
                [
                    _summary_row(
                        seg_id,
                        _checkpoint_summary(
                            seg_path, map_path, bloom_dir, seg_id
                        ),
                        time.time() - k0,
                    )
                ]
            )
            return
        pdfs = [b.to_pandas() for b in batches]
        pdf = (
            pd.concat(pdfs, ignore_index=True)
            if pdfs
            else pd.DataFrame(
                {
                    "doc_id": pd.Series(dtype="int64"),
                    "text": pd.Series(dtype="object"),
                }
            )
        )
        seg_pdf, docmap_pdf, s = _build_segment_tables(
            pdf, seg_id, store_positions
        )
        nbytes = _atomic_write_parquet(seg_pdf, seg_path)
        nbytes += _atomic_write_parquet(docmap_pdf, map_path)
        # bloom published kernel-side (see build.SUMMARY_SCHEMA note):
        # the filter bytes never ride the summary collect
        write_bloom_file(bloom_dir, seg_id, s["bloom_m"], s["bloom"])
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "seg_id": seg_id,
                    "n_docs": s["n_docs"],
                    "n_terms": s["n_terms"],
                    "n_tokens": s["n_tokens"],
                    "n_postings": s["n_postings"],
                    "bytes_written": nbytes,
                    "skipped": False,
                    "wall_sec": time.time() - k0,
                    "content_fp": s["content_fp"],
                }
            ]
        )

    from pyspark.sql import functions as F

    summaries = (
        batch_df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("text").cast("string").alias("text"),
        )
        .repartition(num_segments, "doc_id")
        .mapInArrow(_kernel, SUMMARY_SCHEMA)
        .collect()
    )
    lineage = {
        "batch_id": batch_id,
        "segments": [
            {
                "seg_id": int(r.seg_id),
                "n_docs": int(r.n_docs),
                "n_tokens": int(r.n_tokens),
                "replayed": bool(r.skipped),
                "wall_sec": float(r.wall_sec),
                "content_fp": int(r.content_fp),
            }
            for r in summaries
        ],
    }
    path = os.path.join(out_dir, f"manifest-batch-{batch_id:06d}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(lineage, f, indent=1)
    os.replace(path + ".tmp", path)
    return summaries


def _seg_files(seg_dir: str) -> dict[int, str]:
    """{seg_id: absolute segment file path} from one listing."""
    out: dict[int, str] = {}
    for fn in os.listdir(seg_dir):
        if fn.startswith("segment-") and fn.endswith(".parquet"):
            out[int(fn[len("segment-"):-len(".parquet")])] = os.path.join(
                seg_dir, fn
            )
    return out


def _iter_manifests(out_dir: str):
    """Yield every parsed manifest in canonical precedence order
    (build manifest, then batch, then compact — later wins for
    per-segment facts).  THE one enumeration shared by every manifest
    consumer; a new manifest kind gets added here, not at call sites."""
    import glob

    paths = []
    bm = os.path.join(out_dir, "manifest.json")
    if os.path.exists(bm):
        paths.append(bm)
    paths += sorted(
        glob.glob(os.path.join(out_dir, "manifest-batch-*.json"))
    ) + sorted(glob.glob(os.path.join(out_dir, "manifest-compact-*.json")))
    for mp in paths:
        with open(mp) as f:
            yield json.load(f)


def _manifest_totals(out_dir: str) -> dict[int, tuple[int, int]]:
    """{seg_id: (n_docs, n_tokens)} across all manifest kinds (later
    manifests win — a compaction re-describes its output ids)."""
    totals: dict[int, tuple[int, int]] = {}
    for m in _iter_manifests(out_dir):
        for s in m.get("segments", []):
            if "n_docs" in s and "n_tokens" in s:
                totals[int(s["seg_id"])] = (
                    int(s["n_docs"]), int(s["n_tokens"]),
                )
    return totals


def _finalize_incremental(spark, out_dir: str, live: set[int]) -> dict | None:
    """O(new-segments) finalize: scan ONLY the segments the current
    dictionary does not cover, merge their pre-aggregated term rows
    with the existing dictionary (an O(vocabulary) union-agg), and
    derive totals/fingerprints from the immutable manifests.  The
    result is EXACTLY what the full re-aggregation produces — the
    hot-term NULL cap merges soundly because a term's segment count
    only grows (old NULL ⟹ still over cap; union over cap ⟹ NULL).

    Returns None (caller falls back to the full path) unless every
    precondition holds: stats.json + dict_coverage.json + a `segs`
    dictionary present, every covered segment still live (a compaction
    retires covered ids → the old rows are stale), and every live
    segment described by a manifest (totals/fp provenance)."""
    from pyspark.sql import functions as F

    from chearch_spark.build import (
        META_TERM,
        dictionary_agg,
        write_dictionary,
    )

    stats_path = os.path.join(out_dir, "stats.json")
    cov_path = os.path.join(out_dir, "dict_coverage.json")
    dict_dir = os.path.join(out_dir, "dictionary")
    if not (
        os.path.exists(stats_path)
        and os.path.exists(cov_path)
        and os.path.isdir(dict_dir)
    ):
        return None
    with open(stats_path) as f:
        old_stats = json.load(f)
    with open(cov_path) as f:
        covered = {int(s) for s in json.load(f)["seg_ids"]}
    if not covered <= live:
        return None  # covered segments died (compaction): stale rows
    totals = _manifest_totals(out_dir)
    fps = _manifest_fps(out_dir)
    if not (live <= set(totals) and live <= set(fps)):
        # a live segment lacks manifest totals OR a fingerprint — the
        # full path can derive the fp distributively (or raise with a
        # pointer to the cause); silently summing 0 here would publish
        # a wrong global content_fp
        return None
    import pyarrow.dataset as ds

    try:
        has_segs = "segs" in ds.dataset(
            dict_dir, format="parquet"
        ).schema.names
    except Exception:
        has_segs = False
    if not has_segs:
        return None

    files = _seg_files(os.path.join(out_dir, "segments"))
    new = sorted(live - covered)
    n_docs = sum(totals[s][0] for s in live)
    n_tokens = sum(totals[s][1] for s in live)
    n_files = max(spark.sparkContext.defaultParallelism // 8, 1)
    has_pos = bool(old_stats.get("store_positions", False))

    if new:
        new_scan = spark.read.parquet(*[files[s] for s in new])
        not_meta = F.col("term") != META_TERM
        if not has_pos:
            has_pos = (
                new_scan.filter(not_meta)
                .filter(F.length("positions") > 0)
                .limit(1)
                .count()
                > 0
            )
        # old dictionary must be MATERIALIZED before write_dictionary
        # overwrites the directory it is being read from
        old_dict = spark.read.parquet(dict_dir).localCheckpoint(eager=True)
        union = old_dict.select("term", "df", "cf", "segs").unionAll(
            dictionary_agg(new_scan.filter(not_meta))
        )
        merged = (
            union.groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max(
                    F.when(F.col("segs").isNull(), 1).otherwise(0)
                ).alias("anynull"),
                F.flatten(F.collect_list("segs")).alias("segs_all"),
            )
            .select(
                "term",
                "df",
                "cf",
                F.when(
                    (F.col("anynull") == 0)
                    & (F.size("segs_all") <= spec.DICT_SEGS_CAP),
                    F.sort_array("segs_all"),
                ).alias("segs"),
            )
        )
        write_dictionary(
            merged, out_dir, n_files, covered_seg_ids=sorted(live)
        )

    fp = sum(fps[s] for s in live) % (2**63)
    stats = {
        "spec_version": spec.SPEC_VERSION,
        "n_docs": n_docs,
        "total_tokens": n_tokens,
        "avgdl": (n_tokens / n_docs) if n_docs else 0.0,
        "num_segments": len(live),
        "store_positions": has_pos,
        "content_fp": fp,
    }
    tmp = stats_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=1)
    os.replace(tmp, stats_path)
    return stats


def _manifest_fps(out_dir: str) -> dict[int, int]:
    """{seg_id: content_fp} across all manifest kinds (later wins)."""
    fps: dict[int, int] = {}
    for m in _iter_manifests(out_dir):
        for s in m.get("segments", []):
            if "content_fp" in s:
                fps[int(s["seg_id"])] = int(s["content_fp"])
    return fps


def finalize_index(spark, out_dir: str, incremental: bool = True) -> dict:
    """Merge all segments (batch- or stream-written) into a queryable
    snapshot: rebuild the global dictionary and stats.json.  Same
    merge shape as the batch build: a tiny shuffle over per-segment
    pre-aggregated term rows.

    ``incremental=True`` (default) scans ONLY segments the current
    dictionary does not cover when the snapshot provenance allows it
    (see :func:`_finalize_incremental`) — at scale, finalize cost then
    tracks the new data, not the index size; any precondition failure
    (first finalize, post-compaction, legacy layout) falls back to the
    full re-aggregation below, which is always correct."""
    from pyspark.sql import functions as F

    from chearch_spark.build import (
        META_TERM,
        dictionary_agg,
        write_dictionary,
    )
    from chearch_spark.streaming.compact import replaced_seg_ids

    seg_dir = os.path.join(out_dir, "segments")
    if incremental:
        dead0 = replaced_seg_ids(out_dir)
        live0 = {s for s in _seg_files(seg_dir) if s not in dead0}
        got = _finalize_incremental(spark, out_dir, live0)
        if got is not None:
            return got
    seg = spark.read.parquet(seg_dir)
    # a crashed compaction may leave dead files (replaced inputs or
    # unpublished orphan outputs); counting them would double stats
    # and dictionary df/cf — same exclusion rule as every query path
    dead = replaced_seg_ids(out_dir)
    if dead:
        seg = seg.filter(~F.col("seg_id").isin([int(s) for s in dead]))
    # the live seg-id set from the DIRECTORY listing (minus dead) —
    # exactly the files the dictionary scan below reads, so dictionary
    # coverage/fp stay consistent with dictionary CONTENT; the META-row
    # count is checked against it once the jobs finish
    live_ids = sorted(
        int(s) for s in _seg_files(seg_dir) if s not in dead
    )
    is_meta = F.col("term") == META_TERM

    # r7 (guide §2.6 — overlap independent jobs): the stats
    # aggregation, the store_positions probe and the dictionary merge
    # are three INDEPENDENT Spark jobs; running them from a small
    # thread pool lets each job's tail back-fill the others' idle
    # executors — finalize wall time drops from the sum to roughly the
    # max.  Results are identical: nothing downstream of one job feeds
    # another (the dictionary's covered ids come from the listing
    # above, not the stats row).
    def _stats_job():
        # stats from the META rows only (the term == '' filter pushes
        # into the parquet reader — row-group stats skip every posting
        # row), one agg for totals
        return seg.filter(is_meta).agg(
            F.sum("df").alias("n_docs"),
            F.sum("cf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_segments"),
        ).collect()[0]

    def _pos_job():
        # store_positions detection: limit-1 early-exit probe, NOT a
        # full positions-column scan (hardcoding the flag would
        # desynchronize streamed indexes from batch-built ones)
        return (
            seg.filter(~is_meta)
            .filter(F.length("positions") > 0)
            .limit(1)
            .count()
            > 0
        )

    def _dict_job():
        write_dictionary(
            dictionary_agg(seg.filter(~is_meta)),
            out_dir,
            max(spark.sparkContext.defaultParallelism // 8, 1),
            covered_seg_ids=live_ids,
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_stats = pool.submit(_stats_job)
        f_pos = pool.submit(_pos_job)
        f_dict = pool.submit(_dict_job)
        meta = f_stats.result()
        has_pos = f_pos.result()
        f_dict.result()
    if int(meta.n_segments) != len(live_ids):
        # stats count META rows, coverage and fingerprints count files:
        # a segment file without its META row (or with two) would make
        # them disagree silently
        raise ValueError(
            f"finalize_index: {int(meta.n_segments)} META rows but "
            f"{len(live_ids)} live segment files in {seg_dir} — a segment "
            "file is missing its META row; run scripts/verify_index.py"
        )
    n_docs = int(meta.n_docs or 0)
    total_tokens = int(meta.n_tokens or 0)
    # Global content fingerprint: content_fp is an order-independent
    # modular SUM, so the global value is the sum of the per-segment
    # values already recorded in the (tiny, O(segments)) build and
    # micro-batch manifests — never a driver-side pass over the docmap
    # (at 10^12 docs that to_pylist() was a guaranteed driver OOM).
    # Segments not covered by any manifest (e.g. a legacy index) are
    # fingerprinted distributively: one applyInPandas over their
    # docmap rows, collecting one row per segment.
    seg_ids = live_ids
    fp_by_seg = _manifest_fps(out_dir)
    missing = [s for s in seg_ids if s not in fp_by_seg]
    map_dir = os.path.join(out_dir, "docmap")
    if missing and os.path.isdir(map_dir):

        def _fp_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "seg_id": [int(pdf["seg_id"].iloc[0])],
                    "fp": [spec.content_fp(pdf["sha256"].tolist())],
                }
            )

        rows = (
            spark.read.parquet(map_dir)
            .filter(F.col("seg_id").isin(missing))
            .select("seg_id", "sha256")
            .groupBy("seg_id")
            .applyInPandas(_fp_kernel, "seg_id long, fp long")
            .collect()
        )
        for r in rows:
            fp_by_seg[int(r.seg_id)] = int(r.fp)
    still_missing = [s for s in seg_ids if s not in fp_by_seg]
    if still_missing:
        # a live segment with no manifest fingerprint AND no docmap
        # rows is corruption (a half-written index): writing a silent
        # 0 into the global fp would defer the failure to the next
        # fsck with no pointer back to the cause
        raise ValueError(
            f"finalize_index: live segments {still_missing[:8]} have no "
            "content fingerprint in any manifest and no docmap rows; "
            "the index is missing docmap files — run "
            "scripts/verify_index.py for details"
        )
    fp = sum(fp_by_seg[s] for s in seg_ids) % (2**63)
    stats = {
        "spec_version": spec.SPEC_VERSION,
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        "num_segments": int(meta.n_segments),
        "store_positions": has_pos,
        "content_fp": fp,
    }
    tmp = os.path.join(out_dir, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "stats.json"))
    return stats


def stream_build(
    spark,
    input_path: str,
    out_dir: str,
    *,
    schema: str = "doc_id long, text string",
    num_segments: int = 8,
    store_positions: bool = True,
    checkpoint: str | None = None,
    available_now: bool = True,
    auto_compact: dict | None = None,
):
    """readStream(parquet dir) -> foreachBatch(ingest_batch) ->
    finalize.  With ``available_now`` the stream drains everything
    currently in ``input_path`` and stops (used by tests/bench); a
    real deployment runs continuously and calls finalize_index on a
    schedule.

    ``auto_compact``: when a dict, each micro-batch's maintenance slot
    runs :func:`chearch_spark.streaming.compact.maybe_compact` with
    those kwargs (e.g. ``{"max_segments": 64}``) — segment fan-out and
    tombstone debt then stay bounded for the stream's whole life with
    no operator attention.  foreachBatch batches are serialized per
    query, which satisfies maybe_compact's no-concurrent-compaction
    rule."""
    os.makedirs(out_dir, exist_ok=True)
    ckpt = checkpoint or os.path.join(out_dir, "_checkpoint")

    def _each(batch_df, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            out_dir,
            int(batch_id),
            num_segments=num_segments,
            store_positions=store_positions,
        )
        if auto_compact is not None:
            from chearch_spark.streaming.compact import maybe_compact

            maybe_compact(spark, out_dir, **auto_compact)

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_path)
    )
    writer = (
        reader.writeStream.foreachBatch(_each)
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        return q
    return finalize_index(spark, out_dir)
