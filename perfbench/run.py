"""End-to-end benchmark of chearch_spark: build, search and streaming ingest.

Usage (from the repository root):

    python3 perfbench/run.py --workload {dense,zipf,churn} --seed N \
        --seconds S --trace {0,1}

One client drives the engine's public entry points in a closed loop for
``--seconds`` seconds, in whole rounds of the same operations, and checks
every result against the independent reference BM25 in
``perfbench/reference.py``.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Spans and the full record of a run are written under
``perfbench/out/``; index directories live in a per-process directory
there that is removed on every exit path.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

import inputs  # noqa: E402
from reference import Reference, check_topk, terms_of  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("dense", "zipf", "churn")
K = 10
CONTROL_LOOP = 200_000  # iterations of the fixed host-control CPU loop
# A round runs the query mix in whole template cycles: one cycle of
# distributed searches, two search_many batches of one cycle each, and the
# whole local pool.  A run makes at least MIN_ROUNDS rounds, so every end-to-end
# figure aggregates that many samples or more.
MIN_ROUNDS = 4
FRESH = 1  # template of the query that times freshness

# per-workload shape: segments of the bulk build; distinct local queries
# per template (the local pool, run whole every round)
DENSE = dict(segments=4, local_per_template=20)
ZIPF = dict(segments=8, local_per_template=40)
# churn: micro-batches of batch_docs docs written as batch_segments
# segments, `deletes` seeded deletes and one compaction into
# compact_segments segments after each; `marked` docs of each batch carry
# a word no other batch has, which the freshness query asks for
CHURN = dict(base_batches=2, batch_docs=1_000, batch_segments=2,
             deletes=250, compact_segments=4, local_cycles=12, marked=5)


LAYER_UNITS = {
    "build.wall_s": "s", "build.kernel_sum_s": "s", "build.kernel_max_s": "s",
    "build.outside_kernel_s": "s", "build.postings": "count",
    "build.bytes_written": "bytes",
    "ingest.batch_s": "s", "ingest.finalize_s": "s", "compact.s": "s",
    "compact.bytes_rewritten": "bytes", "compact.segments_in": "count",
    "compact.segments_out": "count", "tombstones.delete_ms": "ms",
    "search.probe_ms": "ms", "search.prune_ms": "ms",
    "search.segments_scanned": "count", "search.segments_total": "count",
    "search.dataframe_ms": "ms", "search.collect_ms": "ms",
    "search.jobs_per_query": "count", "search.tasks_per_query": "count",
    "search.postings_bound": "count", "search.traced_ms": "ms",
    "index.open_ms": "ms", "index.refresh_ms": "ms",
    "local.warm_us": "us", "local.cold_us": "us",
    "batch.ms_per_batch": "ms", "host.control_ms": "ms",
}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def control_loop() -> float:
    """A fixed CPU loop; its time shows a slow host window."""
    t = time.perf_counter()
    x = 0
    for i in range(CONTROL_LOOP):
        x = (x * 31 + i) & 0xFFFF
    return time.perf_counter() - t


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def seg_files(path: Path, sub: str = "segments") -> dict[str, int]:
    """{file name: bytes} of an index's segment (or docmap) files."""
    return {f.name: f.stat().st_size
            for f in (path / sub).glob("*.parquet")}


def more_rounds(t0: float, done: int, seconds: float) -> bool:
    """Start another whole round until MIN_ROUNDS are done, then while it
    is expected to end no later than half a round past ``seconds``."""
    if done < MIN_ROUNDS:
        return True
    elapsed = time.perf_counter() - t0
    return elapsed + 0.5 * elapsed / done < seconds


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation."""
    return float(np.quantile(np.asarray(values, dtype=np.float64), q))


def trimmed_mean(values) -> float:
    """The mean of the values left after dropping the lowest and the
    highest fifth, and at least one of each (so the middle 2 of 4).  A run
    holds one such sample per round; the host's slow and fast windows make
    a median of so few flip between the two, while this averages them and
    still drops a lone outlier."""
    v = sorted(values)
    cut = max(1, len(v) // 5)
    return statistics.fmean(v[cut:len(v) - cut])


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.rng = np.random.default_rng(args.seed)
        self.tr = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.excluded_s = 0.0  # input generation + reference, not set-up
        self.spark = None
        self.qid = 0

    # -- bookkeeping -------------------------------------------------------
    def sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(float(v))

    def lsample(self, name: str, v: float) -> None:
        self.layer.setdefault(name, []).append(float(v))

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    @contextmanager
    def excluded(self):
        """Time the benchmark's own work, which set-up does not count."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    # -- spark -------------------------------------------------------------
    def start_spark(self) -> None:
        # Spark's Python workers import chearch_spark from the checkout,
        # whatever the caller's environment holds
        prev = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + prev)
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        import tempfile

        tempfile.tempdir = str(tmp)
        from pyspark.sql import SparkSession

        # half the CPUs run tasks; the rest are left to the driver, the JVM's
        # own threads and the Python workers, so a job does not wait on the
        # scheduler (on 4 vCPUs, 2 task threads made builds and searches
        # steadier between runs than 4, and searches faster)
        n = max(1, len(os.sched_getaffinity(0)) // 2)
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.default.parallelism", str(n))
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", str(tmp))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.executorEnv.PYTHONPATH", str(ROOT))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        log("spark session up")

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                # the JVM exits when its stdin closes; wait for it and its
                # Python workers to end
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)

    def frame(self, ids, texts):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                          "text": list(texts)}),
            "doc_id long, text string",
        )

    # -- engine calls, timed from outside ----------------------------------
    def search(self, ix, q, tree, ref, name="search", cache=None):
        """One distributed search, checked; returns (wall seconds of
        ``search(...).collect()``, rows)."""
        from chearch_spark.plans.parser import parse_query

        self.qid += 1
        qid = f"q{self.qid}"
        sc = self.spark.sparkContext
        tracing = self.tr.enabled
        with self.tr.span(f"{name}.query", qid):
            if tracing:
                with self.tr.span("search.probe", qid):
                    stats = ix.term_stats(sorted(set(terms_of(tree))))
                with self.tr.span("search.prune", qid):
                    cand = ix.candidate_segments(parse_query(q))
                self.lsample("search.postings_bound",
                             sum(df for df, _ in stats.values()))
                total = len(seg_files(Path(ix.path)))
                self.lsample("search.segments_total", total)
                self.lsample("search.segments_scanned",
                             total if cand is None else len(cand))
                sc.setJobGroup(qid, q)
            t0 = time.perf_counter()
            with self.tr.span("search.dataframe", qid):
                df = ix.search(q, k=K)
            t1 = time.perf_counter()
            with self.tr.span("search.collect", qid):
                rows = df.collect()
            t2 = time.perf_counter()
            dt = t2 - t0
        if tracing:
            self.lsample("search.probe_ms", self.tr.durations("search.probe")[-1] * 1e3)
            self.lsample("search.prune_ms", self.tr.durations("search.prune")[-1] * 1e3)
            self.lsample("search.dataframe_ms", (t1 - t0) * 1e3)
            self.lsample("search.collect_ms", (t2 - t1) * 1e3)
        if tracing:
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(qid)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
            self.lsample("search.jobs_per_query", len(jobs))
            self.lsample("search.tasks_per_query", tasks)
        self.verify(ref, q, tree, [(r.doc_id, r.score) for r in rows], cache)
        return dt, rows

    def verify(self, ref, q, tree, got, cache=None) -> bool:
        with self.excluded():
            want = cache.get(q) if cache is not None else None
            if want is None:
                want = ref.topk(tree, K)
                if cache is not None:
                    cache[q] = want
            why = check_topk(ref, tree, got, want)
        self.check(why is None, f"{q!r}: {why}")
        return why is None

    def batch(self, ix, queries, ref, cache=None):
        named = {f"b{i}": q for i, (q, _) in enumerate(queries)}
        with self.tr.span("batch.search_many"):
            t0 = time.perf_counter()
            rows = ix.search_many(named, k=K).collect()
            dt = time.perf_counter() - t0
        self.lsample("batch.ms_per_batch", dt * 1e3)
        got: dict[str, list] = {name: [] for name in named}
        for r in rows:
            got[r.query].append((r.rank, r.doc_id, r.score))
        for i, (q, tree) in enumerate(queries):
            hits = [(d, s) for _, d, s in sorted(got[f"b{i}"])]
            self.verify(ref, q, tree, hits, cache)
        self.sample("batch_qps", len(queries) / dt)

    def local(self, ix, q, tree, ref, cache=None):
        with self.tr.span("local.search"):
            t0 = time.perf_counter()
            hits = ix.local_search(q, k=K)
            dt = time.perf_counter() - t0
        self.sample("local_us", dt * 1e6)
        self.verify(ref, q, tree, hits, cache)

    def local_cold_warm(self, path, queries, ref):
        """Traced only: local_search on a freshly opened Index (read +
        decode + score), then the same query again (score only)."""
        from chearch_spark.search import Index

        for q, tree in queries:
            ix = Index(self.spark, str(path))
            with self.tr.span("local.cold"):
                t0 = time.perf_counter()
                hits = ix.local_search(q, k=K)
                t1 = time.perf_counter()
            with self.tr.span("local.warm"):
                ix.local_search(q, k=K)
                t2 = time.perf_counter()
            self.lsample("local.cold_us", (t1 - t0) * 1e6)
            self.lsample("local.warm_us", (t2 - t1) * 1e6)
            self.verify(ref, q, tree, hits)

    def control(self) -> None:
        with self.tr.span("host.control"):
            self.lsample("host.control_ms", control_loop() * 1e3)

    def open_index(self, path):
        from chearch_spark.search import Index

        with self.tr.span("index.open"):
            t0 = time.perf_counter()
            ix = Index(self.spark, str(path))
            self.lsample("index.open_ms", (time.perf_counter() - t0) * 1e3)
        return ix

    def refresh(self, ix) -> None:
        with self.tr.span("index.refresh"):
            t0 = time.perf_counter()
            ix.refresh()
            self.lsample("index.refresh_ms", (time.perf_counter() - t0) * 1e3)

    def build(self, df, path, n_docs, n_tokens, segments) -> float:
        """Bulk build; returns its wall seconds."""
        from chearch_spark.build import build_index

        with self.tr.span("build.build_index"):
            t0 = time.perf_counter()
            res = build_index(self.spark, df, str(path),
                              num_segments=segments, resume=False)
            dt = time.perf_counter() - t0
        self.check(res.n_docs == n_docs and res.total_tokens == n_tokens,
                   f"build: n_docs {res.n_docs} tokens {res.total_tokens}, "
                   f"generated {n_docs} / {n_tokens}")
        with open(path / "manifest.json") as f:
            segs = json.load(f)["segments"]
        walls = [s["wall_sec"] for s in segs]
        self.lsample("build.wall_s", dt)
        self.lsample("build.kernel_sum_s", sum(walls))
        self.lsample("build.kernel_max_s", max(walls))
        self.lsample("build.outside_kernel_s", dt - max(walls))
        self.lsample("build.postings", sum(s["n_postings"] for s in segs))
        self.lsample("build.bytes_written", sum(s["bytes_written"] for s in segs))
        return dt

    def ingest(self, df, path, batch_id, segments, ref):
        """ingest_batch + finalize_index; returns (ingest s, finalize s)."""
        from chearch_spark.streaming.ingest import finalize_index, ingest_batch

        with self.tr.span("ingest.ingest_batch"):
            t0 = time.perf_counter()
            ingest_batch(df, str(path), batch_id, num_segments=segments)
            t1 = time.perf_counter()
        with self.tr.span("ingest.finalize_index"):
            stats = finalize_index(self.spark, str(path))
            t2 = time.perf_counter()
        self.lsample("ingest.batch_s", t1 - t0)
        self.lsample("ingest.finalize_s", t2 - t1)
        self.check(int(stats["n_docs"]) == ref.n_docs
                   and int(stats["total_tokens"]) == ref.total_tokens,
                   f"finalize: n_docs {stats['n_docs']} tokens "
                   f"{stats['total_tokens']}, reference {ref.n_docs} / "
                   f"{ref.total_tokens}")
        return t1 - t0, t2 - t1

    def delete(self, ix, ids, ref) -> float:
        with self.tr.span("tombstones.delete"):
            t0 = time.perf_counter()
            n = ix.delete(ids.tolist())
            dt = time.perf_counter() - t0
        self.lsample("tombstones.delete_ms", dt * 1e3)
        ref.delete(ids)
        self.check(n == len(ids), f"delete recorded {n} of {len(ids)} ids")
        return dt

    def compact(self, path, segments, ref) -> float:
        from chearch_spark.streaming.compact import compact_stream_segments

        before = seg_files(path)
        maps_before = seg_files(path, "docmap")
        with self.tr.span("compact.compact_stream_segments"):
            t0 = time.perf_counter()
            stats = compact_stream_segments(self.spark, str(path),
                                            num_segments=segments)
            dt = time.perf_counter() - t0
        after = seg_files(path)
        maps_after = seg_files(path, "docmap")
        self.lsample("compact.s", dt)
        self.lsample("compact.segments_in", len(before.keys() - after.keys()))
        self.lsample("compact.segments_out", len(after.keys() - before.keys()))
        self.lsample("compact.bytes_rewritten",
                     sum(after[f] for f in after.keys() - before.keys())
                     + sum(maps_after[f]
                           for f in maps_after.keys() - maps_before.keys()))
        ref.purge()
        ok = stats is not None and int(stats["n_docs"]) == ref.n_live
        self.check(ok, f"compaction: n_docs {stats and stats['n_docs']}, "
                       f"ingested - deleted = {ref.n_live}")
        return dt

    # -- workloads ---------------------------------------------------------
    def stream_warmup(self) -> None:
        """A small ingest / finalize / delete / compact / refresh / query
        cycle into its own directory, so the streaming path is warm."""
        path = self.work / "warm-stream"
        ref = Reference()
        ix = None
        for b in range(2):
            with self.excluded():
                ids, texts = inputs.zipf_docs(
                    self.batch_seed(b), len(ref.lens), 300)
                ref.add(ids, texts)
                df = self.frame(ids, texts)
            self.ingest(df, path, b, 2, ref)
            if ix is None:
                ix = self.open_index(path)
            else:
                self.refresh(ix)
        self.delete(ix, np.arange(0, 600, 20, dtype=np.int64), ref)
        self.compact(path, 2, ref)
        self.refresh(ix)
        with self.excluded():
            strata = inputs.zipf_strata(ref.doc_freqs(), ref.n_docs)
            qs = inputs.pool(inputs.zipf_templates(self.rng, strata), 1)
        for q, tree in qs:
            self.search(ix, q, tree, ref, name="warm")
            self.local(ix, q, tree, ref)

    def batch_seed(self, b: int) -> int:
        """Seed of the run's micro-batch ``b`` (distinct across runs)."""
        return self.args.seed * 1_000_003 + b + 1

    def run_bulk(self, kind: str) -> None:
        cfg = DENSE if kind == "dense" else ZIPF
        with self.excluded():
            ref = Reference()
            if kind == "dense":
                ids, texts, n_tok = inputs.dense_corpus(self.rng)
                ref.add(ids, texts)
                templates = inputs.dense_templates(self.rng)
                local_templates = templates
            else:
                ids, texts = inputs.zipf_docs(self.args.seed, 0,
                                              inputs.ZIPF_DOCS)
                # the generator reports no token count; the reference's
                # tokenizer makes it
                n_tok = ref.add(ids, texts)
                strata = inputs.zipf_strata(ref.doc_freqs(), len(ids))
                templates = inputs.zipf_templates(self.rng, strata)
                # local queries share 60 words per stratum, so the pass
                # that warms the local posting cache stays short
                local_templates = inputs.zipf_templates(
                    self.rng, strata, words_per_stratum=60)
            dist_pool = inputs.pool(templates, 20)
            local_pool = inputs.pool(local_templates, cfg["local_per_template"])
            cache: dict = {}
        T = len(templates)
        cycles = len(dist_pool) // T

        def cycle(c):
            return dist_pool[(c % cycles) * T:][:T]

        # the local pool, cut at whole template cycles into one slice per
        # slot of a round: after the freshness search, after each
        # distributed search and after the batch.  Local searches then
        # spread over the whole round, not one window of it.
        slots = T + 2
        cuts = np.linspace(0, len(local_pool) // T, slots + 1).astype(int) * T
        local_slices = [local_pool[a:b] for a, b in zip(cuts[:-1], cuts[1:])]

        n = len(ids)
        self.start_spark()
        df = self.frame(ids, texts)
        serve = self.work / "serve"
        build_dir = self.work / "build"

        def one_round(r, name="search"):
            self.control()
            # write path: bulk build, open, first query over the new index
            t0 = time.perf_counter()
            dt = self.build(df, build_dir, n, n_tok, cfg["segments"])
            ixb = self.open_index(build_dir)
            q, tree = cycle(r + cycles // 2)[FRESH]
            t1 = time.perf_counter()
            dq, _ = self.search(ixb, q, tree, ref, name="fresh", cache=cache)
            self.sample("fresh_s", t1 - t0 + dq)
            self.sample("index_docs_per_s", n / dt)
            self.sample("index_bytes_per_doc", dir_bytes(build_dir) / n)
            # one cycle of distributed searches, two batches (one mid-way,
            # one at the end), and the local pool in slices between them
            slices = iter(local_slices)

            def local_slice():
                for q, tree in next(slices):
                    self.local(ix, q, tree, ref, cache)

            local_slice()
            for i, (q, tree) in enumerate(cycle(r)):
                dt, _ = self.search(ix, q, tree, ref, name=name, cache=cache)
                self.sample("search_ms", dt * 1e3)
                local_slice()
                if i == T // 2 - 1:
                    self.batch(ix, cycle(r + 1 + cycles // 2), ref, cache)
            self.batch(ix, cycle(r + 1), ref, cache)
            local_slice()
            if self.tr.enabled:
                self.local_cold_warm(serve, cycle(r)[:3], ref)

        # warm-up: the serving index's build, then one whole untimed round
        # (its searches and batches from pool cycles that no timed round
        # uses before the ninth; its local pass fills the local posting
        # cache).  Without it, builds and batches still sped up over the
        # first timed rounds.
        log("inputs ready")
        self.build(df, serve, n, n_tok, cfg["segments"])
        log("first build done")
        ix = self.open_index(serve)
        one_round(-2, name="warm")
        log("warm round done")
        if self.tr.enabled:
            # the timed rounds of dense and zipf never ingest; the traced
            # run still reports the streaming layers, from this cycle
            self.stream_warmup()
        self.samples.clear()
        self.setup_s = time.perf_counter() - T_START - self.excluded_s
        log(f"set-up done ({self.excluded_s:.2f}s of it input generation "
            "and reference)")

        loop_t0 = time.perf_counter()
        r = 0
        while more_rounds(loop_t0, r, self.args.seconds):
            one_round(r)
            r += 1
        self.rounds = r

    def run_churn(self) -> None:
        c = CHURN
        path = self.work / "live"
        ref = Reference()
        batch_no = [0]

        def next_batch():
            b = batch_no[0]
            batch_no[0] += 1
            with self.excluded():
                marker = f"fresh{b}mark"
                ids, texts = inputs.zipf_docs(
                    self.batch_seed(b), len(ref.lens), c["batch_docs"],
                    marker, c["marked"])
                ref.add(ids, texts)
                df = self.frame(ids, texts)
            return b, df, marker

        def deletes():
            with self.excluded():
                live = np.flatnonzero(~ref.deleted)
                return np.sort(self.rng.choice(live, size=c["deletes"], replace=False))

        self.start_spark()
        # warm-up: the base of the live index through the streaming path,
        # then the query paths
        if self.tr.enabled:
            # the timed rounds of churn never bulk-build; the traced run
            # still reports the build layer, from this small build
            with self.excluded():
                wids, wtexts = inputs.zipf_docs(self.batch_seed(1 << 20),
                                                   0, 2_000)
                wtok = Reference().add(wids, wtexts)
                wdf = self.frame(wids, wtexts)
            self.build(wdf, self.work / "warm-build", len(wids), wtok, 4)
        ix = None
        for _ in range(c["base_batches"]):
            b, df, _ = next_batch()
            self.ingest(df, path, b, c["batch_segments"], ref)
            if ix is None:
                ix = self.open_index(path)
            self.delete(ix, deletes(), ref)
        self.compact(path, c["compact_segments"], ref)
        self.refresh(ix)
        with self.excluded():
            # strata from the base; nested AND/OR is left out (README)
            strata = inputs.zipf_strata(ref.doc_freqs(), ref.n_docs)
            templates = inputs.zipf_templates(self.rng, strata, mixed=False)
            pool = inputs.pool(templates, 400)
        T = len(templates)
        qi = [0]

        def take(cycles):
            m = cycles * T
            out = [pool[(qi[0] + j) % len(pool)] for j in range(m)]
            qi[0] += m
            return out

        for q, tree in take(1)[:3]:
            self.search(ix, q, tree, ref, name="warm")
        self.batch(ix, take(1), ref)
        for q, tree in take(c["local_cycles"]):
            self.local(ix, q, tree, ref)
        self.samples.clear()
        self.setup_s = time.perf_counter() - T_START - self.excluded_s
        log(f"set-up done ({self.excluded_s:.2f}s of it input generation "
            "and reference)")

        loop_t0 = time.perf_counter()
        r = 0
        while more_rounds(loop_t0, r, self.args.seconds):
            self.control()
            b, df, marker = next_batch()
            t0 = time.perf_counter()
            ti, tf = self.ingest(df, path, b, c["batch_segments"], ref)
            self.refresh(ix)
            t1 = time.perf_counter()
            dq, _ = self.search(ix, marker, ("term", marker), ref, name="fresh")
            self.sample("fresh_s", t1 - t0 + dq)
            write_s = ti + tf + self.delete(ix, deletes(), ref)
            for q, tree in take(1):
                dt, _ = self.search(ix, q, tree, ref)
                self.sample("search_ms", dt * 1e3)
            for q, tree in take(c["local_cycles"]):
                self.local(ix, q, tree, ref)
            self.batch(ix, take(1), ref)
            write_s += self.compact(path, c["compact_segments"], ref)
            self.refresh(ix)
            self.sample("index_docs_per_s", c["batch_docs"] / write_s)
            self.sample("index_bytes_per_doc", dir_bytes(path) / ref.n_live)
            if self.tr.enabled:
                self.local_cold_warm(path, take(1)[:3], ref)
            r += 1
        self.rounds = r
        log(f"{r} rounds done")

    # -- report ------------------------------------------------------------
    def metrics(self) -> dict:
        s = self.samples
        if not self.args.trace:
            m = {
                "setup_s": (self.setup_s, "s"),
                "index_docs_per_s": (trimmed_mean(s["index_docs_per_s"]), "docs/s"),
                "index_bytes_per_doc": (statistics.median(s["index_bytes_per_doc"]), "bytes/doc"),
                "fresh_s": (trimmed_mean(s["fresh_s"]), "s"),
                "search_p50_ms": (pct(s["search_ms"], 0.5), "ms"),
                "batch_qps": (trimmed_mean(s["batch_qps"]), "queries/s"),
                "local_p50_us": (pct(s["local_us"], 0.5), "us"),
            }
        else:
            q = self.tr.durations("search.query")
            self.layer["search.traced_ms"] = [v * 1e3 for v in q]
            # every layer metric, or a KeyError: a missing layer is a fault
            # of the benchmark, not a figure
            m = {name: (statistics.median(self.layer[name]), unit)
                 for name, unit in LAYER_UNITS.items()}
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import chearch_spark  # noqa: F401  (fail before Spark starts)
    import pyspark  # noqa: F401

    OUT.mkdir(parents=True, exist_ok=True)
    work = OUT / f"work-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    bench = Bench(args, work)
    try:
        if args.workload == "churn":
            bench.run_churn()
        else:
            bench.run_bulk(args.workload)
        metrics = bench.metrics()
        # tails written to the record, not the result line: too few
        # samples lie beyond them (2-3 searches, 4 local searches on
        # dense), and their spreads between runs came near or over a
        # bound (README)
        unbounded = {} if args.trace else {
            "search_p90_ms": pct(bench.samples["search_ms"], 0.9),
            "local_p99_us": pct(bench.samples["local_us"], 0.99)}
    finally:
        try:
            bench.stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    log("stopped")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        bench.tr.write(str(OUT / f"trace-{tag}.json"))
    record = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    with open(OUT / f"result-{tag}.json", "w") as f:
        json.dump({**record, "unbounded": unbounded, "rounds": bench.rounds, "errors": bench.errors,
                   "samples": bench.samples, "layer_samples": bench.layer},
                  f, indent=1)
    for e in bench.errors:
        print("MISMATCH", e, file=sys.stderr)
    for k, v in unbounded.items():
        log(f"{k} = {v:.1f}")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
