"""Distributed query engine: scatter-gather BM25 top-k over parquet
segments (SURVEY.md §3.2 Spark lifecycle).

Communication shape matches the reference's scatter-gather
(`searchindex.chpl:149-168`): the query fans out to every
document-partitioned segment (one Arrow kernel per segment computes a
*local* top-k — the scored analogue of the reference's
``partitionLimit`` truncation, `search.chpl:17`), then a single global
``orderBy(score desc, doc_id asc).limit(k)`` gathers — Spark compiles
that to ``TakeOrderedAndProject``, the one exchange in the plan.

Efficiency levers (100 TB design):

* term dictionary lookups and the segment scan both push ``term IN
  (...)`` into the parquet reader — segment files are written sorted by
  term, so row-group min/max stats skip everything but the query terms
  (+ the per-segment meta row).  A query touches O(|terms| × segments)
  rows, never the corpus.
* scores are computed from *global* stats (N, avgdl, df broadcast in
  the task closure) with one float expression per (doc, term) inside a
  single kernel — no cross-partition float accumulation, so ranks are
  identical at any parallelism (SURVEY §7.3.1).
* block-max WAND pruning (`wand.py`) skips posting blocks whose upper
  bound cannot reach the running top-k threshold.
"""

from __future__ import annotations

import json
import os
import stat
from functools import cached_property

import numpy as np
import pandas as pd

from chearch_spark import spec
from chearch_spark.build import META_TERM
from chearch_spark.operators import codec
from chearch_spark.operators.wand import (
    local_topk_scores,
    prune_conjunctive_blocks,
    wand_or_topk,
)
from chearch_spark.plans.query import (
    MAX_PREFIX_EXPANSION,
    And,
    Boosting,
    ConstantScore,
    Diff,
    DisMax,
    Filter,
    Fuzzy,
    MinShould,
    Near,
    Node,
    Or,
    Phrase,
    PhrasePrefix,
    Prefix,
    Regexp,
    Synonym,
    Term,
    Wildcard,
    all_terms_required,
    conjunctive_terms,
    disjunctive_terms,
    has_positional,
    has_structured_scoring,
    positional_terms,
    scoring_terms,
    scoring_weights,
    synonym_leaves,
)


def _normalize(node: Node) -> Node:
    """Normalize every query term through the tokenizer so raw user
    strings ('MERGE') match the lowercased index.

    A Term whose string tokenizes to MULTIPLE tokens ('covid-19',
    'foo.bar') folds into their conjunction — the index tokenizer
    split that text the same way at build time, so the AND is the
    query that finds those documents (a raised error would make every
    hyphenated user string a dead end).  A Phrase re-tokenizes its
    joined words (so 'covid-19' inside quotes becomes the adjacent
    token pair) and degrades to a plain Term when one token remains.
    """
    if isinstance(node, Term):
        if node == _IMPOSSIBLE:
            # the zero-expansion sentinel must survive re-normalization
            # (its '-' would otherwise tokenize away, turning "matches
            # nothing" into the REAL term 'impossible') — this keeps
            # _prep idempotent for callers that pass a prepped tree
            # back into prepping APIs
            return node
        toks = spec.tokenize(node.term)
        if not toks:
            raise ValueError(
                f"query term {node.term!r} contains no indexable token"
            )
        out: Node = Term(toks[0], node.boost)
        for t in toks[1:]:
            # a multi-token term distributes its boost to every token
            # ('covid-19'^2 boosts both halves of the AND it folds to)
            out = And(Term(t, node.boost), out)  # postfix parity
        return out
    if isinstance(node, Phrase):
        toks = spec.tokenize(" ".join(node.words))
        if not toks:
            raise ValueError(
                f"phrase {node.words!r} contains no indexable token"
            )
        if len(toks) == 1:
            return Term(toks[0])
        return Phrase(tuple(toks))
    if isinstance(node, Near):
        w = int(node.window)
        if not (1 <= w <= spec.MAX_POSITION):
            raise ValueError(
                f"NEAR window must be in [1, {spec.MAX_POSITION}]"
            )
        ta = spec.normalize_term(node.a)
        tb = spec.normalize_term(node.b)
        if ta == tb:
            raise ValueError(
                "NEAR of a term with itself is ambiguous (every "
                "occurrence is within 0 of itself); use a plain term"
            )
        return Near(ta, tb, w)
    if isinstance(node, And):
        return And(_normalize(node.a), _normalize(node.b))
    if isinstance(node, Or):
        return Or(_normalize(node.a), _normalize(node.b))
    if isinstance(node, Diff):
        return Diff(_normalize(node.a), _normalize(node.b))
    if isinstance(node, MinShould):
        return MinShould(
            tuple(_normalize(c) for c in node.clauses), node.m
        )
    if isinstance(node, DisMax):
        return DisMax(
            tuple(_normalize(c) for c in node.clauses), node.tie
        )
    if isinstance(node, ConstantScore):
        return ConstantScore(_normalize(node.query), node.boost)
    if isinstance(node, Boosting):
        return Boosting(
            _normalize(node.positive),
            _normalize(node.negative),
            node.negative_boost,
        )
    if isinstance(node, Filter):
        return Filter(_normalize(node.query))
    if isinstance(node, Prefix):
        p = node.prefix.lower()
        if not p or spec.tokenize(p) != [p]:
            raise ValueError(f"prefix {node.prefix!r} is not a token prefix")
        return Prefix(p)
    if isinstance(node, PhrasePrefix):
        if len(node.words) < 1:
            raise ValueError("phrase prefix needs at least the prefix")
        p = node.words[-1].lower()
        if not p or spec.tokenize(p) != [p]:
            raise ValueError(
                f"phrase prefix {node.words[-1]!r} is not a token prefix"
            )
        if len(node.words) == 1:
            return Prefix(p)  # no leading words = a bare prefix
        toks = spec.tokenize(" ".join(node.words[:-1]))
        if not toks:
            raise ValueError(
                f"phrase {node.words[:-1]!r} contains no indexable token"
            )
        return PhrasePrefix(tuple(toks) + (p,))
    if isinstance(node, Synonym):
        norm = set()
        for w in node.words:
            toks = spec.tokenize(w)
            if len(toks) != 1:
                raise ValueError(
                    f"synonym member {w!r} must normalize to exactly "
                    f"one token, got {toks!r}"
                )
            norm.add(toks[0])
        if not norm:
            raise ValueError("synonym group needs at least one member")
        if len(norm) == 1:
            return Term(next(iter(norm)))
        return Synonym(tuple(sorted(norm)))
    if isinstance(node, Fuzzy):
        q = node.term.lower()
        if not q or spec.tokenize(q) != [q]:
            raise ValueError(f"fuzzy term {node.term!r} is not a token")
        return Fuzzy(q)
    if isinstance(node, Regexp):
        if not node.pattern:
            raise ValueError("empty regexp")
        _validate_regexp(node.pattern)  # RAW: before the case fold
        return Regexp(node.pattern.lower())
    if isinstance(node, Wildcard):
        p = node.pattern.lower()
        lit = p.replace("*", "").replace("?", "")
        if len(lit) == len(p):
            raise ValueError(
                f"wildcard {node.pattern!r} has no '*' or '?' — use a "
                "plain Term"
            )
        if not lit:
            raise ValueError(
                f"wildcard {node.pattern!r} has no literal characters "
                "(it would match the entire vocabulary)"
            )
        if spec.tokenize(lit) != [lit]:
            raise ValueError(
                f"wildcard {node.pattern!r} literals are not token "
                "characters"
            )
        return Wildcard(p)
    raise TypeError(node)


# a token that can never exist in the index ('-' is not in the token
# alphabet) — stands in for a Prefix that matched nothing
_IMPOSSIBLE = Term("-impossible-")

# dictionaries whose part files total at most this expand Fuzzy leaves
# driver-side (one pyarrow (term, df) read + the two-pointer check);
# larger ones use the distributed fuzzy_terms probe
FUZZY_DRIVER_DICT_BYTES = 8 << 20


def _wildcard_regex(pattern: str) -> str:
    """Anchored regex for a wildcard glob: ``*`` -> any run of token
    chars, ``?`` -> one token char (terms are [a-z0-9_]+, so the
    classes are explicit rather than ``.``).  Literal runs are
    re.escape'd.  Same regex string works for Python ``re`` and
    Spark's Java ``rlike``."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append("[a-z0-9_]*")
        elif ch == "?":
            out.append("[a-z0-9_]")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _wildcard_literal_prefix(pattern: str) -> str:
    """Literal run before the first wildcard char ('' if it leads)."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def _regexp_anchored(pattern: str) -> str:
    """Whole-term anchoring (Lucene RegexpQuery semantics) in a form
    Python ``re``, Java ``rlike``, and DuckDB's RE2 all accept."""
    return "^(?:" + pattern + ")$"


def _has_top_level_alternation(pattern: str) -> bool:
    """True when an unescaped '|' sits at paren depth 0 (outside any
    character class) — the whole pattern is then a choice and no
    prefix is guaranteed.  A '|' inside a group (``s(or|ub)``) scopes
    to the group and leaves the leading literal intact."""
    depth, i, n = 0, 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "[":  # character class: '|' inside is literal
            i += 1
            while i < n and pattern[i] != "]":
                i += 2 if pattern[i] == "\\" else 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            return True
        i += 1
    return False


def _regexp_literal_prefix(pattern: str) -> str:
    """GUARANTEED literal prefix of every string the pattern can match
    ('' when none can be proven): used only for range pruning, so
    under-claiming is safe and over-claiming is not.  Rules: a
    TOP-LEVEL '|' kills the prefix outright (the left alternative is
    just one choice); a '*', '?', or '{' quantifier makes its
    preceding char optional (or repeatable-from-zero) and drops it;
    '+' keeps its char (one occurrence is guaranteed); any other
    metacharacter ends the literal run."""
    if _has_top_level_alternation(pattern):
        return ""
    out: list[str] = []
    for ch in pattern:
        if ch in ".([{\\^$)*+?|":
            if ch in "*?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _validate_regexp(pattern: str) -> None:
    """Reject constructs outside the Python-re / Java-rlike / RE2
    COMMON subset — a pattern the engines disagree on would break the
    driver-vs-distributed-vs-oracle identity this leaf pins.  Runs on
    the RAW (pre-lowercase) pattern: lowercasing inverts uppercase
    escape classes (``\\D`` -> ``\\d``), so those must be rejected
    before the fold, not silently flipped."""
    import re as _re

    if _re.search(r"\(\?(?!:)", pattern):
        raise ValueError(
            f"regexp {pattern!r}: lookaround / inline flags are "
            "outside the cross-engine subset (RE2 lacks them)"
        )
    if _re.search(r"\\[0-9]", pattern):
        raise ValueError(
            f"regexp {pattern!r}: backreferences are outside the "
            "cross-engine subset (RE2 lacks them)"
        )
    if _re.search(r"\\[A-Z]", pattern):
        raise ValueError(
            f"regexp {pattern!r}: uppercase escape classes would be "
            "INVERTED by term lowercasing (\\D -> \\d) — spell the "
            "class out (terms are [a-z0-9_]+)"
        )
    if _re.search(r"(?<!\\)\{(?!\d+(,\d*)?\})", pattern):
        raise ValueError(
            f"regexp {pattern!r}: a bare '{{' is a literal to Python "
            "but a syntax error to Java rlike — escape it or complete "
            "the quantifier"
        )
    if _re.search(r"[*+?}]\+", pattern):
        raise ValueError(
            f"regexp {pattern!r}: possessive quantifiers are outside "
            "the cross-engine subset (RE2 lacks them)"
        )
    try:
        _re.compile(_regexp_anchored(pattern))
    except _re.error as exc:
        raise ValueError(f"invalid regexp {pattern!r}: {exc}") from None


def _within_one_edit(a: str, b: str) -> bool:
    """Classic Levenshtein <= 1 via the two-pointer scan (exact for
    distance 1; no transposition edit, matching engine + oracle
    levenshtein semantics)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # b is exactly one longer: skip one char of b
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]

# tombstone sets larger than this ship to kernels as a Spark broadcast
# instead of a closure capture (see Index._tomb_handle).  100k int64s
# is ~800 KB — right at Spark's ~1 MB task-size guidance; a closure is
# re-serialized per task of EVERY query stage, a broadcast ships once.
_TOMB_BROADCAST_THRESHOLD = 100_000

# facet_counts broadcasts its matching-doc-id relation into the
# metadata semi-join only while the dictionary-df upper bound on the
# match count stays at or below this; above it the join is forced to
# shuffle (the id set is a Python-kernel output whose size Catalyst
# can only estimate — see Index.facet_counts)
_FACET_BROADCAST_THRESHOLD = 500_000

# search_filtered collects+ships the allowed-id set into the scoring
# kernels only while the filter's TRUE match count (probed with an
# early-terminating limit, never estimated) stays at or below this —
# 1M int64s is ~8 MB, a cheap one-time Spark broadcast; above it the
# broad-filter plan (full scored emission + shuffle semi-join) wins
_FILTER_COLLECT_THRESHOLD = 1_000_000


def _facet_pairs(cols: list[str]):
    """(facet, value) struct array for the single melt explode shared
    by facet_counts / facet_stats — one explode regardless of facet
    count.  NULL values pass through (count under NULL, like SQL)."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.struct(
                F.lit(c).alias("facet"),
                F.col(c).cast("string").alias("value"),
            )
            for c in cols
        ]
    )


def _facet_semi_join(meta, ids, bound: int, id_col: str, threshold):
    """The facet family's shared semi-join: metadata rows of the docs
    in ``ids`` (a (doc_id) relation), with the broadcast-vs-shuffle
    decision made EXPLICITLY from ``bound`` — a TRUE upper bound on
    the id count (dictionary df stats) — never Catalyst's estimate of
    a Python kernel's output."""
    from pyspark.sql import functions as F

    ids = ids.select(F.col("doc_id").alias("__fid"))
    if threshold is None:
        threshold = _FACET_BROADCAST_THRESHOLD
    if bound <= threshold:
        ids = F.broadcast(ids)
    else:
        ids = ids.hint("shuffle_hash")
    return meta.join(ids, meta[id_col] == F.col("__fid"), "left_semi")


def _facet_count_agg(joined, cols: list[str]):
    from pyspark.sql import functions as F

    return (
        joined.select(F.explode(_facet_pairs(cols)).alias("fv"))
        .select("fv.facet", "fv.value")
        .groupBy("facet", "value")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _facet_stats_agg(joined, cols: list[str], val_col: str):
    from pyspark.sql import functions as F

    return (
        joined.select(
            F.explode(_facet_pairs(cols)).alias("fv"),
            F.col(val_col).cast("long").alias("__v"),
        )
        .select("fv.facet", "fv.value", "__v")
        .groupBy("facet", "value")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
            F.sum("__v").alias("sum_v"),
        )
        .withColumn(
            "avg_v",
            F.col("sum_v").cast("double") / F.col("n_docs"),
        )
    )


def _facet_range_agg(joined, val_col: str, start: int, width: int):
    from pyspark.sql import functions as F

    bucket = F.floor(
        (F.col(val_col).cast("long") - F.lit(start)) / F.lit(width)
    )
    return (
        joined.select(
            (F.lit(start) + bucket * width).cast("long").alias("lo")
        )
        .withColumn("hi", (F.col("lo") + width).cast("long"))
        .groupBy("lo", "hi")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _facet_cardinality_agg(
    joined, cols: list[str], val_col: str, approx: bool, rsd: float
):
    from pyspark.sql import functions as F

    agg = (
        F.approx_count_distinct("__v", rsd)
        if approx
        else F.count_distinct("__v")
    )
    return (
        joined.select(
            F.explode(_facet_pairs(cols)).alias("fv"),
            F.col(val_col).alias("__v"),
        )
        .select("fv.facet", "fv.value", "__v")
        .groupBy("facet", "value")
        .agg(agg.cast("long").alias("n_distinct"))
    )


def _facet_percentiles_agg(
    joined,
    cols: list[str],
    ps: list[float],
    val_col: str,
    approx: bool,
    accuracy: int,
):
    from pyspark.sql import functions as F

    parr = F.array(*[F.lit(p) for p in ps])
    fn = F.approx_percentile if approx else F.percentile
    grouped = (
        joined.select(
            F.explode(_facet_pairs(cols)).alias("fv"),
            F.col(val_col).cast("double").alias("__v"),
        )
        .select("fv.facet", "fv.value", "__v")
        .groupBy("facet", "value")
        .agg(
            (
                fn("__v", parr, F.lit(int(accuracy)))
                if approx
                else fn("__v", parr)
            ).alias("vals")
        )
    )
    return grouped.select(
        "facet",
        "value",
        F.explode(
            F.arrays_zip(parr.alias("pct"), F.col("vals").alias("val"))
        ).alias("pv"),
    ).select(
        "facet",
        "value",
        F.col("pv.pct").alias("pct"),
        F.col("pv.val").cast("double").alias("val"),
    )


def _resolve_tomb(t) -> np.ndarray:
    """Kernel-side unwrap of :meth:`Index._tomb_handle`'s result."""
    return t.value if hasattr(t, "value") else t


def _resolve_include(h):
    """Kernel-side unwrap of a filtered-search include-set handle
    (None, ndarray, or Spark broadcast — same shapes as tombstones)."""
    if h is None:
        return None
    return h.value if hasattr(h, "value") else h


class _ByteLRU:
    """Byte-budgeted LRU for the driver-local decoded caches.  A
    long-lived serving process touches an unbounded set of distinct
    terms; without a bound the decoded-posting cache IS a slow memory
    leak.  Values are (value, nbytes); eviction pops least-recently
    used until within budget.  Snapshots returned to callers keep
    plain references, so an eviction mid-query never invalidates the
    arrays a running query already holds."""

    def __init__(self, budget_bytes: int) -> None:
        from collections import OrderedDict

        self.budget = int(budget_bytes)
        self._d: dict = OrderedDict()
        self.total = 0

    def get(self, key):
        hit = self._d.get(key)
        if hit is None:
            return None
        self._d.move_to_end(key)
        return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        old = self._d.pop(key, None)
        if old is not None:
            self.total -= old[1]
        if int(nbytes) > self.budget:
            # an entry larger than the WHOLE budget is never cached:
            # keeping it would hold the cache over budget for as long
            # as that one hot key stays hot (the caller still gets its
            # decoded value — it just isn't retained)
            return
        self._d[key] = (value, int(nbytes))
        self.total += int(nbytes)
        while self.total > self.budget and len(self._d) > 1:
            _k, (_v, nb) = self._d.popitem(last=False)
            self.total -= nb

    def __len__(self) -> int:
        return len(self._d)

    def __contains__(self, key) -> bool:
        return key in self._d


def _fold_and(terms: list[str]) -> Node:
    node: Node = Term(terms[0])
    for t in terms[1:]:
        node = And(node, Term(t))
    return node


def _fold_or(terms: list[str]) -> Node:
    node: Node = Term(terms[0])
    for t in terms[1:]:
        node = Or(node, Term(t))
    return node


class _Layout:
    """Every view an :class:`Index` derives from the on-disk layout:
    the ``segments/`` and ``docmap/`` listings, the replaced set, the
    dictionary sidecars, Blooms and probes, the split flag, the segment
    DataFrame and the decoded-posting LRU.  Each is read lazily on
    first use, so opening an Index pays for none of them.
    ``Index.refresh()`` swaps in a new object, so no view can outlive
    the layout it was read from."""

    def __init__(self, ix: "Index") -> None:
        self.spark = ix.spark
        self.path = ix.path
        self.seg_dir, self.dict_dir, self.map_dir = (
            ix.seg_dir, ix.dict_dir, ix.map_dir
        )
        # driver-local DECODED cache — the RAM analogue of the
        # reference's MemorySegment residency (`memorysegment.
        # chpl:76-118`): the local paths fill it lazily, so repeated
        # terms/segments never touch parquet (or the varint decoder)
        # again.  LRU with a BYTE budget (``local_cache_bytes``) — a
        # long-lived serving process over a rotating hot-term workload
        # must hold steady RSS, not grow per distinct term touched.
        # Keys: ("p", term) -> {seg_id: (docs, tfs, blocks|None)};
        #       ("o", term) -> {seg_id: occurrence keys};
        #       ("r", term) -> {seg_id: raw parity columns};
        #       ("m", seg_id) -> (ext_ids, doc_lens)
        self.local_cache = _ByteLRU(ix.local_cache_bytes)
        self.stats_cache: dict[str, tuple[int, int] | None] = {}
        self.segs_cache: dict[str, list[int] | None] = {}  # term -> segs
        # filled by Index._load_blooms / _bloom_candidates: whether the
        # full filter map is resident decides the probe strategy
        self.blooms: dict[int, tuple[int, bytes]] | None = None
        self.bloom_probe = None  # vectorized probe over `blooms`
        self.partial_probe = None  # (seg-set sig, probe) for the
        # dictionary-uncovered tail — see Index._bloom_candidates

    @cached_property
    def seg_files(self) -> dict:
        """seg_id -> ``os.DirEntry`` of EVERY ``segment-*.parquet`` file
        (replaced ghosts included) — the one listing of ``segments/``."""
        with os.scandir(self.seg_dir) as it:
            return {
                int(e.name[len("segment-"):-len(".parquet")]): e
                for e in it
                if e.name.startswith("segment-")
                and e.name.endswith(".parquet")
            }

    @cached_property
    def replaced(self) -> set[int]:
        """Segment ids queries must treat as dead even if files linger:
        compaction-replaced inputs (crash between manifest publish and
        deletion) AND orphan compaction outputs (crash before the
        manifest) — scanning either would double-count docs."""
        from chearch_spark.streaming.compact import replaced_seg_ids

        return replaced_seg_ids(self.path)

    @cached_property
    def all_segs(self) -> list[int]:
        """Every LIVE segment id present on disk (filename-encoded).
        The authoritative fan-out set — bloom coverage is checked
        against it, never assumed; compaction-replaced ghosts are
        excluded even if their files linger."""
        dead = self.replaced
        return sorted(s for s in self.seg_files if s not in dead)

    @cached_property
    def segs_unsplit(self) -> bool:
        """True when Spark's file-split planning can NEVER break a
        segment file across scan partitions, i.e. every segment file
        is no larger than ``min(spark.sql.files.openCostInBytes,
        spark.sql.files.maxPartitionBytes)`` (``maxSplitBytes`` is
        ``min(maxPartitionBytes, max(openCostInBytes, bytesPerCore))``,
        so that bound is sufficient for any core count).  Gates the
        shuffle-free kernel dispatch in :meth:`Index._per_segment`
        (guide §2.4): when True, every scan partition holds only WHOLE
        segments and the per-query groupBy(seg_id) exchange is
        unnecessary."""

        def _conf_bytes(key: str, default: int) -> int:
            try:
                v = str(self.spark.conf.get(key, str(default)))
            except Exception:
                return default
            v = v.strip().lower()
            for suf, mul in (
                ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                ("b", 1),
            ):
                if v.endswith(suf) and v[: -len(suf)].isdigit():
                    return int(v[: -len(suf)]) * mul
            return int(v) if v.isdigit() else default

        cap = min(
            _conf_bytes("spark.sql.files.openCostInBytes", 4 * 1024**2),
            _conf_bytes("spark.sql.files.maxPartitionBytes", 128 * 1024**2),
        )
        try:
            return all(
                e.stat().st_size <= cap for e in self.seg_files.values()
            )
        except OSError:
            return False

    @cached_property
    def docmap_files(self) -> dict[int, str]:
        """seg_id -> docmap file path (filename-encoded id)."""
        return {
            int(fn[len("docmap-"):-len(".parquet")]): os.path.join(
                self.map_dir, fn
            )
            for fn in os.listdir(self.map_dir)
            if fn.startswith("docmap-") and fn.endswith(".parquet")
        }

    @cached_property
    def dict_bounds(self) -> dict[str, tuple[str, str]]:
        """{part_file: (min_term, max_term)} — from the build-time
        ``dict_bounds.json`` sidecar, VALIDATED against the directory
        listing: a sidecar naming files that no longer exist (crash
        between the dictionary overwrite and the sidecar rewrite, or a
        concurrent finalize) is discarded and the bounds are recomputed
        from the real files — a stale sidecar would silently resolve
        present terms as absent.  A legacy index without a sidecar is
        scanned ONCE per layout."""
        from chearch_spark.build import compute_dict_bounds

        p = os.path.join(self.path, "dict_bounds.json")
        if os.path.exists(p):
            with open(p) as f:
                raw = json.load(f)["files"]
            if set(raw) <= set(os.listdir(self.dict_dir)):
                return {fn: (b[0], b[1]) for fn, b in raw.items()}
        return {
            fn: (b[0], b[1])
            for fn, b in compute_dict_bounds(self.dict_dir).items()
        }

    @cached_property
    def dict_has_segs(self) -> bool:
        """Does the dictionary carry the term → segments directory?"""
        import pyarrow.dataset as ds

        try:
            names = ds.dataset(self.dict_dir, format="parquet").schema.names
        except Exception:
            names = []
        return "segs" in names

    @cached_property
    def dict_coverage(self) -> set[int] | None:
        """Segments the directory describes (dict_coverage.json).
        None = legacy dictionary — the directory cannot be trusted for
        pruning because newer segments would be invisible to it."""
        p = os.path.join(self.path, "dict_coverage.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return {int(s) for s in json.load(f)["seg_ids"]}

    @cached_property
    def seg_df(self):
        """The segment DataFrame (file listing + schema inference paid
        once per layout, not per query)."""
        return self.spark.read.parquet(self.seg_dir)


class Index:
    """Handle to a built index directory (segments/docmap/dictionary/
    stats/manifest)."""

    def __init__(
        self, spark, path: str, *, local_cache_bytes: int = 256 << 20
    ) -> None:
        self.spark = spark
        self.path = path
        self.seg_dir = os.path.join(path, "segments")
        self.dict_dir = os.path.join(path, "dictionary")
        self.map_dir = os.path.join(path, "docmap")
        # byte budget of the layout's decoded posting/meta LRU
        self.local_cache_bytes = int(local_cache_bytes)
        self._tomb_bc = None  # Spark broadcast of a LARGE tomb set
        self.refresh()

    # -- dictionary -----------------------------------------------------
    def _dict_files_for(self, terms: list[str]) -> list[str]:
        """Part files whose term range may contain any of `terms`
        (point probes) — the sidecar makes this an O(files) in-memory
        scan with O(matching files) opens."""
        bounds = self._layout.dict_bounds
        out = []
        for fn, (lo, hi) in bounds.items():
            if any(lo <= t <= hi for t in terms):
                out.append(os.path.join(self.dict_dir, fn))
        return out

    def _dict_files_for_range(self, lo: str, hi: str) -> list[str]:
        """Part files intersecting the half-open term range [lo, hi)."""
        bounds = self._layout.dict_bounds
        return [
            os.path.join(self.dict_dir, fn)
            for fn, (fmin, fmax) in bounds.items()
            if fmin < hi and fmax >= lo
        ]

    def _dict_files_all(self) -> list[str]:
        """Every dictionary part file (bounds-sidecar order)."""
        bounds = self._layout.dict_bounds
        return [os.path.join(self.dict_dir, fn) for fn in sorted(bounds)]

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (df, cf)} dictionary probe (the reference's hash-table
        probe, `memorysegment.chpl:254-265`).

        Reads the pruned dictionary parquet directly on the driver
        instead of launching a Spark job — query terms are few, the
        probe result is tiny, and skipping the job roughly halves
        per-query latency.  File-level pruning via the range-bounds
        sidecar (only files whose [min, max] can contain a query term
        are opened), then pyarrow row-group stats prune within them.
        The same read fills the term → segments cache (exact segment
        pruning rides the stats probe for free)."""
        import pyarrow.dataset as ds

        if not terms:
            return {}
        files = self._dict_files_for(list(terms))
        if not files:
            return {}
        has_segs = self._layout.dict_has_segs
        cols = ["term", "df", "cf"] + (["segs"] if has_segs else [])
        table = ds.dataset(files, format="parquet").to_table(
            filter=ds.field("term").isin(list(terms)), columns=cols
        )
        out: dict[str, tuple[int, int]] = {}
        segs_col = table.column("segs").to_pylist() if has_segs else None
        for i, (t, df, cf) in enumerate(
            zip(*(table.column(c).to_pylist()
                  for c in ("term", "df", "cf")))
        ):
            out[t] = (int(df), int(cf))
            if segs_col is not None:
                sl = segs_col[i]
                self._layout.segs_cache[t] = (
                    None if sl is None else [int(s) for s in sl]
                )
        return out

    def _prefix_terms(self, prefix: str) -> list[str]:
        """Dictionary range probe for a prefix (terms are [a-z0-9_]+, so
        bumping the last code point gives an exclusive upper bound),
        touching only the part files whose range intersects.  Raises
        when the expansion exceeds ``MAX_PREFIX_EXPANSION`` —
        truncating silently would silently drop matches (and diverge
        from any uncapped oracle)."""
        import pyarrow.dataset as ds

        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        files = self._dict_files_for_range(prefix, hi)
        if not files:
            return []
        table = ds.dataset(files, format="parquet").to_table(
            filter=(ds.field("term") >= prefix) & (ds.field("term") < hi),
            columns=["term"],
        )
        terms = sorted(table.column("term").to_pylist())
        if len(terms) > MAX_PREFIX_EXPANSION:
            raise ValueError(
                f"prefix {prefix!r} expands to {len(terms)} dictionary "
                f"terms (> MAX_PREFIX_EXPANSION={MAX_PREFIX_EXPANSION}); "
                "use a longer prefix"
            )
        return terms

    def wildcard_terms(self, pattern: str):
        """Wildcard dictionary probe: every indexed term matching the
        glob ``pattern`` (``*`` = any run of token chars, ``?`` =
        exactly one) — (term, df) DataFrame.

        Plan: one narrow (term, df) scan of the range-partitioned
        dictionary with an anchored-regex filter (pure Catalyst
        ``rlike``, no kernel) — vocabulary-sized, never corpus-sized,
        exactly the fuzzy probe's shape.  A literal prefix before the
        first wildcard is ALSO pushed as a range predicate, so the
        scan prunes to the prefix's part files/row groups (a leading
        wildcard honestly scans the whole vocabulary — no index order
        can serve ``*ort``)."""
        pat = pattern.lower()
        return self._pattern_terms_df(
            _wildcard_regex(pat), _wildcard_literal_prefix(pat)
        )

    def regexp_terms(self, pattern: str):
        """Regexp dictionary probe (the Lucene RegexpQuery surface):
        every indexed term FULLY matching ``pattern`` — (term, df)
        DataFrame.  Same narrow range-prunable dictionary scan as
        :meth:`wildcard_terms`; the pattern must stay inside the
        Python/Java/RE2 common subset (validated) so this probe, the
        driver probe, and the SQL oracle agree."""
        if not pattern:
            raise ValueError("empty regexp")
        _validate_regexp(pattern)  # RAW: before the case fold
        p = pattern.lower()
        return self._pattern_terms_df(
            _regexp_anchored(p), _regexp_literal_prefix(p)
        )

    def _pattern_terms_df(self, java_rx: str, lead: str):
        """Shared pattern probe: one narrow (term, df) scan of the
        range-partitioned dictionary with an anchored-regex filter
        (pure Catalyst ``rlike``, no kernel) — vocabulary-sized, never
        corpus-sized; a guaranteed literal prefix is ALSO pushed as a
        range predicate so the scan prunes to its part files/row
        groups (a leading metacharacter honestly scans the whole
        vocabulary — no index order can serve it)."""
        from pyspark.sql import functions as F

        d = self.spark.read.parquet(self.dict_dir).select("term", "df")
        if lead:
            hi = lead[:-1] + chr(ord(lead[-1]) + 1)
            d = d.filter(
                (F.col("term") >= lead) & (F.col("term") < hi)
            )
        return d.filter(F.col("term").rlike(java_rx)).select(
            "term", F.col("df").cast("long").alias("df")
        )

    def suggest(self, prefix: str, k: int = 8):
        """Prefix autocomplete (the Lucene/ES completion-suggester
        surface over the reference's exact-term-only dictionary,
        `genhashkey32.chpl:7-31`): the top-``k`` indexed terms starting
        with ``prefix``, ranked by document frequency — (term, df)
        DataFrame ordered (df desc, term asc; the deterministic
        tie-break every ranked surface here uses).

        Plan: one narrow (term, df) scan of the range-partitioned
        dictionary with the prefix RANGE pushed down (terms are
        [a-z0-9_]+, so bumping the last code point gives an exclusive
        upper bound — only the part files/row groups whose term range
        intersects are read), then orderBy+limit, which Spark plans as
        TakeOrderedAndProject: per-partition top-k below the gather,
        k rows over the wire.  Vocabulary-sized, never corpus-sized;
        no cap needed — unlike the unranked Prefix/Wildcard
        expansions, a ranked LIMIT is the semantics, not a
        truncation."""
        from pyspark.sql import functions as F

        p = spec.normalize_term(prefix)
        if p != prefix.lower():
            raise ValueError(
                f"suggest prefix {prefix!r} normalizes to {p!r}; pass "
                "a plain token prefix"
            )
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        d = self.spark.read.parquet(self.dict_dir).select("term", "df")
        return (
            d.filter((F.col("term") >= p) & (F.col("term") < hi))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(int(k))
        )

    def _wildcard_expansion_terms(self, pattern: str) -> list[str]:
        """Expansion list for a Wildcard leaf (shared machinery
        docstring on :meth:`_expansion_terms_by_regex`)."""
        pat = pattern.lower()
        return self._expansion_terms_by_regex(
            _wildcard_regex(pat),
            _wildcard_literal_prefix(pat),
            f"wildcard {pattern!r}",
        )

    def _regexp_expansion_terms(self, pattern: str) -> list[str]:
        """Expansion list for a Regexp leaf (pattern pre-validated by
        ``_normalize``)."""
        return self._expansion_terms_by_regex(
            _regexp_anchored(pattern),
            _regexp_literal_prefix(pattern),
            f"regexp {pattern!r}",
        )

    def _expansion_terms_by_regex(
        self, anchored_rx: str, lead: str, what: str
    ) -> list[str]:
        """Shared pattern-expansion probe — sorted, CAPPED at
        ``MAX_PREFIX_EXPANSION`` with the same raise-don't-truncate
        discipline as Prefix (pattern matches are unranked).

        Prefix-anchored patterns probe only the part files whose term
        range intersects (driver-side pyarrow, like Prefix); leading
        metacharacters over a dictionary small enough to read
        driver-side (``FUZZY_DRIVER_DICT_BYTES``) scan it with
        pyarrow, larger ones run the distributed
        :meth:`_pattern_terms_df` probe — ``anchored_rx`` is inside
        the Python/Java common subset, so both paths agree."""
        import re as _re

        import pyarrow.dataset as ds

        rx = _re.compile(anchored_rx)
        if lead:
            hi = lead[:-1] + chr(ord(lead[-1]) + 1)
            files = self._dict_files_for_range(lead, hi)
            if not files:
                return []
            table = ds.dataset(files, format="parquet").to_table(
                filter=(ds.field("term") >= lead)
                & (ds.field("term") < hi),
                columns=["term"],
            )
            terms = sorted(
                t for t in table.column("term").to_pylist() if rx.fullmatch(t)
            )
        else:
            # the bounds-sidecar listing, NOT a raw os.listdir: an
            # explicitly-listed dot-prefixed in-progress tmp part
            # (concurrent finalize) would be read by pyarrow despite
            # its prefix — only published files appear in the sidecar
            files = self._dict_files_all()
            if not files:
                return []
            total = sum(os.path.getsize(f) for f in files)
            if total <= FUZZY_DRIVER_DICT_BYTES:
                table = ds.dataset(files, format="parquet").to_table(
                    columns=["term"]
                )
                terms = sorted(
                    t
                    for t in table.column("term").to_pylist()
                    if rx.fullmatch(t)
                )
            else:
                terms = sorted(
                    r.term
                    for r in self._pattern_terms_df(
                        anchored_rx, lead
                    ).collect()
                )
        if len(terms) > MAX_PREFIX_EXPANSION:
            raise ValueError(
                f"{what} expands to {len(terms)} dictionary "
                f"terms (> MAX_PREFIX_EXPANSION={MAX_PREFIX_EXPANSION}); "
                "narrow the pattern"
            )
        return terms

    def fuzzy_terms(self, query: str, max_edits: int = 1):
        """Fuzzy dictionary probe: every indexed term within
        ``max_edits`` (1) of ``query`` — (term, df, dist) DataFrame.

        Runs as a Spark job over the range-partitioned dictionary
        parquet: a distance-1 match can differ in its FIRST character,
        so no range pruning applies and the honest plan is one narrow
        (term, df) scan with the deletion-variant candidate projection
        + native levenshtein verify (operators/fuzzy.py) — all
        Catalyst expressions, no kernel, vocabulary-sized not
        corpus-sized."""
        from pyspark.sql import functions as F

        from chearch_spark.operators.fuzzy import fuzzy_match_col

        if max_edits != 1:
            raise ValueError("fuzzy_terms supports max_edits=1")
        q = query.lower()
        d = self.spark.read.parquet(self.dict_dir).select("term", "df")
        return d.filter(fuzzy_match_col(F.col("term"), q)).select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.levenshtein(F.col("term"), F.lit(q)).cast("int").alias(
                "dist"
            ),
        )

    def _fuzzy_candidates(self, query: str) -> list[tuple[str, int, int]]:
        """(term, df, dist) rows within one edit of ``query`` — the
        shared probe under Fuzzy expansion and the spell suggester.

        Small dictionaries (sum of part-file bytes under
        ``FUZZY_DRIVER_DICT_BYTES``) probe DRIVER-SIDE — a pyarrow
        (term, df) read plus the two-pointer distance-1 check, no
        Spark job, keeping local_search latency in the ms range.
        Bigger dictionaries use the distributed probe
        (:meth:`fuzzy_terms`).  A parity test pins the two paths to
        identical expansions."""
        q = query.lower()
        files = self._dict_files_all()
        if not files:
            return []
        total = sum(os.path.getsize(f) for f in files)
        if total <= FUZZY_DRIVER_DICT_BYTES:
            import pyarrow.dataset as ds

            table = ds.dataset(files, format="parquet").to_table(
                columns=["term", "df"]
            )
            return [
                (t, int(df), 0 if t == q else 1)
                for t, df in zip(
                    table.column("term").to_pylist(),
                    table.column("df").to_pylist(),
                )
                if _within_one_edit(t, q)
            ]
        return [
            (r.term, int(r.df), int(r.dist))
            for r in self.fuzzy_terms(q).collect()
        ]

    def _fuzzy_expansion_terms(
        self, query: str, max_expansions: int | None = None
    ) -> list[str]:
        """Ranked, capped expansion list for a Fuzzy leaf: (dist asc,
        df desc, term asc), cap ``MAX_FUZZY_EXPANSIONS``."""
        from chearch_spark.operators.fuzzy import MAX_FUZZY_EXPANSIONS

        cap = max_expansions or MAX_FUZZY_EXPANSIONS
        rows = self._fuzzy_candidates(query)
        ranked = sorted(rows, key=lambda r: (r[2], -r[1], r[0]))[:cap]
        return [t for t, _df, _d in ranked]

    def spell_suggest(self, query: str, k: int = 3):
        """ES/Solr term suggester (``suggest_mode=missing``): for each
        query token ABSENT from the dictionary, the top-``k``
        corrections within one edit, ranked (df desc, term asc) —
        "did you mean" over the index's own vocabulary, not a side
        lexicon.  Known tokens produce no rows (they need no
        correction); a missing token with no near term produces no
        rows either.  Returns (token, rank, suggestion, df).

        The probe is vocabulary-sized, never corpus-sized: one
        dictionary stats read for the known-token check (the same
        O(1)-file probe a query pays) plus the shared fuzzy candidate
        scan per unknown token."""
        toks: list[str] = []
        for t in spec.tokenize(query):
            if t not in toks:
                toks.append(t)
        stats = self._cached_stats(toks)
        rows = []
        for t in toks:
            if t in stats:
                continue
            cands = [
                (term, df)
                for term, df, dist in self._fuzzy_candidates(t)
                if dist > 0
            ]
            cands.sort(key=lambda r: (-r[1], r[0]))
            for rank, (term, df) in enumerate(cands[:k], 1):
                rows.append((t, rank, term, int(df)))
        return self.spark.createDataFrame(
            rows, "token string, rank int, suggestion string, df long"
        )

    def did_you_mean(self, query: str) -> str | None:
        """Whole-query correction: every unknown token replaced by its
        best suggestion (top spell_suggest row), known tokens kept.
        None when nothing needed correcting — the ES convention where
        an absent suggestion means the query was already well-formed.
        Unknown tokens with NO near term stay as typed (correcting the
        rest still helps)."""
        fix = {
            r["token"]: r["suggestion"]
            for r in self.spell_suggest(query, k=1).collect()
        }
        if not fix:
            return None
        return " ".join(fix.get(t, t) for t in spec.tokenize(query))

    def fuzzy_search(
        self,
        query: str,
        k: int = spec.DEFAULT_K,
        max_edits: int = 1,
        max_expansions: int | None = None,
    ):
        """BM25 top-k for a possibly-misspelled term — sugar for
        ``search(Fuzzy(query), k)`` (the Fuzzy leaf composes with the
        whole algebra; see plans/query.py).  The expansion list is
        tiny (capped), the search itself keeps its audited plan."""
        if max_edits != 1:
            raise ValueError("fuzzy_search supports max_edits=1")
        terms = self._fuzzy_expansion_terms(query, max_expansions)
        if not terms:
            return self.search(_IMPOSSIBLE, k=k)  # empty result shape
        node: Node = Term(terms[0])
        for t in terms[1:]:
            node = Or(node, Term(t))
        return self.search(node, k=k)

    def _expand(self, node: Node) -> Node:
        """Replace Prefix leaves with OR-folds of dictionary matches."""
        if isinstance(node, Prefix):
            terms = self._prefix_terms(node.prefix)
            if not terms:
                return _IMPOSSIBLE
            out: Node = Term(terms[0])
            for t in terms[1:]:
                out = Or(out, Term(t))
            return out
        if isinstance(node, Fuzzy):
            terms = self._fuzzy_expansion_terms(node.term)
            if not terms:
                return _IMPOSSIBLE
            out2: Node = Term(terms[0])
            for t in terms[1:]:
                out2 = Or(out2, Term(t))
            return out2
        if isinstance(node, Wildcard):
            terms = self._wildcard_expansion_terms(node.pattern)
            if not terms:
                return _IMPOSSIBLE
            out3: Node = Term(terms[0])
            for t in terms[1:]:
                out3 = Or(out3, Term(t))
            return out3
        if isinstance(node, Regexp):
            terms = self._regexp_expansion_terms(node.pattern)
            if not terms:
                return _IMPOSSIBLE
            out5: Node = Term(terms[0])
            for t in terms[1:]:
                out5 = Or(out5, Term(t))
            return out5
        if isinstance(node, PhrasePrefix):
            # one OR-fold of Phrase leaves, one per completion of the
            # trailing prefix (term-asc order pins the fold shape);
            # the expanded tree reuses the positions kernel unchanged
            lead = node.words[:-1]
            terms = self._prefix_terms(node.words[-1])
            if not terms:
                return _IMPOSSIBLE
            out4: Node = Phrase(lead + (terms[0],))
            for t in terms[1:]:
                out4 = Or(out4, Phrase(lead + (t,)))
            return out4
        if isinstance(node, And):
            return And(self._expand(node.a), self._expand(node.b))
        if isinstance(node, Or):
            return Or(self._expand(node.a), self._expand(node.b))
        if isinstance(node, Diff):
            return Diff(self._expand(node.a), self._expand(node.b))
        if isinstance(node, MinShould):
            # a clause expanding to _IMPOSSIBLE simply never matches —
            # the m-of-n count is over the ORIGINAL clause list
            return MinShould(
                tuple(self._expand(c) for c in node.clauses), node.m
            )
        if isinstance(node, DisMax):
            return DisMax(
                tuple(self._expand(c) for c in node.clauses), node.tie
            )
        if isinstance(node, ConstantScore):
            return ConstantScore(self._expand(node.query), node.boost)
        if isinstance(node, Boosting):
            return Boosting(
                self._expand(node.positive),
                self._expand(node.negative),
                node.negative_boost,
            )
        if isinstance(node, Filter):
            return Filter(self._expand(node.query))
        return node

    def _prep(self, query: Node | str) -> Node:
        if isinstance(query, str):
            # full query-string grammar (plans/parser.py): whitespace =
            # AND, OR/NOT keywords, parens, -negation, tok* prefix,
            # tok~ fuzzy.  A single bare token parses to Term(token),
            # so the historical string behavior is unchanged.
            from chearch_spark.plans.parser import parse_query

            query = parse_query(query)
        return self._expand(_normalize(query))

    def dictionary(self):
        """Full dictionary DataFrame (term, df, cf)."""
        return self.spark.read.parquet(self.dict_dir)

    def docmap(self):
        """(doc_id, seg_id, doc_index, doc_len, sha256) — live segments
        only (compaction ghosts excluded during a crash window)."""
        dm = self.spark.read.parquet(self.map_dir)
        dead = self._layout.replaced
        if dead:
            from pyspark.sql import functions as F

            dm = dm.filter(~F.col("seg_id").isin([int(s) for s in dead]))
        return dm

    # -- segment pruning (per-segment term Blooms) ------------------------
    def _load_blooms(self) -> dict[int, tuple[int, bytes]]:
        lay = self._layout
        if lay.blooms is None:
            from chearch_spark.operators.bloom import read_bloom_map

            lay.blooms = read_bloom_map(os.path.join(self.path, "blooms"))
        return lay.blooms

    def refresh(self) -> None:
        """Reload the global stats and drop every cached view of the
        on-disk layout (file listings, dictionary sidecars, Blooms,
        probe results, the split flag and the decoded-posting LRU — all
        of it lives on one :class:`_Layout`, replaced here as a whole)
        and the tombstone set.  Call after a compaction/finalize (or
        any maintenance that adds/removes segment files) on a
        long-lived Index — the old layout holds file listings whose
        members maintenance deletes, and scoring with a stale
        n_docs/avgdl would break rank-identity with a freshly opened
        Index.  Nothing is read until the next query needs it."""
        with open(os.path.join(self.path, "stats.json")) as f:
            self.stats = json.load(f)
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self._layout = _Layout(self)
        self._forget_tombstones()

    def delete(self, doc_ids) -> int:
        """Tombstone external doc ids on THIS index and make the
        handle see them at once (only the tombstone cache is
        invalidated — no file-listing/bloom/dictionary reload, so the
        next query pays ~nothing extra).  Returns the number of newly
        deleted ids.  Physical purge happens at the next
        ``compact_stream_segments``."""
        from chearch_spark.tombstones import delete_docs

        n = delete_docs(self.path, doc_ids)
        if n:
            self._forget_tombstones()
        return n

    def _forget_tombstones(self) -> None:
        """Drop the cached tombstone set and its broadcast (if any);
        the next query reloads them."""
        self._tomb: np.ndarray | None = None  # sorted deleted ext ids
        if self._tomb_bc is not None:
            try:
                self._tomb_bc.unpersist()
            except Exception:
                pass  # session already stopped
            self._tomb_bc = None

    def _tombstones(self) -> np.ndarray:
        """Sorted external doc ids deleted via
        :func:`chearch_spark.tombstones.delete_docs` — excluded from
        every query result until a compaction purges them physically.
        Cached per Index; ``delete()`` and ``refresh()`` reload."""
        if self._tomb is None:
            from chearch_spark.tombstones import load_tombstones

            self._tomb = load_tombstones(self.path)
        return self._tomb

    def _tomb_handle(self):
        """Tombstone set in the form query kernels should capture:
        the ndarray itself when small (cheap closure), a Spark
        BROADCAST above ``_TOMB_BROADCAST_THRESHOLD`` ids — a large
        closure-captured array re-ships with every task and can
        exceed the RPC message limit outright.  Kernels unwrap with
        :func:`_resolve_tomb`."""
        t = self._tombstones()
        if len(t) <= _TOMB_BROADCAST_THRESHOLD:
            return t
        if self._tomb_bc is None:
            self._tomb_bc = self.spark.sparkContext.broadcast(t)
        return self._tomb_bc

    def _all_seg_ids(self) -> list[int]:
        """Every LIVE segment id present on disk (see
        :attr:`_Layout.all_segs`)."""
        return self._layout.all_segs

    def _segments_unsplittable(self) -> bool:
        """Can Spark never split a segment file across scan partitions
        (see :attr:`_Layout.segs_unsplit`)?"""
        return self._layout.segs_unsplit

    def profile(self, query: Node | str, k: int = spec.DEFAULT_K) -> dict:
        """Query profiling (the Elasticsearch ``_profile`` flavor):
        driver-side diagnostics for one search — which scoring fast
        path the kernel will take, how many dictionary terms the query
        expanded to, how hard segment pruning worked, the match-count
        upper bound the probe implies, and per-stage wall timings
        (prep / stats probe / pruning / execution).  ``execute`` cost
        includes the collect; everything before it is the driver-side
        planning work a query pays before any Spark job."""
        import time

        t0 = time.time()
        node = self._prep(query)
        t_prep = time.time()
        terms = node.terms()
        stats = self._cached_stats(terms)
        t_probe = time.time()
        cand = self.candidate_segments(node)
        t_prune = time.time()
        rows = self.search(node, k=k).collect()
        t_exec = time.time()
        if disjunctive_terms(node) is not None:
            plan = "wand_or"
        elif conjunctive_terms(node) is not None:
            plan = "conjunctive_pruned"
        elif has_structured_scoring(node):
            plan = "structural"
        elif has_positional(node):
            plan = "positional"
        else:
            plan = "docset_algebra"
        total = len(self._all_seg_ids())
        scanned = total if cand is None else len(cand)
        return {
            "terms": terms,
            "n_terms": len(terms),
            "plan": plan,
            "segments_total": total,
            "segments_scanned": scanned,
            "segments_pruned": total - scanned,
            "match_upper_bound": self._match_upper_bound(node),
            "terms_in_dictionary": len(stats),
            "k": k,
            "n_hits": len(rows),
            "timings_ms": {
                "prep": round((t_prep - t0) * 1000, 3),
                "stats_probe": round((t_probe - t_prep) * 1000, 3),
                "segment_pruning": round((t_prune - t_probe) * 1000, 3),
                "execute": round((t_exec - t_prune) * 1000, 3),
            },
        }

    def snapshot(self, dest: str) -> dict:
        """Consistent point-in-time copy of the index (the ES
        snapshot/restore surface): LIVE segment + docmap files (ghosts
        a compaction already replaced are skipped), the dictionary and
        its sidecars, blooms, all three manifest kinds, stats, and any
        PENDING tombstones — staged into a per-PID temp dir and
        published with ONE atomic rename, so a crashed snapshot never
        leaves a half-copy that looks restorable (presence of
        stats.json == complete, the build's own publication rule).
        The copy restores as an independent ``Index(spark, dest)``:
        identical results, unaffected by later source deletes or
        compactions.  Returns {files, bytes}.

        Call between finalizes: files visible at entry define the
        snapshot (the same manifests-are-truth discipline queries use).
        """
        import shutil

        if os.path.exists(os.path.join(dest, "stats.json")):
            raise FileExistsError(f"snapshot destination {dest} exists")
        lay = self._layout
        # fresh dot-prefixed stage dir (r7, ADVICE): a fixed
        # {dest}.snap.{pid} name + makedirs(exist_ok=True) could
        # publish a crashed earlier attempt's stale files after PID
        # reuse, and an un-prefixed basename is visible to directory
        # scanners — mkdtemp gives an unused name every time and the
        # '.' prefix keeps the repo's atomic-write discipline
        import tempfile as _tempfile

        parent = os.path.dirname(os.path.abspath(dest)) or "."
        os.makedirs(parent, exist_ok=True)
        stage = _tempfile.mkdtemp(
            prefix=f".{os.path.basename(dest)}.snap.", dir=parent
        )
        n_files = 0
        n_bytes = 0

        def cp(src: str, rel: str) -> None:
            nonlocal n_files, n_bytes
            out = os.path.join(stage, rel)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            shutil.copy2(src, out)
            n_files += 1
            n_bytes += os.path.getsize(src)

        for sid in lay.all_segs:
            seg_f, dm_f = lay.seg_files[sid], lay.docmap_files[sid]
            cp(seg_f.path, f"segments/{seg_f.name}")
            cp(dm_f, f"docmap/{os.path.basename(dm_f)}")
        for sub in ("dictionary", "blooms", "tombstones"):
            p = os.path.join(self.path, sub)
            if os.path.isdir(p):
                for fn in sorted(os.listdir(p)):
                    if not fn.startswith((".", "_")):
                        cp(os.path.join(p, fn), f"{sub}/{fn}")
        for fn in sorted(os.listdir(self.path)):
            if fn.endswith(".json") and not fn.startswith((".", "_")):
                cp(os.path.join(self.path, fn), fn)
        try:
            # mkdtemp stages with mode 0700; publish with the source
            # index directory's permissions instead
            os.chmod(stage, stat.S_IMODE(os.stat(self.path).st_mode))
            os.rename(stage, dest)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        return {"files": n_files, "bytes": n_bytes}

    def segments(self):
        """Per-segment observability rows (the Elasticsearch
        ``_segments`` surface): (seg_id, source, n_docs, n_terms,
        bytes, docmap_bytes) for every LIVE segment — ``source`` is
        'batch' (initial build), 'stream' (micro-batch ingest) or
        'compacted' (a compaction output), resolved from the manifest
        kinds.  Counts come from parquet FOOTER metadata (num_rows),
        not data reads, so the cost is two footer opens per live
        segment — an admin call, same order as one query's fan-out;
        deep validation is ``scripts/verify_index.py`` (fsck).

        n_terms = posting-group rows minus the per-segment meta row."""
        import glob as glob_

        import pyarrow.parquet as pq

        source: dict[int, str] = {}
        for mp in sorted(
            glob_.glob(os.path.join(self.path, "manifest-batch-*.json"))
        ):
            with open(mp) as f:
                for r in json.load(f).get("segments", []):
                    source[int(r["seg_id"])] = "stream"
        for mp in sorted(
            glob_.glob(os.path.join(self.path, "manifest-compact-*.json"))
        ):
            with open(mp) as f:
                for r in json.load(f).get("segments", []):
                    source[int(r["seg_id"])] = "compacted"
        # filename-encoded ids with kind-specific zero padding (batch
        # 5 digits, stream/compact 9) — the layout's listing, never
        # a formatted name
        seg_files = self._layout.seg_files
        rows = []
        for sid in self._all_seg_ids():
            seg_f = seg_files[sid].path
            dm_f = self._docmap_file_of(sid)
            rows.append(
                (
                    sid,
                    source.get(sid, "batch"),
                    int(pq.read_metadata(dm_f).num_rows),
                    int(pq.read_metadata(seg_f).num_rows) - 1,
                    int(os.path.getsize(seg_f)),
                    int(os.path.getsize(dm_f)),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "seg_id int, source string, n_docs long, n_terms long, "
            "bytes long, docmap_bytes long",
        )

    def index_stats(self) -> dict:
        """Index-level observability (the Elasticsearch ``_stats``
        surface), all from manifests + file metadata — no data scan:
        doc/token/segment totals, pending deletes (tombstones not yet
        GC'd — compaction purges their postings but the files persist
        until ``gc_tombstones``), distinct dictionary terms (parquet
        footer row counts), and on-disk byte totals per store."""
        import pyarrow.parquet as pq

        def dir_bytes(sub: str) -> int:
            p = os.path.join(self.path, sub)
            if not os.path.isdir(p):
                return 0
            return sum(
                os.path.getsize(os.path.join(p, fn))
                for fn in os.listdir(p)
                if not fn.startswith((".", "_"))
            )

        dict_terms = sum(
            pq.read_metadata(f).num_rows for f in self._dict_files_all()
        )
        bytes_by_store = {
            sub: dir_bytes(sub)
            for sub in ("segments", "docmap", "dictionary", "blooms")
        }
        return {
            "n_docs": self.n_docs,
            "total_tokens": int(self.stats["total_tokens"]),
            "avgdl": self.avgdl,
            "live_segments": len(self._all_seg_ids()),
            "replaced_segments": len(self._layout.replaced),
            "pending_deletes": int(len(self._tombstones())),
            "dict_terms": int(dict_terms),
            "bytes": {**bytes_by_store, "total": sum(bytes_by_store.values())},
        }

    def candidate_segments(
        self, node: Node, allow_spark: bool = True
    ) -> list[int] | None:
        """Segments that may answer `node`, via the per-segment term
        Blooms (operators/bloom.py): pure-AND requires every term,
        everything else requires ≥ 1 term.  None = no bloom data
        (older index) — scan everything.

        Pruning sources, best first:

        * the term → segments DIRECTORY in the dictionary (exact, no
          false positives, and the read is the same stats probe the
          query performs anyway) — used when the dictionary has a
          ``segs`` column and a coverage file; segments ingested after
          the last finalize are outside the coverage and always
          scanned;
        * per-segment Blooms (probabilistic): legacy indexes, or
          segments the directory doesn't cover.  Coverage is ADVISORY
          in both schemes: an unlisted segment is always included —
          pruning must never drop results, only file opens.

        Past ``bloom.DISTRIBUTED_PROBE_THRESHOLD`` segments the bloom
        probe runs as a Spark job over the blooms parquet (filter bytes
        never reach the driver); below it, the driver-resident
        vectorized ``BloomProbe`` answers in sub-ms."""
        lay = self._layout
        dead = lay.replaced
        terms = node.terms()
        all_segs = lay.all_segs
        live = sorted(all_segs) if dead else None
        if not terms:
            return live
        require_all = all_terms_required(node)

        live_set = set(all_segs)
        covered = lay.dict_coverage
        if covered is not None and lay.dict_has_segs:
            stats = self._cached_stats(terms)
            cov_live = covered & live_set
            sets = []
            for t in terms:
                if t not in stats:
                    sets.append(set())  # not in the dictionary at all
                else:
                    sl = lay.segs_cache.get(t)
                    # None = hot term over DICT_SEGS_CAP: everywhere
                    sets.append(
                        cov_live if sl is None else set(sl) & live_set
                    )
            cand = (
                set.intersection(*sets) if require_all else set.union(*sets)
            ) if sets else set()
            # segments the directory doesn't describe (post-finalize
            # ingest): probe their BLOOMS — written per micro-batch, so
            # fresh segments still prune; only bloom-less ones scan
            # unconditionally
            uncovered = live_set - covered
            if uncovered:
                bc = self._bloom_candidates(
                    terms, require_all, allow_spark, restrict=uncovered
                )
                if bc is not None:
                    bcand, bloomed = bc
                    uncovered = (uncovered & bcand) | (uncovered - bloomed)
            return sorted(cand | uncovered)

        bc = self._bloom_candidates(terms, require_all, allow_spark)
        if bc is None:
            return live
        bcand, bloomed = bc
        return sorted((bcand & live_set) | (live_set - bloomed))

    def _bloom_candidates(
        self,
        terms: list[str],
        require_all: bool,
        allow_spark: bool,
        restrict: set[int] | None = None,
    ) -> tuple[set[int], set[int]] | None:
        """(candidate seg ids, bloomed seg ids) from the per-segment
        Blooms, or None when no bloom data exists.

        ``restrict``: the only seg ids whose membership the caller
        still needs adjudicated (the dictionary directory already
        decided the covered ones).  The probe scope — not the total
        segment count — picks the strategy:

        * scope ≤ DISTRIBUTED_PROBE_THRESHOLD: driver-resident
          vectorized probe.  With ``restrict`` set, ONLY those
          segments' bloom rows are read (row-group-pruned pyarrow
          read, cached per uncovered-set) — a 100k-segment index whose
          post-finalize tail is a few thousand segments keeps warm
          probes sub-ms instead of paying a per-query Spark job, and
          the driver never holds the full 100k-filter map;
        * scope above it (huge tail, or a legacy index with no
          directory at all): a Spark job over the blooms parquet —
          restricted to the scope's rows when given, and filter bytes
          never reach the driver.  A driver-local caller
          (``allow_spark=False``) over such a scope gets None instead:
          pruning is advisory, so it degrades to scanning the scope
          rather than loading an unbounded filter map."""
        from chearch_spark.operators import bloom as bloom_mod

        bloom_dir = os.path.join(self.path, "blooms")
        if not (os.path.isdir(bloom_dir) and os.listdir(bloom_dir)):
            return None
        scope = (
            len(restrict)
            if restrict is not None
            else len(self._all_seg_ids())
        )
        if (
            scope > bloom_mod.DISTRIBUTED_PROBE_THRESHOLD
            and self._layout.blooms is None  # a loaded map stays hot
        ):
            if not allow_spark:
                # driver-local caller, over-threshold scope: loading
                # the map would be the exact blowup the threshold
                # guards; skip pruning (advisory) instead
                return None
            cand_l, bloomed_l = bloom_mod.probe_blooms_spark(
                self.spark, bloom_dir, terms, require_all,
                seg_ids=sorted(restrict) if restrict is not None else None,
            )
            return set(cand_l), set(bloomed_l)
        if restrict is not None and self._layout.blooms is None:
            probe = self._restricted_probe(restrict, bloom_dir)
            if probe is None:
                return None
            return (
                set(probe.candidates(terms, require_all)),
                probe.seg_set,
            )
        blooms = self._load_blooms()
        if not blooms:
            return None
        lay = self._layout
        if lay.bloom_probe is None:
            lay.bloom_probe = bloom_mod.BloomProbe(blooms)
        return (
            set(lay.bloom_probe.candidates(terms, require_all)),
            lay.bloom_probe.seg_set,
        )

    def _restricted_probe(self, restrict: set[int], bloom_dir: str):
        """Driver-side BloomProbe over ONLY the restricted segments'
        bloom rows, cached until the restricted set changes (it only
        does on refresh after an ingest/finalize).  Returns None when
        none of the restricted segments have bloom entries."""
        from chearch_spark.operators import bloom as bloom_mod

        lay = self._layout
        sig = frozenset(restrict)  # exact: stale reuse is impossible
        if lay.partial_probe is not None and lay.partial_probe[0] == sig:
            return lay.partial_probe[1]
        blooms = bloom_mod.read_bloom_map(bloom_dir, seg_ids=restrict)
        probe = bloom_mod.BloomProbe(blooms) if blooms else None
        lay.partial_probe = (sig, probe)
        return probe

    # -- scan -----------------------------------------------------------
    def _segment_scan(
        self, terms: list[str], columns: list[str], segs: list[int] | None = None
    ):
        from pyspark.sql import functions as F

        scan = self._layout.seg_df.filter(
            F.col("term").isin(list(terms) + [META_TERM])
        )
        if segs is not None:
            # seg_id is constant per file, so this prunes whole segment
            # files via row-group stats before any posting row is read
            scan = scan.filter(F.col("seg_id").isin([int(s) for s in segs]))
        return scan.select(*columns)

    # -- BM25 top-k -----------------------------------------------------
    def search(
        self,
        query: Node | str,
        k: int = spec.DEFAULT_K,
        with_seg: bool = False,
    ):
        """Top-k DataFrame (doc_id long, score double), rank-identical
        across parallelism levels; ties (score desc, doc_id asc).
        ``with_seg`` adds the owning (seg_id, doc_index) columns
        (internal: lets :meth:`search_with_meta` fetch each hit's
        metadata by its unique in-segment identity — exact even for
        duplicate external ids — from exactly the hit segments' docmap
        files)."""
        node = self._prep(query)
        local = self._scored_local(node, k, with_seg=with_seg)
        from pyspark.sql import functions as F

        # global gather: TakeOrderedAndProject (single exchange).  The
        # with_seg form refines ties on (seg_id, doc_index): duplicate
        # external ids can tie on BOTH (score, doc_id), and without a
        # total order the survivor at the k boundary — and hence its
        # per-hit metadata — would depend on partition encounter order
        order = [F.desc("score"), F.asc("doc_id")]
        if with_seg:
            order += [F.asc("seg_id"), F.asc("doc_index")]
        return local.orderBy(*order).limit(k)

    def search_after(
        self,
        query: Node | str,
        k: int = spec.DEFAULT_K,
        after: tuple[float, int] | None = None,
    ):
        """Cursor pagination (the Elasticsearch ``search_after``
        surface): the next ``k`` hits strictly after the cursor
        ``after = (score, doc_id)`` — the last row of the previous
        page — in the pinned total order (score desc, doc_id asc).
        Because the order is TOTAL and deterministic, pages tile the
        full ranking exactly: page 2 of k is rows k+1..2k, with no
        dependence on parallelism.

        The cursor is applied INSIDE each scoring kernel before its
        local top-k — a local cut taken before the cursor filter
        would drop docs that belong on this page (a segment can hold
        more than k docs ranking above the cursor).  Cursor equality
        is exact: both pages compute scores through the identical
        kernel float path, so the previous page's boundary score
        compares bit-identically.  Disjunctions skip the WAND fast
        path when a cursor is set (its top-k threshold doesn't
        compose with a score window) and fall back to exact full
        scoring — per-segment emission stays ≤ k either way.
        ``after=None`` degrades to plain :meth:`search`."""
        if after is None:
            return self.search(query, k)
        from pyspark.sql import functions as F

        s_a, d_a = float(after[0]), int(after[1])
        node = self._prep(query)
        local = self._scored_local(node, k, after=(s_a, d_a))
        return (
            local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )

    def _scored_local(
        self,
        node: Node,
        k: int | None,
        with_seg: bool = False,
        include_h=None,
        after: tuple[float, int] | None = None,
        stats_override: tuple[dict, float] | None = None,
    ):
        """Per-segment scored matches of a PREPPED query tree — the
        shared kernel half of :meth:`search` and
        :meth:`search_filtered`: the term-pruned segment scan with one
        Arrow kernel per segment.  ``k`` bounds each segment's local
        top-k; ``k=None`` emits EVERY match scored (the filtered
        join path truncates only after its semi-join — a local cut
        before the filter could drop the filtered winners).
        ``include_h`` is an include-set handle (ndarray or Spark
        broadcast of allowed external doc ids) applied inside the
        kernel before the local top-k.  ``stats_override`` =
        (idfs, avgdl) replaces this index's global stats — the
        federation seam (:class:`chearch_spark.federation.MultiIndex`
        scores every member against the COMBINED corpus stats, the
        exact dfs_query_then_fetch semantics)."""
        terms = node.terms()
        if stats_override is not None:
            idfs, avgdl = stats_override
        else:
            idfs = self._weighted_idfs(node, terms)
            avgdl = self.avgdl
        tomb_h = self._tomb_handle()
        cols = ["seg_id", "term", "df", "doc_ids", "tfs", "blocks"]
        if has_positional(node):
            # Phrase/Near leaves need the stored positions; plain
            # queries keep the narrower ReadSchema
            cols += ["pos_counts", "positions"]
        scan = self._segment_scan(
            terms,
            cols,
            segs=self.candidate_segments(node),
        )

        if with_seg:

            def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                ext_ids, scores, d_idx = _score_segment(
                    pdf, node, idfs, avgdl, k, _resolve_tomb(tomb_h),
                    include=_resolve_include(include_h), after=after,
                )
                return pd.DataFrame(
                    {
                        "doc_id": ext_ids,
                        "score": scores,
                        "seg_id": np.full(
                            len(ext_ids), int(pdf["seg_id"].iloc[0]),
                            dtype=np.int64,
                        ),
                        "doc_index": d_idx,
                    }
                )

            schema = "doc_id long, score double, seg_id long, doc_index long"
        else:

            def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                ext_ids, scores, _ = _score_segment(
                    pdf, node, idfs, avgdl, k, _resolve_tomb(tomb_h),
                    include=_resolve_include(include_h), after=after,
                )
                return pd.DataFrame({"doc_id": ext_ids, "score": scores})

            schema = "doc_id long, score double"

        return self._per_segment(scan, _kernel, schema)

    def _per_segment(self, scan, kernel, schema: str):
        """Dispatch a per-segment pandas kernel over the pruned scan.

        Default: ``groupBy(seg_id).applyInPandas`` — one exchange of
        the posting rows, correct for any file layout.  r7 fast path
        (guide §2.4 — remove shuffles outright): when
        :meth:`_segments_unsplittable` proves every scan partition
        holds only whole segment files, the SAME kernel runs
        partition-locally via ``mapInPandas`` (concatenate the
        partition's batches, group by seg_id in-process, apply the
        kernel per group) — identical per-segment inputs, identical
        outputs, zero exchanges.  The memory held is the partition's
        pruned posting rows — the same rows a groupBy task held."""
        if not self._segments_unsplittable():
            return scan.groupBy("seg_id").applyInPandas(kernel, schema)

        def _part(frames):
            pdfs = list(frames)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            for _, g in pdf.groupby("seg_id", sort=False):
                out = kernel(g)
                if len(out):
                    yield out

        return scan.mapInPandas(_part, schema)

    def search_filtered(
        self,
        query: Node | str,
        meta: "DataFrame",
        predicate,
        k: int = spec.DEFAULT_K,
        id_col: str = "doc_id",
        mode: str = "auto",
        collect_threshold: int | None = None,
    ):
        """Filtered search (the Lucene/Solr ``fq`` filter-query
        surface): top-``k`` BM25 over the documents matching BOTH the
        query and a metadata ``predicate`` (a Spark Column or SQL
        string over ``meta``), with scores computed from GLOBAL index
        stats — the filter restricts the doc set, never the scoring
        (Lucene filter-query semantics), so a hit scores identically
        filtered or not.

        Two plans, selected by the filter's TRUE selectivity (one
        early-terminating ``limit(threshold+1)`` probe of the filtered
        metadata scan — never a Catalyst estimate):

        * ``kernel`` (selective filter, at most ``collect_threshold``
          ids — default :data:`_FILTER_COLLECT_THRESHOLD`): the
          allowed ids ship to the scoring kernels (Spark broadcast
          above the tombstone closure threshold) and restrict the
          decoded postings BEFORE the local top-k — the mirror image
          of tombstone exclusion, same block-max-drop discipline so
          WAND stays admissible.  No join in the plan: the pruned
          scan → kernel → TakeOrderedAndProject shape of plain
          :meth:`search`, each segment emitting ≤ k rows.
        * ``join`` (broad filter): the kernels emit EVERY match
          scored (a local top-k cut before the filter could drop the
          filtered winners), one explicit shuffle-hash left-semi join
          against the allowed-id relation (forced, like
          :meth:`facet_counts` — both sides exceed any sane
          broadcast), then orderBy+limit — TakeOrderedAndProject, so
          only k rows pass the final gather.  Shuffle is bounded by
          the query docset + filter ids, never the corpus row width.

        Both paths return identical rows (pinned by test); tombstones
        apply in both."""
        from pyspark.sql import functions as F

        if mode not in ("auto", "kernel", "join"):
            raise ValueError(f"search_filtered mode {mode!r}")
        node = self._prep(query)
        allowed = meta.filter(predicate).select(
            F.col(id_col).cast("long").alias("doc_id")
        )
        if collect_threshold is None:
            collect_threshold = _FILTER_COLLECT_THRESHOLD

        inc: np.ndarray | None = None
        if mode == "auto":
            head = allowed.limit(collect_threshold + 1).collect()
            if len(head) <= collect_threshold:
                inc = np.unique(
                    np.fromiter((r[0] for r in head), dtype=np.int64,
                                count=len(head))
                )
        elif mode == "kernel":
            inc = np.unique(
                allowed.toPandas()["doc_id"].to_numpy(np.int64)
            )

        order = [F.desc("score"), F.asc("doc_id")]
        if inc is not None:
            h = inc
            if len(inc) > _TOMB_BROADCAST_THRESHOLD:
                h = self.spark.sparkContext.broadcast(inc)
            local = self._scored_local(node, k, include_h=h)
            return local.orderBy(*order).limit(k)
        scored = self._scored_local(node, None)
        return (
            scored.join(
                allowed.hint("shuffle_hash"), "doc_id", "left_semi"
            )
            .orderBy(*order)
            .limit(k)
        )

    def explain_score(self, query: Node | str, doc_id: int) -> dict:
        """Score breakdown for one document (the Lucene ``explain``
        surface): per-scoring-term tf / df / weighted idf /
        contribution plus the total, computed from the same global
        stats and in the same float order as the kernels — the test
        pins ``total`` BIT-EXACT against :meth:`search`'s score.
        Boosted terms show their weighted idf; Synonym leaves appear
        as one blended pseudo-entry (tf = sum of member tfs, df = max
        member df).  Diagnostic driver-side path: two k-row lookups
        (postings rows + the docmap row), no corpus work.  A doc
        outside the query's doc set explains to total 0.0 with its
        per-term partials (exactly what the kernel would add if the
        docset admitted it) — callers check membership via
        :meth:`match_docs`/:meth:`count` semantics, not here."""
        from pyspark.sql import functions as F

        doc_id = int(doc_id)
        node = self._prep(query)
        terms = node.terms()
        idfs = self._weighted_idfs(node, terms)
        dm = (
            self.docmap()
            .filter(F.col("doc_id") == doc_id)
            .select("doc_len")
            .collect()
        )
        if not dm:
            raise KeyError(f"doc_id {doc_id} is not in the index")
        dl = float(dm[0]["doc_len"])
        denom = spec.BM25_K1 * (
            1.0 - spec.BM25_B + spec.BM25_B * dl / self.avgdl
        )
        tf_by_term = (
            {
                r["term"]: int(r["tf"])
                for r in self.postings_df(terms)
                .filter(F.col("doc_id") == doc_id)
                .collect()
            }
            if terms
            else {}
        )
        syn_by_key = {s.key(): s for s in synonym_leaves(node)}
        stats = self._cached_stats(terms)
        out: dict[str, dict] = {}
        contrib_by_key: dict[str, float] = {}
        total = 0.0
        for t in scoring_terms(node):
            if t in syn_by_key:
                leaf = syn_by_key[t]
                tf = sum(tf_by_term.get(m, 0) for m in leaf.words)
                df = max(
                    (stats[m][0] for m in leaf.words if m in stats),
                    default=0,
                )
                label = "syn(" + "|".join(leaf.words) + ")"
            else:
                tf = tf_by_term.get(t, 0)
                df = stats[t][0] if t in stats else 0
                label = t
            idf = idfs.get(t, 0.0)
            contrib = (
                idf * tf * (spec.BM25_K1 + 1.0) / (tf + denom)
                if tf and idf
                else 0.0
            )
            out[label] = {
                "tf": int(tf),
                "df": int(df),
                "weighted_idf": idf,
                "contribution": contrib,
            }
            contrib_by_key[t] = contrib
            # same accumulation order as the kernel's scoring loop
            total += contrib
        if has_structured_scoring(node):
            # scoring combinators: the total follows the tree, not the
            # flat sum — mirror _structural_scores scalar-side in the
            # same accumulation order so it stays bit-exact vs search()
            if has_positional(node):
                raise ValueError(
                    "explain_score does not support Phrase/Near inside "
                    "scoring combinators (clause membership needs the "
                    "positions kernel)"
                )
            total = _explain_structural_total(
                node, tf_by_term, contrib_by_key
            )
        return {
            "doc_id": doc_id,
            "doc_len": int(dl),
            "avgdl": self.avgdl,
            "total": total,
            "terms": out,
        }

    def rescore(
        self,
        query: Node | str,
        rescore_query: Node | str,
        k: int = spec.DEFAULT_K,
        window: int = 100,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ):
        """Two-phase rescoring (the Elasticsearch ``rescore``
        surface): run ``query``, take its top-``window`` hits, and
        re-rank THAT WINDOW by ``query_weight * base_score +
        rescore_weight * score(rescore_query)`` — docs in the window
        that don't match the rescore query keep their base
        contribution alone; docs outside the window can never enter
        (ES semantics: rescoring refines, it does not recall).
        Returns (doc_id, score, base_score, rescore_score) in the
        combined total order (score desc, doc_id asc), top-``k`` of
        the window.

        Plan: phase 1 is a plain :meth:`search` with one O(window)
        driver gather (the same k-scale collect every pagination /
        metadata path does); phase 2 ships the window ids into the
        scoring kernels as an include set (the filtered-search kernel
        path — per-segment emission ≤ window, no corpus join), and the
        combine is one join of two ≤window-row relations.  The
        expensive rescore query (e.g. a phrase) therefore scores only
        ``window`` docs, never the corpus — the entire point of the
        surface.  Unique external doc ids assumed (the documents
        schema pins them); the rescore side aggregates by MAX, which
        is idempotent if an id is ever duplicated."""
        from pyspark.sql import functions as F

        window, k = int(window), int(k)
        if window <= 0 or k <= 0:
            raise ValueError(f"window and k must be > 0, got {window}, {k}")
        qw, rw = float(query_weight), float(rescore_weight)
        base = self.search(query, k=window).collect()
        schema = (
            "doc_id long, score double, base_score double, "
            "rescore_score double"
        )
        if not base:
            return self.spark.createDataFrame([], schema)
        inc = np.unique(
            np.fromiter((r["doc_id"] for r in base), np.int64, len(base))
        )
        h = inc
        if len(inc) > _TOMB_BROADCAST_THRESHOLD:
            h = self.spark.sparkContext.broadcast(inc)
        res = (
            self._scored_local(self._prep(rescore_query), None, include_h=h)
            .groupBy("doc_id")
            .agg(F.max("score").alias("rescore_score"))
        )
        base_df = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in base],
            "doc_id long, base_score double",
        )
        return (
            base_df.join(res, "doc_id", "left")
            .withColumn(
                "rescore_score",
                F.coalesce(F.col("rescore_score"), F.lit(0.0)),
            )
            .withColumn(
                "score",
                F.lit(qw) * F.col("base_score")
                + F.lit(rw) * F.col("rescore_score"),
            )
            .select("doc_id", "score", "base_score", "rescore_score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_collapsed(
        self,
        query: Node | str,
        meta: "DataFrame",
        collapse_col: str,
        k: int = spec.DEFAULT_K,
        id_col: str = "doc_id",
    ):
        """Field collapsing (the Elasticsearch ``collapse`` surface):
        top-``k`` hits with at most ONE hit per distinct value of
        ``collapse_col`` — each group is represented by its
        best-scoring doc (ties doc_id asc), and groups rank by their
        representative's score in the pinned total order.  NULL group
        values collapse into one NULL group, like SQL GROUP BY (ES
        does the same for missing keys).

        Plan: the kernels emit EVERY match scored (a per-segment
        top-k cut could drop a group winner that ranks below k
        locally — the same reason the filtered join path scores
        everything), one forced shuffle-hash join against the
        (doc_id, group) projection of ``meta`` (two kernel-output /
        corpus-projection relations — no sane broadcast, and never
        Catalyst's estimate), one per-group window rank, then
        orderBy+limit plans as TakeOrderedAndProject so only k rows
        pass the final gather.  The window shuffle is bounded by the
        query's match count, never corpus row width."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        node = self._prep(query)
        scored = self._scored_local(node, None)
        groups = meta.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(collapse_col).alias("__grp"),
        )
        w = Window.partitionBy("__grp").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.join(groups.hint("shuffle_hash"), "doc_id", "inner")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "doc_id", "score", F.col("__grp").alias(collapse_col)
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def top_hits_by_group(
        self,
        query: Node | str,
        meta: "DataFrame",
        group_col: str,
        n_groups: int = 5,
        n_per_group: int = 3,
        id_col: str = "doc_id",
    ):
        """Grouped top hits (the Elasticsearch terms-aggregation +
        ``top_hits`` pattern, and the SERP "grouped results" shape):
        the ``n_groups`` best groups — ranked by their best hit's
        score in the pinned total order — each with its top
        ``n_per_group`` hits.  Returns (group, group_rank, hit_rank,
        doc_id, score) ordered (group_rank, hit_rank); NULL group
        values form one group like SQL GROUP BY.
        :meth:`search_collapsed` is the ``n_per_group=1`` projection
        of this surface.

        Plan: full scored emission + the same forced shuffle-hash
        (doc_id, group) join as collapse (a per-segment top-k cut
        could drop a group's hits), ONE window partitioned by group
        ranks hits within each group (cut to n_per_group), then a
        group-best ranking over the ≤ groups·n_per_group survivors
        picks the n_groups leaders.  Both windows shuffle relations
        bounded by the match count, never corpus row width."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        n_groups, n_per_group = int(n_groups), int(n_per_group)
        if n_groups <= 0 or n_per_group <= 0:
            raise ValueError(
                f"n_groups and n_per_group must be > 0, got "
                f"{n_groups}, {n_per_group}"
            )
        node = self._prep(query)
        scored = self._scored_local(node, None)
        groups = meta.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(group_col).alias("group"),
        )
        w_hit = Window.partitionBy("group").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        hits = (
            scored.join(groups.hint("shuffle_hash"), "doc_id", "inner")
            .withColumn("hit_rank", F.row_number().over(w_hit))
            .filter(F.col("hit_rank") <= n_per_group)
        )
        # group ranking WITHOUT a self-join (a join back on the group
        # key would drop NULL groups — NULL never equals NULL in a
        # join): broadcast each group's best (score, doc_id) to its
        # rows via the group window, then dense_rank the pairs — the
        # best doc is unique per group (a doc has one group), so ranks
        # are distinct and consecutive.  The ordering window is global
        # but runs over <= total_groups * n_per_group surviving rows,
        # never the match set.
        w_g = Window.partitionBy("group").orderBy(
            F.desc("score"), F.asc("doc_id")
        ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = (
            hits.withColumn("__best", F.first("score").over(w_g))
            .withColumn("__best_doc", F.first("doc_id").over(w_g))
            .withColumn(
                "group_rank",
                F.dense_rank().over(
                    # the group key itself is the final tie-break: a
                    # doc mapped to TWO groups (duplicate meta rows)
                    # gives both the same (__best, __best_doc) pair,
                    # and without it they would share a rank — more
                    # than n_groups groups, nondeterministic order
                    Window.orderBy(
                        F.desc("__best"),
                        F.asc("__best_doc"),
                        F.asc_nulls_first("group"),
                    )
                ),
            )
            .filter(F.col("group_rank") <= n_groups)
        )
        return ranked.select(
            "group",
            F.col("group_rank").cast("int").alias("group_rank"),
            F.col("hit_rank").cast("int").alias("hit_rank"),
            "doc_id",
            "score",
        ).orderBy("group_rank", "hit_rank")

    def mlt_terms(
        self,
        doc_id: int,
        meta: "DataFrame",
        max_terms: int = 10,
        min_tf: int = 1,
        max_df_frac: float = 1.0,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> list[str]:
        """Representative-term selection for :meth:`more_like_this`
        (the Lucene MLT "interesting terms" step): the source doc's
        tokens ranked by tf·idf — idf from the GLOBAL dictionary via
        the same stats probe queries pay — keeping terms with tf ≥
        ``min_tf`` and df ≤ ``max_df_frac``·N (OPTIONAL hot-term cut —
        Lucene's maxDocFreq, unlimited by default; idf already
        down-weights hot terms), top ``max_terms`` with the
        deterministic (tf·idf desc, term asc) tie-break.

        Cost shape: ONE pushed-filter single-row fetch of the source
        text (row-group stats skip the rest of the corpus), one
        driver-side tokenize of one document, one dictionary stats
        probe over its unique tokens — never a corpus scan."""
        rows = (
            meta.filter(meta[id_col] == int(doc_id))
            .select(text_col)
            .limit(2)
            .collect()
        )
        if not rows:
            raise ValueError(f"more_like_this: doc_id {doc_id} not in meta")
        toks = spec.tokenize(rows[0][0] or "")
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        stats = self._cached_stats(sorted(tf))
        cap = max_df_frac * self.n_docs
        cand = [
            (t, n, spec.idf(self.n_docs, stats[t][0]))
            for t, n in tf.items()
            if n >= min_tf and t in stats and stats[t][0] <= cap
        ]
        cand.sort(key=lambda x: (-x[1] * x[2], x[0]))
        return [t for t, _, _ in cand[:max_terms]]

    def more_like_this(
        self,
        doc_id: int,
        meta: "DataFrame",
        k: int = spec.DEFAULT_K,
        max_terms: int = 10,
        min_tf: int = 1,
        max_df_frac: float = 1.0,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        """More-like-this (the Lucene/Elasticsearch MLT surface over
        the reference's exact-term queries): top-``k`` documents most
        similar to ``doc_id``, ranked by BM25 over the source doc's
        ``max_terms`` most representative terms (:meth:`mlt_terms`),
        the source itself excluded.

        The retrieval is the PLAIN disjunctive search path — term-
        pruned scan, WAND local top-k (k+1, so dropping the source
        never leaves the page short), TakeOrderedAndProject — i.e.
        MLT costs one extra row fetch + stats probe on top of an
        ordinary OR query; nothing new has to scale."""
        terms = self.mlt_terms(
            doc_id, meta, max_terms, min_tf, max_df_frac, text_col, id_col
        )
        from pyspark.sql import functions as F

        if not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        node: Node = Term(terms[0])
        for t in terms[1:]:
            node = Or(node, Term(t))
        return (
            self.search(node, k + 1)
            .filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # -- top-k with document metadata (E5 projection) ----------------------
    def _docmap_file_of(self, seg_id: int) -> str:
        """Docmap file path for a segment (filename-encoded id; the
        listing is parsed once per layout)."""
        return self._layout.docmap_files[int(seg_id)]

    def search_with_meta(
        self,
        query: Node | str,
        k: int = spec.DEFAULT_K,
        distributed: bool | None = None,
    ):
        """Top-k joined with the forward map — the reference's final
        projection step (docIndex -> externalDocId + metadata,
        `memorysegment.chpl:294-312`): returns (doc_id, score, doc_len,
        sha256).

        Two plans, selected by result size (``distributed=None``):

        * **driver path** (small k, the serving case): the scoring
          kernel reports each hit's owning seg_id, so metadata comes
          from opening exactly those ≤ k docmap FILES with a pushed
          doc_id filter — O(k) file opens, independent of how many
          segments the index has (a Spark scan would list every docmap
          file just to plan).
        * **distributed path** (large k / downstream DataFrame use):
          the collected doc ids become an explicit ``isin()`` predicate
          on the docmap scan — Spark does NOT push broadcast-join keys
          into a parquet data column, so without it the join would
          read the whole corpus-sized docmap; with it, row-group stats
          skip everything but the hits.

        Both paths key metadata by each hit's (seg_id, doc_index) —
        the docmap's unique key — so duplicate external doc_ids
        (re-ingested docs) get their OWN row's doc_len/sha256 and the
        two plans return identical rows."""
        from pyspark.sql import functions as F

        rows = self.search(query, k, with_seg=True).collect()
        if distributed is None:
            distributed = k > 10_000
        if not distributed:
            import pyarrow.dataset as ds

            by_seg: dict[int, list] = {}
            for r in rows:
                by_seg.setdefault(int(r.seg_id), []).append(int(r.doc_index))
            meta_of: dict[tuple[int, int], tuple[int, str]] = {}
            for seg, idxs in sorted(by_seg.items()):
                t = ds.dataset(
                    [self._docmap_file_of(seg)], format="parquet"
                ).to_table(
                    filter=ds.field("doc_index").isin(idxs),
                    columns=["doc_index", "doc_len", "sha256"],
                )
                for di, dl, sha in zip(
                    t.column("doc_index").to_pylist(),
                    t.column("doc_len").to_pylist(),
                    t.column("sha256").to_pylist(),
                ):
                    meta_of[(seg, int(di))] = (int(dl), sha)
            # one output row per TOP row, each with its OWN score and
            # its OWN metadata — duplicate external ids (re-ingested
            # docs) never collapse onto one docmap row
            out = [
                (
                    int(r.doc_id),
                    float(r.score),
                    *meta_of[(int(r.seg_id), int(r.doc_index))],
                )
                for r in rows
            ]
            out.sort(key=lambda x: (-x[1], x[0]))
            return self.spark.createDataFrame(
                out, "doc_id long, score double, doc_len int, sha256 string"
            )
        top = self.spark.createDataFrame(
            [
                (int(r.doc_id), float(r.score), int(r.seg_id),
                 int(r.doc_index))
                for r in rows
            ] or [],
            "doc_id long, score double, seg_id long, doc_index long",
        )
        ids = [int(r.doc_id) for r in rows]
        dm = self.docmap()
        if ids:
            dm = dm.filter(F.col("doc_id").isin(ids))
        else:
            dm = dm.filter(F.lit(False))
        dm = dm.select(
            F.col("seg_id").cast("long").alias("seg_id"),
            F.col("doc_index").cast("long").alias("doc_index"),
            "doc_len",
            "sha256",
        )
        return (
            dm.join(F.broadcast(top), ["seg_id", "doc_index"])
            .select("doc_id", "score", "doc_len", "sha256")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    # -- multi-query batch execution --------------------------------------
    def search_many(
        self, queries: dict[str, Node | str], k: int = spec.DEFAULT_K
    ):
        """Answer MANY queries in ONE Spark job: the segment scan is
        pruned to the union of all query terms, each kernel scores
        every query against its segment, and one window takes the
        per-query top-k.  Per-query results are identical to
        :meth:`search`; job overhead (scan listing, scheduling, the
        gather) is paid once instead of per query — the batch analogue
        of the reference TCP server funneling many CHASM programs
        through one scatter-gather engine (`chearch_srv.chpl:20-72`).

        Returns (query string, doc_id long, score double, rank int).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        nodes = {
            name: self._prep(q) for name, q in queries.items()
        }
        local = self._local_many(nodes, k)
        w = Window.partitionBy("query").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query", "doc_id", "score", F.col("rank").cast("int")
            )
            .orderBy("query", "rank")
        )

    def _local_many(
        self,
        nodes: dict,
        k: int,
        stats_override: tuple[dict, float] | None = None,
    ):
        """Pre-window half of :meth:`search_many`: per-(segment, query)
        local top-k rows (query, doc_id, score) from ONE shared
        union-term scan.  ``stats_override`` = ({query: idfs}, avgdl)
        replaces this index's global stats — the federation seam
        (every member of a MultiIndex batch scores against the
        COMBINED view, and the window runs once over the union)."""
        union_terms = sorted({t for n in nodes.values() for t in n.terms()})
        if stats_override is not None:
            idfs_by_q, avgdl = stats_override
        else:
            stats = self._cached_stats(union_terms)
            idfs = {
                t: spec.idf(self.n_docs, stats[t][0])
                for t in union_terms
                if t in stats
            }
            # per-query boost weighting: two queries in one batch may
            # boost the same term differently, so each scores against
            # its own (tiny, terms-sized) weighted view of the shared
            # idfs
            idfs_by_q = {
                name: self._apply_query_weights(n, stats, idfs)
                for name, n in nodes.items()
            }
            avgdl = self.avgdl
        # prune to segments some query may touch: ONE probe on the
        # OR-fold of the union terms (a superset of the per-query
        # union; per-query probing would cost one probe — potentially
        # one Spark job past the distributed-bloom threshold — per
        # query, defeating the single-job batching this method exists
        # for)
        if union_terms:
            segs = self.candidate_segments(_fold_or(union_terms))
        else:
            segs = None
        tomb_h = self._tomb_handle()
        pos_terms = set().union(
            *(positional_terms(n) for n in nodes.values())
        ) if nodes else set()
        cols = ["seg_id", "term", "doc_ids", "tfs", "blocks"]
        if pos_terms:
            cols += ["pos_counts", "positions"]
        scan = self._segment_scan(union_terms, cols, segs=segs)

        def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            postings, meta_ids, doc_lens, blocks = _decode_segment(pdf)
            tomb = _resolve_tomb(tomb_h)
            occ = None
            if pos_terms:
                # one decode shared by every positional query in the
                # batch (occurrence keys are per-(term, segment))
                occ = _drop_occ_tombstoned(
                    _decode_occurrences(pdf, pos_terms), meta_ids, tomb
                )
            postings, blocks = _drop_tombstoned(
                postings, blocks, meta_ids, tomb
            )
            out = {"query": [], "doc_id": [], "score": []}
            for name, node in nodes.items():
                ids, scores, _ = _score_decoded(
                    node, postings, meta_ids, doc_lens, blocks,
                    idfs_by_q[name], avgdl, k, occ,
                )
                out["query"].extend([name] * len(ids))
                out["doc_id"].extend(ids.tolist())
                out["score"].extend(scores.tolist())
            return pd.DataFrame(
                {
                    "query": pd.Series(out["query"], dtype=object),
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "score": pd.Series(out["score"], dtype="float64"),
                }
            )

        return self._per_segment(
            scan, _kernel, "query string, doc_id long, score double"
        )

    def _weighted_idfs(
        self, node: Node, terms: list[str] | None = None
    ) -> dict[str, float]:
        """Per-term BM25 idf for a PREPPED tree, multiplied by the
        tree's query-time boosts (:func:`scoring_weights`).  Boosting
        the idf is the one integration point every scoring path shares
        — the WAND fast path stays admissible because its block-max
        bounds scale linearly with the idf factor exactly like the
        scores do, and matching is untouched (weights never enter
        docset evaluation)."""
        if terms is None:
            terms = node.terms()
        stats = self._cached_stats(terms)
        base = {
            t: spec.idf(self.n_docs, stats[t][0])
            for t in terms
            if t in stats
        }
        return self._apply_query_weights(node, stats, base)

    def _apply_query_weights(self, node: Node, stats, idfs):
        """Boost multipliers + blended synonym idfs over a base idf
        dict — the ONE source of truth for query-time reweighting,
        shared by :meth:`_weighted_idfs` (single-query paths) and
        :meth:`search_many` (per-query views over one shared base).
        Returns the input dict unchanged when the query carries no
        boosts or synonyms."""
        w = scoring_weights(node)
        syn = self._synonym_idfs(node, stats)
        if not w and not syn:
            return idfs
        out = {t: v * w.get(t, 1.0) for t, v in idfs.items()}
        out.update(syn)
        return out

    def _synonym_idfs(self, node: Node, stats) -> dict[str, float]:
        """Blended idf per Synonym leaf: df = MAX of member dfs (the
        Lucene SynonymQuery / BlendedTermQuery document-frequency
        blend — the group is one concept, so its rarity is its most
        common member's)."""
        out: dict[str, float] = {}
        for leaf in synonym_leaves(node):
            dfs = [stats[t][0] for t in leaf.words if t in stats]
            if dfs:
                out[leaf.key()] = spec.idf(self.n_docs, max(dfs))
        return out

    # -- driver-local low-latency path ------------------------------------
    def _cached_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        cache = self._layout.stats_cache
        miss = [t for t in terms if t not in cache]
        if miss:
            got = self.term_stats(miss)
            for t in miss:
                cache[t] = got.get(t)
        return {t: cache[t] for t in terms if cache[t]}

    def _match_upper_bound(self, node: Node) -> int:
        """TRUE upper bound on ``match_docs(node)``'s row count, from
        the dictionary df stats (the same probe pruning already pays —
        no Spark job): Term <= df, And/Phrase/Near <= min of members,
        Or <= sum, Diff <= the positive side.  Drives explicit
        broadcast-vs-shuffle decisions for joins consuming a kernel's
        doc-id output, where Catalyst has only an estimate."""
        stats = self._cached_stats(node.terms())

        def df_of(t: str) -> int:
            s = stats.get(t)
            return int(s[0]) if s else 0

        def b(n: Node) -> int:
            if isinstance(n, Term):
                return df_of(n.term)
            if isinstance(n, Phrase):
                return min((df_of(t) for t in n.words), default=0)
            if isinstance(n, Near):
                return min(df_of(n.a), df_of(n.b))
            if isinstance(n, And):
                return min(b(n.a), b(n.b))
            if isinstance(n, Or):
                return b(n.a) + b(n.b)
            if isinstance(n, Diff):
                return b(n.a)
            if isinstance(n, Synonym):
                return sum(df_of(t) for t in n.words)  # union <= sum
            if isinstance(n, MinShould):
                # pigeonhole: a doc matching >= m of the n clauses
                # matches at least one of ANY (n - m + 1) of them, so
                # the (n - m + 1) SMALLEST clause bounds cover the set
                bounds = sorted(b(c) for c in n.clauses)
                return sum(bounds[: len(n.clauses) - n.m + 1])
            if isinstance(n, DisMax):
                return sum(b(c) for c in n.clauses)
            if isinstance(n, ConstantScore):
                return b(n.query)
            if isinstance(n, Boosting):
                return b(n.positive)
            if isinstance(n, Filter):
                return b(n.query)
            raise TypeError(n)

        return b(node)

    def _load_meta(self, seg_ids: list[int] | None = None) -> dict:
        """seg_id -> (ext_ids, doc_lens) for the REQUESTED live
        segments (None = all live), decoded lazily per segment and
        held in the byte-bounded LRU — a query over 3 candidate
        segments of a 100k-segment index decodes 3 meta rows, not
        100k."""
        wanted = (
            self._all_seg_ids() if seg_ids is None else list(seg_ids)
        )
        out: dict[int, tuple] = {}
        missing = []
        for sid in wanted:
            hit = self._layout.local_cache.get(("m", int(sid)))
            if hit is not None:
                out[int(sid)] = hit
            else:
                missing.append(int(sid))
        if missing:
            import pyarrow.dataset as ds

            table = ds.dataset(self.seg_dir, format="parquet").to_table(
                filter=(ds.field("term") == META_TERM)
                & ds.field("seg_id").isin(missing),
                columns=["seg_id", "doc_ids", "tfs"],
            )
            dead = self._layout.replaced
            for seg_id, doc_ids, tfs in zip(
                table.column("seg_id").to_pylist(),
                table.column("doc_ids").to_pylist(),
                table.column("tfs").to_pylist(),
            ):
                if int(seg_id) in dead:
                    continue  # compaction ghost (crash window)
                entry = (
                    codec.decode_postings(doc_ids).astype(np.int64),
                    codec.decode_varints(tfs).astype(np.int64),
                )
                nb = entry[0].nbytes + entry[1].nbytes
                self._layout.local_cache.put(("m", int(seg_id)), entry, nb)
                out[int(seg_id)] = entry
        return out

    def _cached_terms(self, kind: str, terms, columns: list[str], decode):
        """{term: {seg_id: decode(*row)}} from the layout's byte-bounded
        LRU (key ``(kind, term)``), reading every miss in ONE pruned
        parquet read of ``columns`` (absent terms cache as empty dicts).
        ``decode`` maps a row's column values to (entry, nbytes).
        Callers hold the returned snapshot — a later eviction never
        invalidates a running query."""
        cache = self._layout.local_cache
        out: dict[str, dict] = {}
        missing = []
        for t in set(terms):
            hit = cache.get((kind, t))
            if hit is not None:
                out[t] = hit
            else:
                missing.append(t)
        if not missing:
            return out
        import pyarrow.dataset as ds

        table = ds.dataset(self.seg_dir, format="parquet").to_table(
            filter=ds.field("term").isin(missing),
            columns=["seg_id", "term", *columns],
        )
        fresh: dict[str, dict] = {t: {} for t in missing}
        sizes = dict.fromkeys(missing, 0)
        for seg_id, term, *vals in zip(
            *(c.to_pylist() for c in table.columns)
        ):
            entry, nb = decode(*vals)
            fresh[term][int(seg_id)] = entry
            sizes[term] += nb
        for t in missing:
            cache.put((kind, t), fresh[t], sizes[t])
            out[t] = fresh[t]
        return out

    def _load_postings(self, terms: list[str]) -> dict[str, dict]:
        """{term: {seg_id: (docs, tfs, blocks|None)}} via
        :meth:`_cached_terms`."""

        def decode(doc_ids, tfs, blk):
            blocks = None
            if blk:
                tri = codec.decode_varints(blk).astype(np.int64)
                blocks = (tri[0::3], tri[1::3], tri[2::3])
            docs = codec.decode_postings(doc_ids).astype(np.int64)
            tfs = codec.decode_varints(tfs).astype(np.int64)
            nb = docs.nbytes + tfs.nbytes + (
                sum(b.nbytes for b in blocks) if blocks else 0
            )
            return (docs, tfs, blocks), nb

        return self._cached_terms(
            "p", terms, ["doc_ids", "tfs", "blocks"], decode
        )

    def _load_occurrences(
        self, terms: set[str]
    ) -> dict[str, dict[int, np.ndarray]]:
        """{term: {seg_id: occurrence keys}} for driver-path Phrase /
        Near evaluation, via :meth:`_cached_terms` over the positions
        columns."""

        def decode(doc_ids, pc, pos):
            keys = _decode_occurrence_keys(
                codec.decode_postings(doc_ids).astype(np.int64),
                codec.decode_varints(pc).astype(np.int64),
                codec.decode_varints(pos).astype(np.int64),
            )
            return keys, keys.nbytes

        return self._cached_terms(
            "o", terms, ["doc_ids", "pos_counts", "positions"], decode
        )

    def local_search(
        self, query: Node | str, k: int = spec.DEFAULT_K
    ) -> list[tuple[int, float]]:
        """Query WITHOUT launching a Spark job — the reference's
        ``localQuery`` (`searchindex.chpl:71-83`) generalized over all
        segments, with decoded postings held in driver RAM (the
        MemorySegment-residency analogue, `memorysegment.chpl:76-118`):
        first touch of a term does one pruned parquet read + varint
        decode; afterwards a query is pure numpy per segment plus a
        top-k merge.  Results are identical to :meth:`search` (same
        kernel, same global stats, same tie-break); warm latency is
        sub-millisecond-per-segment vs. the distributed path's per-job
        overhead — chearch's local/scatter-gather latency split
        (`README.md:30-31`).  Use for interactive / index-fits-in-RAM
        serving; the distributed path is for indexes that do not."""
        node = self._prep(query)
        terms = node.terms()
        idfs = self._weighted_idfs(node, terms)
        tomb = self._tombstones()
        # iterate the PRUNED candidate set, not every resident segment
        # — at 100k segments a per-query Python loop over all of them
        # dwarfs the actual scoring work; meta rows are decoded for
        # candidates only
        cand = self.candidate_segments(node, allow_spark=False)
        meta = self._load_meta(cand)  # None = all live
        postings_by_term = self._load_postings(terms)
        pos_terms = positional_terms(node)
        occ_by_term = (
            self._load_occurrences(pos_terms) if pos_terms else None
        )
        all_ids, all_scores = [], []
        for seg_id in meta:
            postings = {}
            blocks = {}
            for t in terms:
                entry = postings_by_term.get(t, {}).get(seg_id)
                if entry is not None:
                    postings[t] = (entry[0], entry[1])
                    if entry[2] is not None:
                        blocks[t] = entry[2]
            if not postings:
                continue
            ext_ids, doc_lens = meta[seg_id]
            occ = None
            if occ_by_term is not None:
                occ = _drop_occ_tombstoned(
                    {
                        t: m[seg_id]
                        for t, m in occ_by_term.items()
                        if seg_id in m
                    },
                    ext_ids,
                    tomb,
                )
            postings, blocks = _drop_tombstoned(
                postings, blocks, ext_ids, tomb
            )
            ids, scores, _ = _score_decoded(
                node, postings, ext_ids, doc_lens, blocks, idfs,
                self.avgdl, k, occ,
            )
            all_ids.append(ids)
            all_scores.append(scores)
        if not all_ids:
            return []
        ids, scores = local_topk_scores(
            np.concatenate(all_ids), np.concatenate(all_scores), k
        )
        return [(int(d), float(s)) for d, s in zip(ids, scores)]

    # -- boolean retrieval (doc sets, no scores) -------------------------
    def facet_counts(
        self,
        query: Node | str,
        meta: "DataFrame",
        cols: list[str],
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
    ):
        """Faceted search (the Elasticsearch-aggregations surface over
        the reference's bare doc-id results): per-facet value counts
        of the documents matching ``query`` — (facet, value, n_docs).

        Plan shape: the matching doc-id set (:meth:`match_docs`, the
        term-pruned scan) semi-joins the metadata relation once, every
        requested facet column is melted into (facet, value) rows by
        ONE in-plan explode, and a single map-side-combined groupBy
        counts them — one join + one aggregation regardless of how
        many facets are requested (per-facet groupBys would re-join
        per facet).  Facet cardinality bounds the shuffle, not corpus
        size.  NULL facet values count under value NULL, like SQL
        GROUP BY.

        The broadcast-vs-shuffle decision for the semi-join is
        EXPLICIT, not left to Catalyst: the id relation is a Python
        kernel's output, whose size Catalyst estimates from the
        pruned scan's stats — a hot-term query it under-estimates
        would attempt to broadcast a multi-GB id set.  Instead the
        dictionary df stats (already probed for pruning — no extra
        job) give a true upper bound on the match count: at or below
        ``broadcast_threshold`` ids (default
        :data:`_FACET_BROADCAST_THRESHOLD`) the id set broadcasts;
        above it a shuffle hash semi-join is forced, so the join
        shape at 10^9 docs never rides on an estimate (the same
        size-adaptive pattern as ``tombstones.gc_tombstones``)."""
        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        return _facet_count_agg(joined, cols)

    def _facet_matched(
        self,
        query,
        meta: "DataFrame",
        id_col: str,
        broadcast_threshold: int | None,
    ):
        """The facet family's shared front half: metadata rows of the
        documents matching ``query`` via ONE explicitly size-adaptive
        semi-join (docstring rationale in :meth:`facet_counts`)."""
        node = self._prep(query)
        return _facet_semi_join(
            meta,
            self.match_docs(node),
            self._match_upper_bound(node),
            id_col,
            broadcast_threshold,
        )

    def facet_stats(
        self,
        query: Node | str,
        meta: "DataFrame",
        cols: list[str],
        val_col: str,
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
    ):
        """Stats facets (the Solr stats-facet / Elasticsearch
        metric-aggregation surface): per facet value, statistics of
        the integer column ``val_col`` over the documents matching
        ``query`` — (facet, value, n_docs, min_v, max_v, sum_v,
        avg_v).

        Same plan as :meth:`facet_counts` — one explicitly
        size-adaptive semi-join + one melted map-side-combined groupBy
        for ALL facets.  Every aggregate is EXACT-INTEGER except
        ``avg_v``, computed as one double division of two exact
        integers — engine-portable (a running double sum's value
        depends on aggregation order, which a cross-engine hash gate
        cannot tolerate; sum-then-divide does not)."""
        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        return _facet_stats_agg(joined, cols, val_col)

    def facet_range(
        self,
        query: Node | str,
        meta: "DataFrame",
        val_col: str,
        start: int,
        width: int,
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
    ):
        """Range facets (the Solr ``facet.range`` / Elasticsearch
        histogram-aggregation surface): fixed-width interval counts of
        the integer column ``val_col`` over the documents matching
        ``query`` — (lo, hi, n_docs) where ``lo = start +
        floor((v - start) / width) * width`` and ``hi = lo + width``
        (half-open [lo, hi) buckets; values below ``start`` land in
        negative buckets via floor semantics, never silently clip).
        Empty buckets are absent — sparse output, like an ES histogram
        with min_doc_count=1 — so bucket CARDINALITY, not the domain,
        bounds the aggregation.  NULL values group under a NULL
        bucket, like SQL GROUP BY.

        Same plan as :meth:`facet_counts` — one explicitly
        size-adaptive semi-join (:meth:`_facet_matched` docstring) +
        one map-side-combined groupBy on the computed bucket.  The
        bucket arithmetic is one double division of exact integers,
        floored — identical in any engine for the magnitudes a 64-bit
        column holds below 2^53 (the same portability discipline as
        ``facet_stats.avg_v``)."""
        start, width = int(start), int(width)
        if width <= 0:
            raise ValueError(f"facet_range width must be > 0, got {width}")
        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        return _facet_range_agg(joined, val_col, start, width)

    def facet_cardinality(
        self,
        query: Node | str,
        meta: "DataFrame",
        cols: list[str],
        val_col: str,
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
        approx: bool = False,
        rsd: float = 0.05,
    ):
        """Cardinality facets (the Elasticsearch ``cardinality``
        aggregation): per facet value, the number of DISTINCT
        ``val_col`` values over the documents matching ``query`` —
        (facet, value, n_distinct).  NULL metric values are ignored,
        like SQL COUNT(DISTINCT).

        ``approx=False`` (default, the oracle-gated baseline) is exact
        two-phase distinct: map-side partial dedup on (facet, value,
        v), so the shuffle carries each distinct triple once — bounded
        by distinct-value cardinality, not match count.  ``approx=
        True`` is the 100 TB path: HyperLogLog++ sketches
        (``approx_count_distinct``, relative error ``rsd``) of fixed
        size per group, mergeable map-side — the right trade when the
        per-group distinct sets themselves are shuffle-dominating.
        Same size-adaptive semi-join front half as the facet family."""
        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        return _facet_cardinality_agg(joined, cols, val_col, approx, rsd)

    def facet_percentiles(
        self,
        query: Node | str,
        meta: "DataFrame",
        cols: list[str],
        val_col: str,
        pcts: tuple = (0.25, 0.5, 0.75),
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
        approx: bool = False,
        accuracy: int = 10000,
    ):
        """Percentile facets (the Elasticsearch ``percentiles``
        aggregation): per facet value, exact linear-interpolation
        percentiles of ``val_col`` over the matching documents —
        (facet, value, pct, val).  Exact percentile sorts each group's
        values (correct and cheap at facet-group granularity; the
        group count, not the corpus, bounds the state).  ``approx=
        True`` switches to ``approx_percentile`` (t-digest-style
        bounded sketch, ``accuracy`` buckets) for groups whose value
        lists would not fit an executor — the documented scale path,
        not oracle-gated (sketches are engine-specific).

        The exact form's interpolation is the classic
        ``(n-1) * p`` rank with linear blending — the same definition
        DuckDB's ``quantile_cont`` uses, which is what makes the
        cross-engine gate possible."""
        ps = [float(p) for p in pcts]
        if not ps or not all(0.0 <= p <= 1.0 for p in ps):
            raise ValueError(f"percentiles must be in [0, 1], got {pcts!r}")
        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        return _facet_percentiles_agg(joined, cols, ps, val_col, approx, accuracy)

    def search_sorted(
        self,
        query: Node | str,
        meta: "DataFrame",
        sort_col: str,
        k: int = spec.DEFAULT_K,
        ascending: bool = False,
        id_col: str = "doc_id",
        broadcast_threshold: int | None = None,
    ):
        """Field-sorted retrieval (the Elasticsearch ``sort`` surface,
        e.g. newest-first): the query's doc set ordered by a metadata
        column instead of BM25 — (doc_id, <sort_col>), ties broken
        doc_id asc so the top-k is deterministic; NULL sort values
        last in either direction (they carry no ordering information).
        No scoring work runs at all — the match kernel skips BM25.

        Plan: the facet family's size-adaptive semi-join restricts the
        metadata relation to the matches, then orderBy+limit plans as
        TakeOrderedAndProject — one exchange beyond the match scan."""
        from pyspark.sql import functions as F

        joined = self._facet_matched(query, meta, id_col, broadcast_threshold)
        key = (
            F.asc_nulls_last(sort_col)
            if ascending
            else F.desc_nulls_last(sort_col)
        )
        return (
            joined.select(F.col(id_col).alias("doc_id"), sort_col)
            .orderBy(key, F.asc("doc_id"))
            .limit(int(k))
        )

    def count(self, query: Node | str) -> int:
        """Exact hit count without scoring (the Elasticsearch
        ``_count`` surface): the size of the query's doc set.  Runs
        the term-pruned match kernel with no BM25 work and aggregates
        count(*) — partial counts below the exchange, one long to the
        driver; tombstoned docs excluded like every query path."""
        return self.match_docs(query).count()

    def significant_terms(
        self,
        query: Node | str,
        meta: "DataFrame",
        k: int = 10,
        min_fg_df: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
        broadcast_threshold: int | None = None,
    ):
        """Significant-terms aggregation (the Elasticsearch
        ``significant_terms`` surface): the ``k`` terms most
        OVER-represented in the documents matching ``query``
        (foreground) relative to the whole corpus (background) —
        (term, fg_df, bg_df, score) with score = the df-rate lift
        ``(fg_df / fg_n) / (bg_df / N)``, computed as ONE double
        division of two exact int64 products (engine-portable, the
        ``facet_stats.avg_v`` discipline).  Rank: score desc, term
        asc; ``min_fg_df`` drops one-off noise terms (ES
        min_doc_count, default 3).

        Plan shape: the foreground doc count is ONE eager O(matches)
        count job (the scalar must divide every score; a lazy twin
        branch cannot share the tokenize exchange because Catalyst
        pushes the grouping-key filters below the aggregation,
        forcing a second foreground pass — `more_like_this` sets the
        precedent for a small eager stage inside an analytics call).
        The main plan is then SINGLE-PASS: the facet family's
        size-adaptive semi-join produces the foreground rows, one
        tokenize + explode + map-side-combined groupBy counts
        per-term foreground dfs, background dfs join in from the
        dictionary parquet (a narrow (term, df) scan — the index's
        finalize-time stats, like ES's shard term stats: pending
        un-compacted deletes are excluded from the foreground but
        still counted in the background until compaction refreshes
        the dictionary), and the ranked cut is
        TakeOrderedAndProject.  The foreground scan is bounded by
        the MATCH count, not corpus size; the term join shuffles
        vocabulary-sized relations at worst."""
        from pyspark.sql import functions as F

        from chearch_spark.functions.text import tokens_col

        if k <= 0:
            raise ValueError(f"k must be > 0, got {k}")
        # raw query on both calls, like the rest of the facet family —
        # each preps once internally (prepping is idempotent, but the
        # expansion probes are cheaper paid per-call than reasoned
        # about twice)
        fg_n = self.match_docs(query).count()
        if fg_n == 0:
            return self.spark.createDataFrame(
                [], "term string, fg_df long, bg_df long, score double"
            )
        # r7: size-guarded spread — the foreground tokenize below
        # otherwise inherits the meta scan's 1-2 parquet splits on
        # few-MB corpora (no-op at scale)
        from chearch_spark.functions.parallel import spread_small_scan

        joined = self._facet_matched(
            query, spread_small_scan(meta), id_col, broadcast_threshold
        )
        fg = (
            joined.select(
                F.explode(
                    F.array_distinct(tokens_col(F.col(text_col)))
                ).alias("term")
            )
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("fg_df"))
            .filter(F.col("fg_df") >= int(min_fg_df))
        )
        bg = self.dictionary().select(
            "term", F.col("df").cast("long").alias("bg_df")
        )
        n = int(self.n_docs)
        return (
            fg.join(bg, "term")
            .withColumn(
                "score",
                (F.col("fg_df") * F.lit(n)).cast("double")
                / (F.col("bg_df") * F.lit(int(fg_n))),
            )
            .select("term", "fg_df", "bg_df", "score")
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def search_with_snippets(
        self,
        query: Node | str,
        docs: "DataFrame",
        k: int = spec.DEFAULT_K,
        width: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        """Top-k retrieval + KWIC snippets in ONE plan — the result
        page a user of the reference's bare-id server ultimately
        renders: (doc_id, score, pos, snippet), ordered (score desc,
        doc_id asc).

        Plan shape: the k hit ids (already collected for ranking)
        become an explicit ``isin()`` predicate on the ``docs`` scan —
        row-group stats skip everything but the hits, so the corpus
        text is NEVER scanned beyond those k rows (same pushdown
        pattern as :meth:`search_with_meta`); the query's expanded
        scoring terms (prefix/fuzzy expansions applied, Diff's
        negative side excluded, Phrase/Near member words included)
        feed :func:`chearch_spark.functions.text.snippets`'s pure-JVM
        match expression; the k-row score relation broadcasts onto the
        snippet rows.  No kernel, no corpus shuffle."""
        from pyspark.sql import functions as F

        from chearch_spark.functions.text import snippets

        def _snippet_terms(node: Node) -> list[str]:
            # scoring_terms yields the '\x00syn:' pseudo-key for a
            # Synonym leaf — a string no token can match, which would
            # silently drop synonym-matched hits from the snippet
            # join; the snippet matcher wants the MEMBER words
            out: list[str] = []
            for t in scoring_terms(node):
                if t.startswith("\x00syn:"):
                    out.extend(
                        w for w in t[len("\x00syn:"):].split("|")
                        if w not in out
                    )
                elif t not in out:
                    out.append(t)
            return out

        node = self._prep(query)
        terms = _snippet_terms(node)
        rows = self.search(node, k).collect()
        top = self.spark.createDataFrame(
            [(int(r.doc_id), float(r.score)) for r in rows] or [],
            "doc_id long, score double",
        )
        if rows:
            pruned = docs.filter(
                F.col(id_col).isin([int(r.doc_id) for r in rows])
            )
        else:
            pruned = docs.filter(F.lit(False))
        snip = snippets(
            pruned, terms, width=width, text_col=text_col, id_col=id_col
        )
        return (
            snip.join(F.broadcast(top), "doc_id")
            .select("doc_id", "score", "pos", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def match_docs(self, query: Node | str, partition_limit: int | None = None):
        """All matching external doc ids (AND=intersection, OR=union).

        ``partition_limit`` is the reference's per-partition result cap
        (`search.chpl:17`, truncation at `searchindex.chpl:101-107`):
        each segment returns at most that many matches, pinned to the
        LOWEST doc_index (= lowest external doc id) first.  Without it
        a hot-term boolean query materializes every match in every
        segment — the cap is the safety valve for parity/debug use on
        hot terms; scored retrieval (:meth:`search`) supersedes it with
        top-k semantics."""
        node = self._prep(query)
        terms = node.terms()
        tomb_h = self._tomb_handle()
        cols = ["seg_id", "term", "doc_ids"]
        pos_terms = positional_terms(node)
        if pos_terms:
            cols += ["pos_counts", "positions"]
        scan = self._segment_scan(
            terms, cols, segs=self.candidate_segments(node)
        )

        def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            postings, meta_ids, _, _ = _decode_segment(pdf)
            tomb = _resolve_tomb(tomb_h)
            occ = None
            if pos_terms:
                occ = _drop_occ_tombstoned(
                    _decode_occurrences(pdf, pos_terms), meta_ids, tomb
                )
            postings, _b = _drop_tombstoned(postings, {}, meta_ids, tomb)
            cand = _eval_docset(node, postings, occ)
            if partition_limit is not None:
                cand = cand[:partition_limit]  # sorted by doc_index asc
            return pd.DataFrame({"doc_id": meta_ids[cand].astype(np.int64)})

        return self._per_segment(scan, _kernel, "doc_id long")

    # -- phrase matching (positions-based) ---------------------------------
    def match_phrase(self, terms: list[str]):
        """Doc ids containing the terms as an exact consecutive phrase.

        Uses the stored per-occurrence positions (the reference's 8-bit
        ``textLocation``, `documentid.chpl:22` — recorded only for
        positions ≤ 255, so phrases starting beyond position 255 are
        not matchable; the same cap the reference's data model
        imposes).  Kernel: per term, each occurrence is keyed
        ``doc_index * 1024 + (pos - offset)``; the intersection of key
        sets across terms yields phrase start positions — vectorized
        set algebra, no per-doc loops."""
        terms = [spec.normalize_term(t) for t in terms]
        if not terms:
            raise ValueError("phrase needs at least one term")
        scan = self._segment_scan(
            terms,
            ["seg_id", "term", "doc_ids", "pos_counts", "positions"],
            segs=self.candidate_segments(_fold_and(terms)),
        )
        phrase = list(terms)
        tomb_h = self._tomb_handle()

        def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
            meta = pdf[pdf["term"] == META_TERM]
            if len(meta) == 0:
                return empty
            ext_ids = codec.decode_postings(meta["doc_ids"].iloc[0]).astype(
                np.int64
            )
            # decode each distinct term once -> (doc, abs position) pairs
            occ: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for _, row in pdf[pdf["term"] != META_TERM].iterrows():
                docs = codec.decode_postings(row["doc_ids"]).astype(np.int64)
                counts = codec.decode_varints(row["pos_counts"]).astype(
                    np.int64
                )
                deltas = codec.decode_varints(row["positions"]).astype(
                    np.int64
                )
                if len(deltas) == 0:
                    occ[row["term"]] = (
                        np.empty(0, np.int64),
                        np.empty(0, np.int64),
                    )
                    continue
                # absolute positions: per-(doc) group cumsum reset
                g = np.repeat(np.arange(len(counts)), counts)
                cs = np.cumsum(deltas)
                starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
                kept = counts > 0
                base = np.zeros(len(counts), dtype=np.int64)
                base[kept] = cs[starts[kept]] - deltas[starts[kept]]
                occ[row["term"]] = (np.repeat(docs, counts), cs - base[g])
            if any(t not in occ for t in phrase):
                return empty
            # phrase-start keys per slot (duplicate terms reuse the decode)
            keys = None
            for i, t in enumerate(phrase):
                d, p = occ[t]
                k = d * 1024 + (p - i)
                keys = k if keys is None else np.intersect1d(keys, k)
                if len(keys) == 0:
                    break
            hit_docs = np.unique(keys // 1024)
            hits = ext_ids[hit_docs].astype("int64")
            tomb = _resolve_tomb(tomb_h)
            if tomb is not None and len(tomb):
                hits = hits[~np.isin(hits, tomb)]
            return pd.DataFrame({"doc_id": hits})

        return self._per_segment(scan, _kernel, "doc_id long")

    def postings_df(self, terms: list[str]):
        """Relational view of the inverted index: (term, doc_id, tf)
        rows for the given terms — the bridge from index structures to
        ordinary Spark SQL (join with metadata, aggregate df/tf,
        feed downstream features).  Pruned like a query: the term
        filter pushes into the segment scan and the candidate-segment
        directory/blooms bound the file fan-out; the kernel decodes
        only the requested rows and emits one row per posting entry.
        Tombstoned docs are excluded (same visibility rule as every
        query path)."""
        norm = sorted({spec.normalize_term(t) for t in terms})
        if not norm:
            raise ValueError("postings_df needs at least one term")
        scan = self._segment_scan(
            norm,
            ["seg_id", "term", "doc_ids", "tfs"],
            segs=self.candidate_segments(_fold_or(norm)),
        )
        tomb_h = self._tomb_handle()

        def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            postings, meta_ids, _, _ = _decode_segment(pdf)
            postings, _b = _drop_tombstoned(
                postings, {}, meta_ids, _resolve_tomb(tomb_h)
            )
            ts, ds_, fs = [], [], []
            for t, (docs, tfs) in sorted(postings.items()):
                ts.extend([t] * len(docs))
                ds_.append(meta_ids[docs])
                fs.append(tfs)
            if not ts:
                return pd.DataFrame(
                    {
                        "term": pd.Series(dtype="object"),
                        "doc_id": pd.Series(dtype="int64"),
                        "tf": pd.Series(dtype="int64"),
                    }
                )
            return pd.DataFrame(
                {
                    "term": pd.Series(ts, dtype="object"),
                    "doc_id": np.concatenate(ds_).astype("int64"),
                    "tf": np.concatenate(fs).astype("int64"),
                }
            )

        return self._per_segment(
            scan, _kernel, "term string, doc_id long, tf long"
        )

    def match_near(self, term_a: str, term_b: str, window: int = 5):
        """Doc ids where ``term_a`` and ``term_b`` occur within
        ``window`` token positions of each other (unordered proximity
        — the NEAR operator; window=1 ≈ adjacent either way).

        Pinned semantics: over the STORED positions (≤ 255, the 8-bit
        textLocation cap, like :meth:`match_phrase`), match iff some
        pair of occurrences satisfies ``|pos_a - pos_b| <= window``.
        Kernel: occurrences keyed ``doc_index * 1024 + pos``; for each
        a-occurrence one vectorized ``searchsorted`` range probe into
        the b-keys — positions are capped at 255 and windows at 255,
        so a probe can never cross into a neighboring doc's key block.
        """
        if not (1 <= int(window) <= 255):
            raise ValueError("window must be in [1, 255]")
        w = int(window)
        ta, tb = spec.normalize_term(term_a), spec.normalize_term(term_b)
        if ta == tb:
            raise ValueError(
                "NEAR of a term with itself is ambiguous (every "
                "occurrence is within 0 of itself); use match_docs"
            )
        scan = self._segment_scan(
            sorted({ta, tb}),
            ["seg_id", "term", "doc_ids", "pos_counts", "positions"],
            segs=self.candidate_segments(_fold_and([ta, tb])),
        )
        tomb_h = self._tomb_handle()

        def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
            meta = pdf[pdf["term"] == META_TERM]
            if len(meta) == 0:
                return empty
            ext_ids = codec.decode_postings(
                meta["doc_ids"].iloc[0]
            ).astype(np.int64)
            occ: dict[str, np.ndarray] = {}
            for _, row in pdf[pdf["term"] != META_TERM].iterrows():
                docs = codec.decode_postings(row["doc_ids"]).astype(np.int64)
                counts = codec.decode_varints(row["pos_counts"]).astype(
                    np.int64
                )
                deltas = codec.decode_varints(row["positions"]).astype(
                    np.int64
                )
                if len(deltas) == 0:
                    occ[row["term"]] = np.empty(0, np.int64)
                    continue
                g = np.repeat(np.arange(len(counts)), counts)
                cs = np.cumsum(deltas)
                starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
                kept = counts > 0
                base = np.zeros(len(counts), dtype=np.int64)
                base[kept] = cs[starts[kept]] - deltas[starts[kept]]
                occ[row["term"]] = (
                    np.repeat(docs, counts) * 1024 + (cs - base[g])
                )
            ka, kb = occ.get(ta), occ.get(tb)
            if ka is None or kb is None or not len(ka) or not len(kb):
                return empty
            kb = np.sort(kb)
            # per a-occurrence window probe, clamped to the doc's block
            blk = (ka // 1024) * 1024
            lo = np.maximum(ka - w, blk)
            hi = np.minimum(ka + w, blk + 1023)
            li = np.searchsorted(kb, lo, side="left")
            li_c = np.minimum(li, len(kb) - 1)
            hit = (kb[li_c] >= lo) & (kb[li_c] <= hi)
            hit_docs = np.unique(ka[hit] // 1024)
            hits = ext_ids[hit_docs].astype("int64")
            tomb = _resolve_tomb(tomb_h)
            if tomb is not None and len(tomb):
                hits = hits[~np.isin(hits, tomb)]
            return pd.DataFrame({"doc_id": hits})

        return self._per_segment(scan, _kernel, "doc_id long")

    # -- reference-parity occurrence mode --------------------------------
    def parity_search(
        self, query: Node | str, partition_limit: int | None = None
    ) -> list[tuple[str, int, int]]:
        """Occurrence rows (term, textLocation, externalDocId) with exact
        reference pull-protocol semantics (small result sets; collects
        per-segment postings to the driver and replays the operand
        protocol — parity/debug tool, not the scale path).
        ``partition_limit`` caps the occurrence rows emitted per
        segment, mirroring the reference's partitionLimit truncation
        (`searchindex.chpl:101-107`): the FIRST N rows in the operand
        protocol's own emission order (newest doc first).

        r7 (guide §5): the operand replay runs INSIDE a per-segment
        kernel and the ``partition_limit`` cut happens there — exactly
        the reference's truncate-before-gather — so the driver
        collects at most ``partition_limit x segments`` occurrence
        rows, never O(query postings).  (With ``partition_limit=None``
        the caller asked for every occurrence row, and the collect is
        the answer's own size.)"""
        node = self._prep(query)
        scan = self._segment_scan(
            node.terms(),
            ["seg_id", "term", "doc_ids", "tfs", "pos_counts", "positions"],
            segs=self.candidate_segments(node),
        )
        return self._parity_collect(scan, {0: node}, partition_limit)[0]

    def parity_search_many(
        self,
        queries: dict,
        partition_limit: int | None = None,
    ) -> dict:
        """Batched :meth:`parity_search`: ONE term-pruned segment scan
        (union of every query's terms and candidate segments) feeds a
        per-query operand-protocol replay — the serving layer's
        micro-batch path (``ChearchTCPServer(batch_window_ms=...)``),
        where N concurrent wire requests must cost one Spark job, not
        N.  Results are IDENTICAL to per-query :meth:`parity_search`:
        a segment outside one query's candidate set carries none of
        its terms, so the wider union scan adds only rows the replay
        ignores.  ``queries`` maps key -> Node|str; returns key ->
        occurrence rows."""
        nodes = {qid: self._prep(q) for qid, q in queries.items()}
        segs_u: set[int] | None = set()
        for n in nodes.values():
            cs = self.candidate_segments(n)
            if cs is None:
                segs_u = None
                break
            segs_u |= set(cs)
        all_terms = sorted({t for n in nodes.values() for t in n.terms()})
        scan = self._segment_scan(
            all_terms,
            ["seg_id", "term", "doc_ids", "tfs", "pos_counts", "positions"],
            segs=sorted(segs_u) if segs_u is not None else None,
        )
        # r7: ONE kernel pass replays every query per segment with the
        # per-segment truncation applied in-kernel (see parity_search)
        # — the driver collects ≤ limit x segments x queries rows
        return self._parity_collect(scan, nodes, partition_limit)

    def _parity_collect(
        self,
        scan,
        nodes: dict,
        partition_limit: int | None,
    ) -> dict:
        """Distributed operand-protocol replay (guide §5: no driver
        data work): a per-segment ``applyInPandas`` kernel decodes the
        segment's postings, replays each query's operand protocol and
        emits its occurrence rows ALREADY cut to ``partition_limit``
        (the truncation is per-segment by spec, so in-kernel
        truncation is semantics-preserving); the driver reassembles
        from the collected (query, seg_id, row-number) keys.  Matches
        the reference's truncate-before-gather
        (`searchindex.chpl:101-107`)."""
        items = list(nodes.items())
        for _qid, n in items:
            if has_positional(n):
                raise ValueError(
                    "parity mode replays the reference's 4-op operand "
                    "protocol; Phrase/NEAR are engine extensions — use "
                    "search/match_docs/match_phrase/match_near"
                )
        tomb = self._tombstones()
        limit = None if partition_limit is None else int(partition_limit)

        def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
            qis, segs, rns, terms_, poss, exts = [], [], [], [], [], []
            seg_id = int(pdf["seg_id"].iloc[0])
            for qi, (_qid, node) in enumerate(items):
                keep = set(node.terms()) | {META_TERM}
                sub = pdf[pdf["term"].isin(keep)]
                if not (sub["term"] == META_TERM).any():
                    continue
                rows = _parity_segment_rows(sub, node, tomb)
                if limit is not None:
                    rows = rows[:limit]
                for rn, (t, p, d) in enumerate(rows):
                    qis.append(qi)
                    segs.append(seg_id)
                    rns.append(rn)
                    terms_.append(t)
                    poss.append(int(p))
                    exts.append(int(d))
            return pd.DataFrame(
                {
                    "qi": pd.array(qis, dtype="int32"),
                    "seg_id": pd.array(segs, dtype="int64"),
                    "rn": pd.array(rns, dtype="int64"),
                    "term": pd.array(terms_, dtype="object"),
                    "pos": pd.array(poss, dtype="int64"),
                    "ext": pd.array(exts, dtype="int64"),
                }
            )

        collected = (
            scan.groupBy("seg_id")
            .applyInPandas(
                _kern,
                "qi int, seg_id long, rn long, term string, "
                "pos long, ext long",
            )
            .collect()
        )
        out: dict = {qid: [] for qid, _ in items}
        for row in sorted(
            collected, key=lambda r: (r["qi"], r["seg_id"], r["rn"])
        ):
            out[items[row["qi"]][0]].append(
                (row["term"], int(row["pos"]), int(row["ext"]))
            )
        return out

    def local_parity_search(
        self, query: Node | str
    ) -> list[tuple[str, int, int]]:
        """parity_search without a Spark job: pruned pyarrow read of the
        query terms' occurrence rows, cached per term in the layout's
        byte-bounded LRU — the serving layer's request path (a warm
        request is pure python/numpy)."""
        node = self._prep(query)
        cols = ["doc_ids", "pos_counts", "positions"]
        raw = self._cached_terms(
            "r", set(node.terms()) | {META_TERM}, cols,
            lambda *v: (v, sum(len(x) for x in v if x)),
        )
        dead = self._layout.replaced
        frame = pd.DataFrame(
            [
                (sid, t, *vals)
                for t, by_seg in raw.items()
                for sid, vals in by_seg.items()
                if sid not in dead
            ],
            columns=["seg_id", "term", *cols],
        )
        return self._parity_from_frame(frame, node)

    def _parity_from_frame(
        self,
        scan: pd.DataFrame,
        node: Node,
        partition_limit: int | None = None,
    ) -> list[tuple[str, int, int]]:
        if has_positional(node):
            raise ValueError(
                "parity mode replays the reference's 4-op operand "
                "protocol; Phrase/NEAR are engine extensions — use "
                "search/match_docs/match_phrase/match_near"
            )
        out: list[tuple[str, int, int]] = []
        tomb = self._tombstones()
        for _, seg in scan.groupby("seg_id", sort=True):
            rows = _parity_segment_rows(seg, node, tomb)
            if partition_limit is not None:
                rows = rows[:partition_limit]
            out.extend(rows)
        return out


# ---------------------------------------------------------------------
# kernel helpers (numpy; also unit-testable without Spark)


def _parity_segment_rows(
    seg: pd.DataFrame, node: Node, tomb: np.ndarray
) -> list[tuple[str, int, int]]:
    """Operand-protocol replay for ONE segment's posting rows ->
    occurrence rows (term, position, external doc id) in the
    protocol's own emission order (newest doc first per term leaf).
    Module-level and closed over plain data only, so the per-segment
    parity kernel (:meth:`Index._parity_collect`) can ship it to
    executors; the driver-local paths reuse it unchanged."""
    from chearch_spark.oracle import (
        _evaluate,
        _IntersectionOperand,
        _Operand,
        _TermOperand,
        _UnionOperand,
    )

    occ: dict[str, list[tuple[int, int]]] = {}
    meta = seg[seg["term"] == META_TERM]
    ext_ids = codec.decode_postings(meta["doc_ids"].iloc[0]).astype(np.int64)
    dead_idx = (
        set(np.flatnonzero(np.isin(ext_ids, tomb)).tolist())
        if len(tomb)
        else set()
    )
    for _, row in seg[seg["term"] != META_TERM].iterrows():
        docs = codec.decode_postings(row["doc_ids"]).astype(np.int64)
        counts = codec.decode_varints(row["pos_counts"]).astype(np.int64)
        pos = codec.decode_varints(row["positions"]).astype(np.int64)
        # un-delta within (term,doc) groups (parity tool — the
        # per-group loop is fine off the scale path)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        abs_pos = np.empty(len(pos), dtype=np.int64)
        for gi in range(len(docs)):
            s, e = starts[gi], starts[gi] + counts[gi]
            abs_pos[s:e] = np.cumsum(pos[s:e])
        occ[row["term"]] = [
            (int(docs[gi]), int(p))
            for gi in range(len(docs))
            if int(docs[gi]) not in dead_idx
            for p in abs_pos[starts[gi]: starts[gi] + counts[gi]]
        ]

    def build(n: Node) -> _Operand:
        if isinstance(n, Term):
            o = occ.get(n.term)
            if not o:
                return _Operand()
            # newest-first: (doc_index desc, position desc)
            vals = [
                (n.term, p, d)
                for (d, p) in sorted(o, key=lambda x: (-x[0], -x[1]))
            ]
            return _TermOperand(vals)
        if isinstance(n, And):
            return _IntersectionOperand(build(n.a), build(n.b))
        if isinstance(n, Or):
            return _UnionOperand(build(n.a), build(n.b))
        raise TypeError(n)

    return [
        (term, pos, int(ext_ids[d]))
        for (term, pos, d) in _evaluate(build(node))
    ]


def _decode_segment(pdf: pd.DataFrame):
    """Split a per-segment frame into postings {term: (docs, tfs, blocks)}
    + meta arrays (ext doc ids by doc_index, doc lengths).  Every
    caller scans through :meth:`Index._segment_scan`, which always
    selects the META row, so a group without one is a partial segment
    (a file split across scan partitions) or a corrupt file: raise
    rather than silently score it as empty."""
    meta = pdf[pdf["term"] == META_TERM]
    if len(meta) == 0:
        raise ValueError(
            f"segment {pdf['seg_id'].iloc[0]}: posting rows without the "
            "META row (a partial or corrupt segment) — refusing to score it"
        )
    meta_ids = codec.decode_postings(meta["doc_ids"].iloc[0]).astype(np.int64)
    has_tfs = "tfs" in pdf.columns
    doc_lens = (
        codec.decode_varints(meta["tfs"].iloc[0]).astype(np.int64)
        if has_tfs
        else np.empty(0, np.int64)
    )
    postings = {}
    blocks = {}
    for _, row in pdf[pdf["term"] != META_TERM].iterrows():
        docs = codec.decode_postings(row["doc_ids"]).astype(np.int64)
        tfs = (
            codec.decode_varints(row["tfs"]).astype(np.int64)
            if has_tfs
            else np.empty(0, np.int64)
        )
        postings[row["term"]] = (docs, tfs)
        if "blocks" in pdf.columns and row["blocks"]:
            tri = codec.decode_varints(row["blocks"]).astype(np.int64)
            blocks[row["term"]] = (tri[0::3], tri[1::3], tri[2::3])
    return postings, meta_ids, doc_lens, blocks


def _decode_occurrence_keys(docs, counts, deltas) -> np.ndarray:
    """(docs, per-doc position counts, delta-coded positions) ->
    ascending occurrence keys ``doc_index * 1024 + abs_position``.
    Positions are capped at 255 at build time (8-bit textLocation,
    `documentid.chpl:22`), so a key's position field can never reach a
    neighboring doc's block — the invariant every positional kernel
    (phrase slot-shift, NEAR window probe) relies on."""
    if len(deltas) == 0:
        return np.empty(0, np.int64)
    g = np.repeat(np.arange(len(counts)), counts)
    cs = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    kept = counts > 0
    base = np.zeros(len(counts), dtype=np.int64)
    base[kept] = cs[starts[kept]] - deltas[starts[kept]]
    return np.repeat(docs, counts) * 1024 + (cs - base[g])


def _decode_occurrences(
    pdf: pd.DataFrame, wanted: set[str] | None = None
) -> dict[str, np.ndarray]:
    """Per term, the segment's occurrence keys (``doc_index * 1024 +
    pos``, ascending) from the ``pos_counts`` / ``positions`` columns.
    ``wanted`` restricts the decode to the Phrase/Near member terms —
    a mixed tree's plain-term rows skip the position varint decode."""
    occ: dict[str, np.ndarray] = {}
    rows = pdf[pdf["term"] != META_TERM]
    if wanted is not None:
        rows = rows[rows["term"].isin(wanted)]
    for _, row in rows.iterrows():
        docs = codec.decode_postings(row["doc_ids"]).astype(np.int64)
        counts = codec.decode_varints(row["pos_counts"]).astype(np.int64)
        deltas = codec.decode_varints(row["positions"]).astype(np.int64)
        occ[row["term"]] = _decode_occurrence_keys(docs, counts, deltas)
    return occ


def _drop_occ_tombstoned(occ: dict, meta_ids, tomb) -> dict:
    """Tombstone exclusion for occurrence keys (doc_index-keyed, like
    posting entries) — without it a pure Phrase/Near doc set would
    resurrect deleted docs that term-level filtering never touches."""
    if tomb is None or len(tomb) == 0 or len(meta_ids) == 0 or not occ:
        return occ
    dead_idx = np.flatnonzero(np.isin(meta_ids, tomb))
    if len(dead_idx) == 0:
        return occ
    return {
        t: k[~np.isin(k // 1024, dead_idx)] for t, k in occ.items()
    }


def _eval_positional(node, occ: dict) -> np.ndarray:
    """Phrase/Near leaf -> sorted doc_index array over the segment's
    occurrence keys."""
    empty = np.empty(0, np.int64)
    if isinstance(node, Phrase):
        keys = None
        for i, t in enumerate(node.words):
            k = occ.get(t)
            if k is None or len(k) == 0:
                return empty
            k = k - i  # phrase-start key for slot i (pos-i; capped
            # positions keep shifted keys out of neighboring blocks)
            keys = k if keys is None else np.intersect1d(keys, k)
            if len(keys) == 0:
                return empty
        return np.unique(keys // 1024)
    # Near: per a-occurrence window probe into the sorted b-keys,
    # clamped to the doc's key block (positions <= 255 << block 1024)
    ka, kb = occ.get(node.a), occ.get(node.b)
    if ka is None or kb is None or not len(ka) or not len(kb):
        return empty
    kb = np.sort(kb)
    w = int(node.window)
    blk = (ka // 1024) * 1024
    lo = np.maximum(ka - w, blk)
    hi = np.minimum(ka + w, blk + 1023)
    li = np.searchsorted(kb, lo, side="left")
    li_c = np.minimum(li, len(kb) - 1)
    hit = (kb[li_c] >= lo) & (kb[li_c] <= hi)
    return np.unique(ka[hit] // 1024)


def _drop_tombstoned(postings: dict, blocks: dict, meta_ids, tomb):
    """Remove deleted docs from decoded postings (tombstone exclusion).

    Terms whose lists shrank LOSE their block-max metadata: block
    bounds are positional (entry i belongs to block i // POSTING_BLOCK),
    so a shortened list would map survivors into earlier blocks whose
    bound may undercut their true score — no longer an upper bound,
    and WAND could prune a winner.  Dropping the blocks falls back to
    the exact per-doc bound, which stays admissible.  Unchanged terms
    keep their blocks."""
    if tomb is None or len(tomb) == 0 or len(meta_ids) == 0:
        return postings, blocks
    dead_idx = np.flatnonzero(np.isin(meta_ids, tomb))
    if len(dead_idx) == 0:
        return postings, blocks
    out_p, out_b = {}, {}
    for t, (docs, tfs) in postings.items():
        keep = ~np.isin(docs, dead_idx)
        if keep.all():
            out_p[t] = (docs, tfs)
            if t in blocks:
                out_b[t] = blocks[t]
        else:
            out_p[t] = (
                docs[keep],
                tfs[keep] if len(tfs) == len(docs) else tfs,
            )
    return out_p, out_b


def _merge_synonym_postings(members):
    """Blend member posting lists into one pseudo-term: union of doc
    indexes (kept sorted), per-doc tf = SUM of member tfs.  Vectorized
    via one concat + argsort + reduceat group-sum."""
    members = [m for m in members if m is not None and len(m[0])]
    if not members:
        return None
    if len(members) == 1:
        return members[0]
    docs = np.concatenate([m[0] for m in members])
    tfs = np.concatenate([m[1] for m in members])
    order = np.argsort(docs, kind="stable")
    docs, tfs = docs[order], tfs[order]
    uniq, starts = np.unique(docs, return_index=True)
    return uniq, np.add.reduceat(tfs, starts)


def _eval_docset(node: Node, postings: dict, occ: dict | None = None):
    """AST -> sorted doc_index array (vectorized sorted-set algebra —
    the reference's merge operands, `operands.chpl:52-160`, minus the
    occurrence bookkeeping).  ``occ`` (term -> occurrence keys) is
    required only when the tree holds Phrase/Near leaves."""
    if isinstance(node, Term):
        p = postings.get(node.term)
        return p[0] if p is not None else np.empty(0, np.int64)
    if isinstance(node, Synonym):
        p = postings.get(node.key())  # pre-merged by the scoring path
        if p is not None:
            return p[0]
        out = np.empty(0, np.int64)
        for t in node.words:
            m = postings.get(t)
            if m is not None:
                out = np.union1d(out, m[0])
        return out
    if isinstance(node, (Phrase, Near)):
        return _eval_positional(node, occ or {})
    if isinstance(node, And):
        return np.intersect1d(
            _eval_docset(node.a, postings, occ),
            _eval_docset(node.b, postings, occ),
            assume_unique=True,
        )
    if isinstance(node, Or):
        return np.union1d(
            _eval_docset(node.a, postings, occ),
            _eval_docset(node.b, postings, occ),
        )
    if isinstance(node, Diff):
        return np.setdiff1d(
            _eval_docset(node.a, postings, occ),
            _eval_docset(node.b, postings, occ),
            assume_unique=True,
        )
    if isinstance(node, MinShould):
        # m-of-n count: each clause docset is unique, so the multiset
        # concat's per-doc multiplicity == number of matched clauses
        sets = [_eval_docset(c, postings, occ) for c in node.clauses]
        if not sets:
            return np.empty(0, np.int64)
        docs, counts = np.unique(np.concatenate(sets), return_counts=True)
        return docs[counts >= node.m].astype(np.int64)
    if isinstance(node, DisMax):
        out = np.empty(0, np.int64)
        for c in node.clauses:
            out = np.union1d(out, _eval_docset(c, postings, occ))
        return out
    if isinstance(node, ConstantScore):
        return _eval_docset(node.query, postings, occ)
    if isinstance(node, Boosting):
        return _eval_docset(node.positive, postings, occ)
    if isinstance(node, Filter):
        return _eval_docset(node.query, postings, occ)
    raise TypeError(node)


def _flat_term_scores(terms, cand, postings, idfs, denom_norm):
    """Sum of per-term BM25 contributions over the candidate doc_index
    array (the pinned flat scoring semantics, spec §F4): a term absent
    from a doc contributes exactly 0.0.  ``denom_norm`` is the
    length-normalized BM25 denominator, precomputed per candidate.  A
    list that tombstones emptied contributes nothing, like a missing
    one."""
    scores = np.zeros(len(cand), dtype=np.float64)
    for term in terms:
        p = postings.get(term)
        if p is None or len(p[0]) == 0 or term not in idfs:
            continue
        docs, tfs = p
        ix = np.searchsorted(docs, cand)
        ix_c = np.minimum(ix, len(docs) - 1)
        hit = docs[ix_c] == cand
        tf = np.where(hit, tfs[ix_c], 0).astype(np.float64)
        scores += np.where(
            hit,
            idfs[term] * tf * (spec.BM25_K1 + 1.0) / (tf + denom_norm),
            0.0,
        )
    return scores


def _structural_scores(node, cand, postings, idfs, denom_norm, occ):
    """Score a tree containing scoring COMBINATORS over a fixed
    candidate array.  Each clause contributes only where the doc is in
    the clause's OWN doc set (Lucene's should/dismax semantics: a
    non-matching clause scores exactly 0):

    * MinShould — sum of matched clauses (``cand`` is already the
      >= m-count doc set);
    * DisMax — max of matched clauses + tie * (sum − max);
    * ConstantScore — the constant, for members of the inner doc set;
    * Boosting — positive score × negative_boost where the negative
      tree also matches.

    Accumulation order is pinned (clause order, then scoring_terms
    order inside a flat clause) so :meth:`Index.explain_score` can
    mirror the float ops scalar-side bit-exactly."""

    def clause(c):
        s = (
            _structural_scores(c, cand, postings, idfs, denom_norm, occ)
            if has_structured_scoring(c)
            else _flat_term_scores(
                scoring_terms(c), cand, postings, idfs, denom_norm
            )
        )
        member = np.isin(cand, _eval_docset(c, postings, occ))
        return np.where(member, s, 0.0)

    def side(c):
        # And/Or composition around a combinator: a STRUCTURED side is
        # masked by its own doc set (a MinShould below its m-count
        # must contribute 0); a FLAT side keeps the pinned flat
        # semantics (sum over its terms present in the doc, unmasked —
        # identical to what the flat path scores for pure trees)
        if has_structured_scoring(c):
            return clause(c)
        return _flat_term_scores(
            scoring_terms(c), cand, postings, idfs, denom_norm
        )

    if isinstance(node, (And, Or)):
        return side(node.a) + side(node.b)
    if isinstance(node, Diff):
        return side(node.a)
    if isinstance(node, MinShould):
        total = np.zeros(len(cand), dtype=np.float64)
        for c in node.clauses:
            total = total + clause(c)
        return total
    if isinstance(node, DisMax):
        vals = [clause(c) for c in node.clauses]
        mx = vals[0]
        sm = vals[0]
        for v in vals[1:]:
            mx = np.maximum(mx, v)
            sm = sm + v
        return mx + node.tie * (sm - mx)
    if isinstance(node, ConstantScore):
        member = np.isin(cand, _eval_docset(node.query, postings, occ))
        return np.where(member, node.boost, 0.0)
    if isinstance(node, Boosting):
        pos = clause(node.positive)
        neg = np.isin(cand, _eval_docset(node.negative, postings, occ))
        return pos * np.where(neg, node.negative_boost, 1.0)
    # a flat tree reached through a combinator's clause() recursion
    # never lands here (clause() routes it to _flat_term_scores); a
    # top-level flat tree never enters this function at all
    raise TypeError(node)


def _explain_structural_total(
    node: Node, tf_by_term: dict[str, int], contrib_by_key: dict[str, float]
) -> float:
    """Scalar mirror of :func:`_structural_scores` for ONE document
    (the explain_score path): clause membership is derived from the
    doc's term tfs, per-term contributions come precomputed from the
    explain loop (the identical float expression the kernel uses), and
    the accumulation order matches the kernel op-for-op so the total
    is bit-exact vs :meth:`Index.search`.  Positional leaves are
    rejected by the caller (membership would need positions)."""

    def member(n: Node) -> bool:
        if isinstance(n, Term):
            return tf_by_term.get(n.term, 0) > 0
        if isinstance(n, Synonym):
            return any(tf_by_term.get(m, 0) > 0 for m in n.words)
        if isinstance(n, And):
            return member(n.a) and member(n.b)
        if isinstance(n, Or):
            return member(n.a) or member(n.b)
        if isinstance(n, Diff):
            return member(n.a) and not member(n.b)
        if isinstance(n, MinShould):
            return sum(member(c) for c in n.clauses) >= n.m
        if isinstance(n, DisMax):
            return any(member(c) for c in n.clauses)
        if isinstance(n, ConstantScore):
            return member(n.query)
        if isinstance(n, Boosting):
            return member(n.positive)
        if isinstance(n, Filter):
            return member(n.query)
        raise TypeError(n)

    def clause(c: Node) -> float:
        s = walk(c)
        return s if member(c) else 0.0

    def walk(n: Node) -> float:
        if isinstance(n, (And, Or, Diff)) and has_structured_scoring(n):
            def side(c: Node) -> float:
                return clause(c) if has_structured_scoring(c) else walk(c)

            if isinstance(n, Diff):
                return side(n.a)
            return side(n.a) + side(n.b)
        if isinstance(n, MinShould):
            total = 0.0
            for c in n.clauses:
                total = total + clause(c)
            return total
        if isinstance(n, DisMax):
            vals = [clause(c) for c in n.clauses]
            mx = vals[0]
            sm = vals[0]
            for v in vals[1:]:
                mx = max(mx, v)
                sm = sm + v
            return mx + n.tie * (sm - mx)
        if isinstance(n, ConstantScore):
            return n.boost if member(n.query) else 0.0
        if isinstance(n, Boosting):
            pos = clause(n.positive)
            return pos * (
                n.negative_boost if member(n.negative) else 1.0
            )
        # flat subtree: the kernel's _flat_term_scores accumulation
        flat = 0.0
        for t in scoring_terms(n):
            flat += contrib_by_key.get(t, 0.0)
        return flat

    return walk(node)


def _keep_included(postings: dict, blocks: dict, meta_ids, occ, inc):
    """Restrict decoded postings/occurrences to an INCLUDE set of
    external doc ids (filtered search) — the mirror image of
    :func:`_drop_tombstoned`, with the same block-metadata discipline:
    a term whose posting list shrank loses its block-max bounds
    (they're positional — survivors would map into earlier blocks
    whose bound may undercut their true score), falling back to the
    exact per-doc bound so WAND stays admissible."""
    if len(meta_ids) == 0:
        return postings, blocks, occ
    keep_map = np.isin(meta_ids, inc)
    if keep_map.all():
        return postings, blocks, occ
    keep_idx = np.flatnonzero(keep_map)
    out_p, out_b = {}, {}
    for t, (docs, tfs) in postings.items():
        keep = np.isin(docs, keep_idx)
        if keep.all():
            out_p[t] = (docs, tfs)
            if t in blocks:
                out_b[t] = blocks[t]
        else:
            out_p[t] = (
                docs[keep],
                tfs[keep] if len(tfs) == len(docs) else tfs,
            )
    if occ:
        occ = {
            t: kk[np.isin(kk // 1024, keep_idx)] for t, kk in occ.items()
        }
    return out_p, out_b, occ


def _score_segment(
    pdf: pd.DataFrame, node: Node, idfs, avgdl, k, tomb=None, include=None,
    after=None,
):
    """Per-segment candidates + BM25 scores + local top-k.

    Fast paths (identical results, fewer scored candidates):
    * pure disjunctions (incl. single terms) -> block-max WAND
      (`wand.wand_or_topk`): only docs whose summed block upper bounds
      beat the running threshold get scored exactly;
    * pure conjunctions -> rarest-term-driven intersection
      (`wand.prune_conjunctive_blocks`), the vectorized version of the
    reference's smaller-list-first intent (`docs/Feature notes.txt`).
    Mixed trees fall back to full doc-set algebra.

    ``k=None`` emits every match scored (no local truncation — the
    filtered join path cuts only after its semi-join).  ``include``
    restricts to an allowed external-id set before any top-k
    (:func:`_keep_included`).
    """
    postings, meta_ids, doc_lens, blocks = _decode_segment(pdf)
    occ = None
    if has_positional(node):
        occ = _drop_occ_tombstoned(
            _decode_occurrences(pdf, positional_terms(node)),
            meta_ids,
            tomb,
        )
    postings, blocks = _drop_tombstoned(postings, blocks, meta_ids, tomb)
    if include is not None:
        postings, blocks, occ = _keep_included(
            postings, blocks, meta_ids, occ, include
        )
    if k is None:
        k = max(len(meta_ids), 1)
    return _score_decoded(
        node, postings, meta_ids, doc_lens, blocks, idfs, avgdl, k, occ,
        after=after,
    )


def _score_decoded(
    node, postings, meta_ids, doc_lens, blocks, idfs, avgdl, k, occ=None,
    after=None,
):
    """Score pre-decoded postings (shared by the distributed kernel and
    the driver-local cache path).

    Returns (ext_ids, scores, doc_indexes): the doc_index ride-along
    uniquely identifies each hit inside its segment even when external
    ids are duplicated (re-ingested docs), so metadata joins can be
    per-hit-exact.  Top-k tie-break runs on doc_index, which refines
    the pinned (score desc, doc_id asc) order deterministically:
    meta_ids is ascending, so doc_index order == doc_id order, plus a
    stable tiebreak WITHIN a duplicated external id."""
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.float64),
        np.empty(0, np.int64),
    )

    syns = synonym_leaves(node)
    if syns:
        # pre-merge one blended posting list per Synonym leaf (union
        # docs, SUM tfs — the Lucene SynonymQuery tf blend); copy-on-
        # write so the driver-local cache's decoded dicts are never
        # polluted with synthetic keys
        postings = dict(postings)
        for leaf in syns:
            merged = _merge_synonym_postings(
                [postings[t] for t in leaf.words if t in postings]
            )
            if merged is not None:
                postings[leaf.key()] = merged

    dis = disjunctive_terms(node) if after is None else None
    if dis is not None:
        terms = [t for t in dis if t in postings and t in idfs]
        if not terms:
            return empty
        d, s = wand_or_topk(
            [postings[t] for t in terms],
            [blocks.get(t) for t in terms],
            [idfs[t] for t in terms],
            doc_lens,
            avgdl,
            k,
        )
        return meta_ids[d], s, d

    con = conjunctive_terms(node)
    if con is not None:
        if any(t not in postings for t in con):
            return empty
        cand = prune_conjunctive_blocks([postings[t][0] for t in con])
    else:
        cand = _eval_docset(node, postings, occ)
    if cand is None or len(cand) == 0:
        return empty
    dl = doc_lens[cand].astype(np.float64)
    denom_norm = spec.BM25_K1 * (1.0 - spec.BM25_B + spec.BM25_B * dl / avgdl)
    if has_structured_scoring(node):
        scores = _structural_scores(
            node, cand, postings, idfs, denom_norm, occ
        )
    else:
        scores = _flat_term_scores(
            scoring_terms(node), cand, postings, idfs, denom_norm
        )
    if after is not None:
        # cursor window: keep docs STRICTLY after (score desc, doc_id
        # asc) position (s_a, d_a) — applied before the local top-k so
        # a segment with >k docs above the cursor can't starve a page
        s_a, d_a = after
        ext = meta_ids[cand]
        keep = (scores < s_a) | ((scores == s_a) & (ext > d_a))
        cand, scores = cand[keep], scores[keep]
        if len(cand) == 0:
            return empty
    d, s = local_topk_scores(cand, scores, k)
    return meta_ids[d], s, d
