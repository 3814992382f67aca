"""Reference BM25, written apart from the engine (it imports nothing from
``chearch_spark``).

It follows the pinned constants of FIXTURES.md F4:

* tokens: lowercase, then maximal runs of ``[a-z0-9_]``;
* BM25 with k1=1.2, b=0.75, idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
  doc length = raw token count;
* AND is doc-set intersection, OR is union; a doc scores the sum over the
  distinct query terms it contains;
* top-k ordered by (score desc, doc_id asc).

Deletes follow the tombstone semantics of the engine: a deleted doc stops
matching at once, but N, avgdl and df keep counting it until a compaction
purges it (:meth:`Reference.purge`).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
REL_TOL = 1e-9
_TOKEN = re.compile(r"[a-z0-9_]+")


def tokenize(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


class Reference:
    """Inverted index over the docs handed to the engine so far.

    Doc ids must be the integers 0..n-1 in the order they are added."""

    def __init__(self) -> None:
        self.lens = np.empty(0, dtype=np.int64)
        self.deleted = np.empty(0, dtype=bool)
        self.purged = np.empty(0, dtype=bool)
        self._chunks: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
        self._post: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    # -- writes -----------------------------------------------------------
    def add(self, doc_ids, texts) -> int:
        """Index docs; returns their total token count."""
        first = len(self.lens)
        ids = np.asarray(doc_ids, dtype=np.int64)
        if len(ids) and (ids[0] != first or
                         not np.array_equal(ids, np.arange(first, first + len(ids)))):
            raise ValueError("reference doc ids must be dense and in order")
        lens = np.empty(len(ids), dtype=np.int64)
        rows: dict[str, tuple[list[int], list[int]]] = {}
        for i, (d, text) in enumerate(zip(ids.tolist(), texts)):
            toks = tokenize(text)
            lens[i] = len(toks)
            for t, tf in Counter(toks).items():
                r = rows.setdefault(t, ([], []))
                r[0].append(d)
                r[1].append(tf)
        for t, (ds, tfs) in rows.items():
            self._chunks.setdefault(t, []).append(
                (np.asarray(ds, dtype=np.int64), np.asarray(tfs, dtype=np.int64))
            )
            self._post.pop(t, None)
        self.lens = np.concatenate([self.lens, lens])
        self.deleted = np.concatenate([self.deleted, np.zeros(len(ids), bool)])
        self.purged = np.concatenate([self.purged, np.zeros(len(ids), bool)])
        return int(lens.sum())

    def delete(self, doc_ids) -> None:
        self.deleted[np.asarray(doc_ids, dtype=np.int64)] = True

    def purge(self) -> None:
        """A compaction removed every deleted doc physically."""
        self.purged |= self.deleted

    # -- stats ------------------------------------------------------------
    @property
    def n_docs(self) -> int:
        """Docs the engine still counts (not yet purged)."""
        return int((~self.purged).sum())

    @property
    def total_tokens(self) -> int:
        return int(self.lens[~self.purged].sum())

    @property
    def n_live(self) -> int:
        return int((~self.deleted).sum())

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        p = self._post.get(term)
        if p is None:
            ch = self._chunks.get(term)
            if ch is None:
                p = (np.empty(0, np.int64), np.empty(0, np.int64))
            else:
                p = (np.concatenate([c[0] for c in ch]),
                     np.concatenate([c[1] for c in ch]))
            self._post[term] = p
        return p

    def df(self, term: str) -> int:
        docs, _ = self.postings(term)
        return int((~self.purged[docs]).sum())

    def doc_freqs(self) -> dict[str, int]:
        """df of every word indexed so far."""
        return {t: self.df(t) for t in self._chunks}

    # -- queries ----------------------------------------------------------
    def _docset(self, tree) -> np.ndarray:
        kind, arg = tree
        if kind == "term":
            docs, _ = self.postings(arg)
            return docs[~self.deleted[docs]]
        sets = [self._docset(c) for c in arg]
        out = sets[0]
        for s in sets[1:]:
            out = (np.intersect1d(out, s, assume_unique=True) if kind == "and"
                   else np.union1d(out, s))
        return out

    def scores(self, tree, docs: np.ndarray) -> np.ndarray:
        """BM25 of ``docs`` for the distinct terms of ``tree``."""
        n = self.n_docs
        avgdl = self.total_tokens / n
        out = np.zeros(len(docs), dtype=np.float64)
        norm = K1 * (1.0 - B + B * self.lens[docs] / avgdl)
        for t in sorted(set(terms_of(tree))):
            pd, ptf = self.postings(t)
            if len(pd) == 0:
                continue
            df = self.df(t)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            pos = np.searchsorted(pd, docs)
            pos_c = np.minimum(pos, len(pd) - 1)
            hit = (pos < len(pd)) & (pd[pos_c] == docs)
            tf = np.where(hit, ptf[pos_c], 0).astype(np.float64)
            out += np.where(hit, idf * tf * (K1 + 1.0) / (tf + norm), 0.0)
        return out

    def topk(self, tree, k: int) -> list[tuple[int, float]]:
        docs = self._docset(tree)
        if len(docs) == 0:
            return []
        sc = self.scores(tree, docs)
        order = np.lexsort((docs, -sc))[:k]
        return [(int(docs[i]), float(sc[i])) for i in order]


def terms_of(tree) -> list[str]:
    kind, arg = tree
    if kind == "term":
        return [arg]
    return [t for c in arg for t in terms_of(c)]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def check_topk(ref: Reference, tree, got, want) -> str | None:
    """None when the engine's top-k ``got`` agrees with the reference's
    ``want`` (both lists of (doc_id, score)); otherwise a reason.

    Ranks must hold the same doc ids, except that two docs whose reference
    scores are equal within ``REL_TOL`` may trade places; every score must
    match within ``REL_TOL``."""
    got = [(int(d), float(s)) for d, s in got]
    if len(got) != len(want):
        return f"{len(got)} hits, reference has {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws):
            return f"rank {i}: score {gs!r} != reference {ws!r}"
        if gd != wd:
            if gd not in set(ref._docset(tree).tolist()):
                return f"rank {i}: doc {gd} does not match the query"
            own = ref.scores(tree, np.array([gd], dtype=np.int64))[0]
            if not _close(own, ws):
                return f"rank {i}: doc {gd} != reference doc {wd}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None
