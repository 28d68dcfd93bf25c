"""Correctness oracle. Shares no code with the engine's query path.

- `analyze` re-implements the code analyzer from its documented spec
  (config.AnalyzerConfig) so the generator's token lists can be checked.
- `BM25` is a numpy BM25 (Lucene idf, float64) over the generated token
  lists, with explicit control of which documents count toward N, avgdl
  and df (frozen stats with tombstones, re-computed stats after compaction)
  and which documents may be returned.
- `same_topk` compares ranked answers with ties broken (score desc,
  doc_id asc), tolerating float noise only between tied scores.
- `knn_exact` is an exact cosine top-k in numpy, rounded to 6 dp like the
  engine's Catalyst re-score.
"""

from __future__ import annotations

import re

import numpy as np

_CAMEL = re.compile(r"([a-z0-9])([A-Z])")
_ACRONYM = re.compile(r"([A-Z]+)([A-Z][a-z])")
_SPLIT = re.compile(r"[^a-z0-9]+")

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6
MIN_TOKEN_LEN = 2        # AnalyzerConfig.min_token_len of the code analyzer


def analyze(text: str, stopwords: frozenset[str]) -> list[str]:
    s = _ACRONYM.sub(r"\1 \2", _CAMEL.sub(r"\1 \2", text)).lower()
    return [t for t in _SPLIT.split(s)
            if len(t) >= MIN_TOKEN_LEN and "a" <= t[0] <= "z"
            and t not in stopwords]


class BM25:
    """BM25 over a list of documents given as vocabulary-rank arrays."""

    def __init__(self, doc_ids: np.ndarray, tokens: list[np.ndarray],
                 vocab: list[str]):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.term_of = {w: i for i, w in enumerate(vocab)}
        self.dl = np.array([len(t) for t in tokens], dtype=np.float64)
        n, v = len(tokens), len(vocab)
        doc = np.repeat(np.arange(n, dtype=np.int64), self.dl.astype(np.int64))
        flat = (np.concatenate(tokens).astype(np.int64) if n
                else np.empty(0, np.int64))
        keys, tf = np.unique(flat * n + doc, return_counts=True)
        term, d = keys // n, keys % n
        self.t_start = np.searchsorted(term, np.arange(v + 1))
        self.p_doc, self.p_tf = d, tf.astype(np.float64)

    def _postings(self, term: str):
        r = self.term_of.get(term)
        if r is None:
            return np.empty(0, np.int64), np.empty(0)
        a, b = self.t_start[r], self.t_start[r + 1]
        return self.p_doc[a:b], self.p_tf[a:b]

    def contains(self, term: str) -> np.ndarray:
        mask = np.zeros(len(self.dl), bool)
        mask[self._postings(term)[0]] = True
        return mask

    def topk(self, terms: list[str], k: int, *, stats=None, live=None
             ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) for the OR of `terms`. `stats` masks the
        documents counted in N / avgdl / df; `live` masks the documents
        that may be returned (both default to all)."""
        n = len(self.dl)
        stats = np.ones(n, bool) if stats is None else stats
        live = np.ones(n, bool) if live is None else live
        big_n = float(stats.sum())
        avgdl = float(self.dl[stats].sum()) / big_n
        acc = np.zeros(n)
        hit = np.zeros(n, bool)
        for t in sorted(set(terms)):
            d, tf = self._postings(t)
            df = float(stats[d].sum())
            if df == 0:
                continue
            idf = np.log(1.0 + (big_n - df + 0.5) / (df + 0.5))
            d, tf = d[live[d]], tf[live[d]]
            acc[d] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.dl[d] / avgdl))
            hit[d] = True
        idx = np.flatnonzero(hit)
        order = np.lexsort((self.doc_ids[idx], -acc[idx]))[:k]
        return [(int(self.doc_ids[idx[j]]), float(acc[idx[j]]))
                for j in order]

    def bool_topk(self, must, should, must_not, filter, k):
        """ES bool with single-term clauses: every must and filter term
        present, no must_not term; scored by the summed BM25 of the must
        and should terms."""
        ok = np.ones(len(self.dl), bool)
        for t in list(must) + list(filter):
            ok &= self.contains(t)
        for t in must_not:
            ok &= ~self.contains(t)
        return self.topk(list(must) + list(should), k, live=ok)


def phrase_topk(doc_ids: np.ndarray, tokens: list[np.ndarray],
                phrase: list[int], k: int) -> list[tuple[int, float]]:
    """Phrase BM25 over token sequences: tf = occurrences of the exact
    consecutive phrase, df = documents holding it, scores rounded 6 dp."""
    dl = np.array([len(t) for t in tokens], dtype=np.float64)
    flat = np.concatenate(tokens)
    doc = np.repeat(np.arange(len(tokens)), dl.astype(np.int64))
    n = len(phrase)
    m = np.ones(flat.size - n + 1, bool)
    for j, r in enumerate(phrase):
        m &= flat[j:flat.size - n + 1 + j] == r
    m &= doc[:flat.size - n + 1] == doc[n - 1:]
    occ = np.bincount(doc[:flat.size - n + 1][m], minlength=len(tokens))
    df = float((occ > 0).sum())
    if df == 0:
        return []
    big_n, avgdl = float(len(tokens)), float(dl.mean())
    idf = np.log1p((big_n - df + 0.5) / (df + 0.5))
    score = np.round(idf * occ * (K1 + 1.0)
                     / (occ + K1 * (1.0 - B + B * dl / avgdl)), 6)
    idx = np.flatnonzero(occ)
    order = np.lexsort((doc_ids[idx], -score[idx]))[:k]
    return [(int(doc_ids[idx[j]]), float(score[idx[j]])) for j in order]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]],
              k: int) -> bool:
    """Ranked answers agree. `want` holds the exact top-(k+1), so a tie
    at the cut is visible. Scores must match within SCORE_TOL at every rank;
    the doc must match at every rank whose score is not tied (within SCORE_TOL)
    with a neighbour, the first excluded hit included."""
    if len(got) != min(k, len(want)):
        return False
    ws = [s for _, s in want]
    for i, ((gd, gs), (wd, w)) in enumerate(zip(got, want)):
        eps = SCORE_TOL * max(1.0, abs(w))
        if abs(gs - w) > eps:
            return False
        tied = ((i > 0 and abs(ws[i - 1] - w) <= eps)
                or (i + 1 < len(ws) and abs(ws[i + 1] - w) <= eps))
        if gd != wd and not tied:
            return False
    return True


def rows_topk(rows) -> list[tuple[int, float]]:
    """Engine rows (rank, doc_id, score) -> ranked (doc_id, score)."""
    return [(int(r["doc_id"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


def knn_exact(vecs: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int,
              exclude: int | None = None) -> list[tuple[int, float]]:
    """Exact cosine top-k: (id, cos rounded 6 dp), ties by id asc."""
    v = vecs.astype(np.float64)
    qv = q.astype(np.float64)
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    cos = np.round(cos, 6)
    keep = ids != exclude if exclude is not None else np.ones(len(ids), bool)
    idx = np.flatnonzero(keep)
    order = np.lexsort((ids[idx], -cos[idx]))[:k]
    return [(int(ids[idx[j]]), float(cos[idx[j]])) for j in order]


def recall(got_ids, want: list[tuple[int, float]]) -> float:
    """Share of the exact top-k ids found in `got_ids`."""
    if not want:
        return 1.0
    return len(set(got_ids) & {d for d, _ in want}) / len(want)
