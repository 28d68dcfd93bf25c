"""Seeded corpus, query and vector generator for the benchmark.

Everything here is a pure function of the workload seed: the same seed gives
the same vocabulary, documents, queries and vectors, and `corpus_hash`
proves it (the generator checks itself on every run).

Documents are code-like text built from a Zipf vocabulary of tens of
thousands of pronounceable words, so a few hot terms occur in nearly every
document while most terms are rare. Each generated word survives the
engine's code analyzer unchanged (alphabetic, length >= 4, not a
stopword); identifiers join 1-3 words in camelCase, snake_case or
UPPER_SNAKE, and lines mix in language keywords (stopwords) and numbers
that the analyzer drops. The kept-token sequence of every document is
therefore known exactly without running the engine, which is what the
oracle in `oracle.py` scores against.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import cached_property

import numpy as np

# The vocabulary shape is an unverified assumption: a Zipf-Mandelbrot law
# chosen so that a few hot terms occur in nearly every document and most
# terms in one or two, not fitted to a real corpus.
VOCAB_SIZE = 30_000
ZIPF_S = 1.05          # Zipf-Mandelbrot exponent
ZIPF_Q = 2.7           # Zipf-Mandelbrot shift: flattens the very top ranks
DOC_LEN = 120          # mean kept tokens per document (lognormal)
FIELD = "content"
# Background-linking query shape of the reference (SURVEY.md 2.6 K1 and
# 3.2): hits per query k in {100, ..., 300}; the query is the union of the
# document's top tf-idf terms, title (at most 3, min_tf 1, min_df 1) and
# text (at most 25, min_tf 2, min_df 5), OR-joined.
TOP_K = (100, 150, 200, 250, 300)
TITLE_TERMS = (3, 1, 1)          # (max terms, min_tf, min_df)
TEXT_TERMS = (25, 2, 5)
TITLE_LEN = 8          # leading kept tokens that stand in for a title
KEYWORDS = ("def", "return", "if", "for", "while", "class", "import",
            "public", "static", "void", "const", "let", "func", "self")
LANGS = ("py", "java", "js", "go", "rs")
_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"


@dataclass
class Corpus:
    """Generated rows plus their analyzed token sequences."""

    doc_ids: np.ndarray              # int64, ascending
    contents: list[str]
    tokens: list[np.ndarray]         # vocabulary ranks per doc, in order
    vocab: list[str]
    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]

    def terms(self, i: int) -> list[str]:
        return [self.vocab[r] for r in self.tokens[i]]

    @cached_property
    def df(self) -> np.ndarray:
        """Document frequency of every vocabulary rank."""
        df = np.zeros(len(self.vocab), dtype=np.int64)
        for t in self.tokens:
            df[np.unique(t)] += 1
        return df

    def input_bytes(self) -> int:
        return sum(len(c.encode("utf-8")) for c in self.contents)


SCHEMA = ("repo string, path string, commit string, lang string, "
          "content string, doc_id bigint")


def make_vocab(seed: int, stopwords: frozenset[str]) -> list[str]:
    """VOCAB_SIZE distinct alphabetic words of 2-4 consonant-vowel
    syllables, none of them a stopword."""
    rng = np.random.default_rng([seed, 1])
    syl = [c + v for c in _CONS for v in _VOWS]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB_SIZE:
        n = rng.integers(2, 5, size=4096)
        picks = rng.integers(0, len(syl), size=(4096, 4))
        for k, row in zip(n, picks):
            w = "".join(syl[j] for j in row[:k])
            if w not in seen and w not in stopwords:
                seen.add(w)
                out.append(w)
                if len(out) == VOCAB_SIZE:
                    break
    return out


def zipf_probs() -> np.ndarray:
    r = np.arange(VOCAB_SIZE, dtype=np.float64)
    p = (r + ZIPF_Q) ** -ZIPF_S
    return p / p.sum()


_PREFIX = tuple(f"{kw} " for kw in KEYWORDS) + ("    ", "    ", "\t")
_JOIN = (", ", ".", " = ", " + ", "(")
_SUFFIX = (":", ";", "", ")", " // 0x1f", " # 42")


def _render(vocab: list[str], flat: np.ndarray, starts: np.ndarray,
            rng: np.random.Generator) -> list[str]:
    """Lay every document's kept words out as pseudo-code, in order.

    Vectorized over the flat token array: identifiers of 1-3 words in
    camelCase / snake_case / UPPER_SNAKE, about 2.5 identifiers per line,
    keyword prefixes and numeric suffixes the analyzer drops. Identifiers
    and lines never cross a document boundary."""
    n = flat.size
    first = np.zeros(n, dtype=bool)
    cut = np.cumsum(rng.integers(1, 4, size=n))
    first[np.r_[0, cut[cut < n]]] = True
    first[starts] = True
    ident = np.cumsum(first) - 1
    n_ident = int(ident[-1]) + 1 if n else 0
    style = rng.integers(0, 3, size=n_ident)[ident]
    new_line = (rng.random(n_ident) < 0.4)[ident] & first
    doc_start = np.zeros(n, dtype=bool)
    doc_start[starts] = True
    new_line |= doc_start

    lower = np.array(vocab, dtype=object)
    cap = np.array([w.capitalize() for w in vocab], dtype=object)
    upper = np.array([w.upper() for w in vocab], dtype=object)
    form = lower[flat]
    inner_camel = (style == 0) & ~first
    form[inner_camel] = cap[flat[inner_camel]]
    form[style == 2] = upper[flat[style == 2]]

    pre = np.array(_PREFIX, dtype=object)[rng.integers(0, len(_PREFIX), n)]
    suf = np.array([x + "\n" for x in _SUFFIX], dtype=object)[
        rng.integers(0, len(_SUFFIX), n)]
    join = np.array(_JOIN, dtype=object)[rng.integers(0, len(_JOIN), n)]
    sep = np.where(style == 0, "", "_").astype(object)
    sep[first] = join[first]
    sep[new_line] = suf[new_line] + pre[new_line]
    sep[doc_start] = pre[doc_start]
    pieces = sep + form
    ends = np.r_[starts[1:], n]
    return ["".join(pieces[a:b]) + ";" for a, b in zip(starts, ends)]


def make_corpus(seed: int, n_docs: int, first_id: int,
                stopwords: frozenset[str], *, stream: int = 0) -> Corpus:
    """n_docs documents with ids first_id.. ; `stream` separates corpora
    drawn from the same seed (main corpus, delta corpus, vector docs)."""
    vocab = make_vocab(seed, stopwords)
    rng = np.random.default_rng([seed, 2, stream])
    # lengths are rescaled to a total of n_docs * DOC_LEN tokens, so the
    # seed changes which documents are long, not how much text there is
    lens = rng.lognormal(np.log(DOC_LEN), 0.5, n_docs)
    lens = np.clip(np.rint(lens * (n_docs * DOC_LEN / lens.sum())),
                   20, 6 * DOC_LEN).astype(np.int64)
    flat = rng.choice(VOCAB_SIZE, size=int(lens.sum()),
                      p=zipf_probs()).astype(np.int32)
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    tokens = np.split(flat, starts[1:])
    contents = _render(vocab, flat, starts, rng)
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    lang = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)]
    ids = doc_ids.tolist()
    repo = [f"org{d % 7}/repo{d % 23}" for d in ids]
    path = [f"src/{vocab[int(t[0])]}/f{d}.{lg}"
            for d, t, lg in zip(ids, tokens, lang)]
    commit = [hashlib.sha1(f"{seed}:{d}".encode()).hexdigest() for d in ids]
    return Corpus(doc_ids, contents, tokens, vocab, repo, path, commit,
                  lang)


def corpus_hash(c: Corpus) -> str:
    h = hashlib.sha256()
    for did, text in zip(c.doc_ids, c.contents):
        h.update(int(did).to_bytes(8, "little"))
        h.update(text.encode("utf-8"))
    return h.hexdigest()


def check_deterministic(seed: int, stopwords: frozenset[str]) -> None:
    """The generator's self-check: two draws of a small corpus from the
    same seed must hash the same, and another seed must not."""
    a = corpus_hash(make_corpus(seed, 50, 0, stopwords, stream=9))
    b = corpus_hash(make_corpus(seed, 50, 0, stopwords, stream=9))
    c = corpus_hash(make_corpus(seed + 1, 50, 0, stopwords, stream=9))
    if a != b or a == c:
        raise RuntimeError("corpus generator is not a function of its seed")


# ------------------------------------------------------------------ queries

@dataclass
class Query:
    kind: str            # match_short | match_long | bool | phrase
    body: dict
    terms: list[str]     # scoring terms (analyzed, in body order)
    k: int               # hits asked for
    must: list[str] | None = None
    must_not: list[str] | None = None
    filter: list[str] | None = None


def draw_k(rng: np.random.Generator) -> int:
    return int(TOP_K[int(rng.integers(0, len(TOP_K)))])


def _zipf_terms(rng, vocab, n: int, lo: int = 0) -> list[str]:
    p = zipf_probs()
    out: list[str] = []
    while len(out) < n:
        r = int(rng.choice(VOCAB_SIZE, p=p))
        if r >= lo and vocab[r] not in out:
            out.append(vocab[r])
    return out


def _top_tfidf(ranks: np.ndarray, df: np.ndarray, n_docs: int,
               limits: tuple[int, int, int]) -> list[int]:
    """The document's highest tf x idf terms (idf = ln((N+1)/(df+1)) + 1),
    keeping only terms with tf >= min_tf in `ranks` and df >= min_df;
    ties go to the more frequent vocabulary rank."""
    max_terms, min_tf, min_df = limits
    r, tf = np.unique(ranks, return_counts=True)
    keep = (tf >= min_tf) & (df[r] >= min_df)
    r, tf = r[keep], tf[keep]
    score = tf * (np.log((n_docs + 1) / (df[r] + 1)) + 1.0)
    return [int(x) for x in r[np.lexsort((r, -score))][:max_terms]]


def keywords(corpus: Corpus, d: int) -> list[str]:
    """Query-by-document terms of document d: title keywords, then text
    keywords not already chosen (the reference's set union)."""
    toks, n = corpus.tokens[d], len(corpus.tokens)
    out = _top_tfidf(toks[:TITLE_LEN], corpus.df, n, TITLE_TERMS)
    out += [r for r in _top_tfidf(toks, corpus.df, n, TEXT_TERMS)
            if r not in out]
    return [corpus.vocab[r] for r in out]


def make_query(rng: np.random.Generator, corpus: Corpus, kind: str) -> Query:
    """One query of `kind`, drawn from the corpus's own distribution."""
    v = corpus.vocab
    k = draw_k(rng)
    if kind == "match_short":
        ts = _zipf_terms(rng, v, int(rng.integers(2, 5)))
        return Query(kind, {"query": {"match": {FIELD: " ".join(ts)}}}, ts, k)
    if kind == "match_long":
        # query-by-document, the background-linking shape
        ts = keywords(corpus, int(rng.integers(0, len(corpus.contents))))
        return Query(kind, {"query": {"match": {FIELD: " ".join(ts)}}}, ts, k)
    if kind == "bool":
        # two required mid-frequency terms, one should, one excluded and
        # one filter term; every clause a single term
        must = _zipf_terms(rng, v, 2, lo=5)
        rest = [t for t in _zipf_terms(rng, v, 6, lo=2) if t not in must]
        should, mnot, flt = rest[0], rest[1], rest[2]
        m = lambda t: {"match": {FIELD: t}}  # noqa: E731
        body = {"query": {"bool": {
            "must": [m(t) for t in must], "should": [m(should)],
            "must_not": [m(mnot)], "filter": [m(flt)]}}}
        return Query(kind, body, must + [should], k, must=must,
                     must_not=[mnot], filter=[flt])
    if kind == "phrase":
        # two or three consecutive kept tokens of a random document
        d = int(rng.integers(0, len(corpus.contents)))
        toks = corpus.terms(d)
        n = int(rng.integers(2, 4))
        s = int(rng.integers(0, max(1, len(toks) - n)))
        ts = toks[s:s + n]
        return Query(kind, {"query": {"match_phrase": {FIELD: " ".join(ts)}}},
                     ts, k)
    raise ValueError(f"unknown query kind: {kind}")


def make_batch(rng: np.random.Generator, corpus: Corpus, n: int,
               dup_share: float) -> list[list[str]]:
    """A search_many batch: `dup_share` of the queries are exact copies of
    earlier ones in the batch; the rest are short Zipf queries (which share
    hot terms with each other) and one query-by-document in ten. Both
    shares are unverified assumptions, not taken from a query log."""
    out: list[list[str]] = []
    for _ in range(n):
        if out and rng.random() < dup_share:
            out.append(list(out[int(rng.integers(0, len(out)))]))
        elif rng.random() < 0.1:
            out.append(make_query(rng, corpus, "match_long").terms)
        else:
            out.append(make_query(rng, corpus, "match_short").terms)
    return out


# ------------------------------------------------------------------ vectors

def make_vectors(seed: int, n: int, dim: int, n_clusters: int
                 ) -> np.ndarray:
    """Clustered float32 vectors: Gaussian blobs around random unit
    centers. The cluster count and noise are unverified assumptions, meant
    only to give HNSW neighbourhoods that are neither trivial nor random."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, n_clusters, size=n)
    x = centers[lab] + 1.4 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    return x.astype(np.float32)
