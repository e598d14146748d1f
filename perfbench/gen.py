"""Seeded input generator for the benchmark.

Everything a run feeds the engine comes from here, as a pure function
of ``(workload spec, seed)``: the ``repo_files`` corpus, the query
stream and the update batches. The generator keeps the ground truth
it planted -- every document's term counts -- so the checker never
has to re-derive it from the engine's own output.

Vocabulary model. Token ranks follow a Zipf-Mandelbrot law,
P(r) ~ 1 / (r + q)^s, over a cap of candidate terms.
Sampling from that law gives Heaps-law vocabulary growth: the number
of distinct terms grows sub-linearly with the token count, and most
of them are rare. The law's exponent is 1 (classic Zipf); the
workload's ``vocab_cap`` bounds the candidate terms. The strings themselves are random ``[a-z]`` words,
so a different seed changes which word sits at which rank, but not
the shape of the distribution.

Tokenizer contract. Content is built so that the engine's frozen
analyzer (lower-case, split on runs of ``[^a-z0-9]``, drop empties)
yields exactly the planted tokens: words are ``[a-z]+`` (some
capitalized), separators are non-alphanumeric runs. Marker and
out-of-vocabulary terms carry digits, so they can never collide with
a vocabulary word.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Where each parameter comes from (a published figure, or an
# assumption and the workload property it controls) is in README.md.
ZIPF_S = 1.0
ZIPF_Q = 2.7
# query popularity: flatter than term popularity, so the most popular
# query is ~1% of the stream and a bit under half the stream repeats
QUERY_POP_S = 0.6
# shares of 1, 2, 3 and more than 3 terms among non-empty queries
# (AltaVista log, Silverstein et al., SIGIR Forum 1999); more than 3
# becomes 4
QUERY_LEN_WEIGHTS = np.array([25.8, 26.0, 15.0, 12.6])
# queries asking past the first result page (about 15% of them in
# the same log) ask for k=100 here; the rest for k=10
K100_RESIDUES = (5, 11, 17)   # of i % 20

_SEPS = np.array([" ", " ", " ", "\n", ". ", "(", ") ", ", ", "_", " = ",
                  "::", "\n    ", "->", "/"])
_LANGS = np.array(["python", "java", "go", "js", "md", "txt"])


@dataclass
class Corpus:
    """Generated documents in doc_id order plus their planted truth.

    ``keys`` are (repo, path, commit) tuples; their lexicographic order
    is the generation order, so the engine's documented id assignment
    (dense ids ordered by repo, path, commit) gives doc_id == index."""

    keys: list[tuple[str, str, str]]
    contents: list[str]
    term_ids: list[np.ndarray]       # sorted distinct term ids per doc
    term_tfs: list[np.ndarray]       # matching term counts
    vocab: np.ndarray                # term id -> string

    @property
    def n_docs(self) -> int:
        return len(self.contents)

    def content_bytes(self) -> int:
        return sum(len(c) for c in self.contents)


@dataclass
class Workload:
    """Input sizes of one workload (see README.md for the reasons)."""

    n_docs: int
    mean_len: int
    vocab_cap: int
    n_queries: int
    update_batches: int = 0
    batch_modified: int = 0
    batch_new: int = 0


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per purpose, so adding a draw to one
    # purpose never shifts another's inputs
    tag = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), tag])


def make_vocab(seed: int, n: int) -> np.ndarray:
    """``n`` distinct random lower-case words, indexed by popularity
    rank. Lengths 3..12, peaking around 8 like identifiers and words."""
    rng = _rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    while len(words) < n:
        m = (n - len(words)) * 11 // 10 + 16
        lens = np.clip(rng.poisson(5.0, m) + 3, 3, 12)
        raw = letters[rng.integers(0, 26, int(lens.sum()))].tobytes().decode()
        ends = np.cumsum(lens)
        for a, b in zip(ends - lens, ends):
            w = raw[a:b]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


def _zipf_cdf(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / (np.arange(n, dtype=np.float64) + ZIPF_Q) ** s
    c = np.cumsum(w)
    return c / c[-1]


def draw_ranks(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


def _render(rng: np.random.Generator, words: list[str]) -> str:
    """Join words with random separator runs; capitalize some."""
    n = len(words)
    seps = _SEPS[rng.integers(0, len(_SEPS), n)]
    caps = rng.random(n) < 0.15
    out = []
    for w, s, c in zip(words, seps, caps):
        out.append(w.capitalize() if c else w)
        out.append(s)
    return "".join(out)


def _doc_lengths(rng: np.random.Generator, n: int, mean_len: int) -> np.ndarray:
    # log-normal lengths, like real file sizes; at least 8 tokens
    sigma = 0.6
    mu = np.log(mean_len) - sigma * sigma / 2
    return np.maximum(8, rng.lognormal(mu, sigma, n).astype(np.int64))


def _counts(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u, c = np.unique(ids, return_counts=True)
    return u.astype(np.int64), c.astype(np.int64)


def make_corpus(seed: int, spec: Workload, vocab: np.ndarray) -> Corpus:
    rng = _rng(seed, "corpus")
    cdf = _zipf_cdf(len(vocab))
    lens = _doc_lengths(rng, spec.n_docs, spec.mean_len)
    ranks = draw_ranks(rng, cdf, int(lens.sum()))
    ends = np.cumsum(lens)
    keys, contents, tids, tfs = [], [], [], []
    commits = rng.integers(0, 1 << 48, spec.n_docs)
    langs = _LANGS[rng.integers(0, len(_LANGS), spec.n_docs)]
    for i, (a, b) in enumerate(zip(ends - lens, ends)):
        ids = ranks[a:b]
        keys.append((f"repo{i // 100:05d}", f"src/m{i % 100:03d}.{langs[i]}",
                     f"{commits[i]:012x}"))
        contents.append(_render(rng, vocab[ids].tolist()))
        u, c = _counts(ids)
        tids.append(u)
        tfs.append(c)
    return Corpus(keys, contents, tids, tfs, vocab)


def write_corpus(path: str, keys, contents, n_files: int) -> None:
    """Write a ``repo_files`` parquet directory (repo, path, commit,
    lang, content) as ``n_files`` files, so a scan has that many
    splits."""
    os.makedirs(path, exist_ok=True)
    repo, p, commit = (list(x) for x in zip(*keys))
    lang = [k.rsplit(".", 1)[-1] for k in p]
    tbl = pa.table({"repo": repo, "path": p, "commit": commit,
                    "lang": lang, "content": list(contents)})
    step = -(-len(keys) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


# ------------------------------------------------------------ queries


@dataclass
class Query:
    text: str
    k: int
    terms: list[str]          # analyzer view: distinct, ascending
    oov_only: bool = False


def oov_term(rng: np.random.Generator) -> str:
    # digits guarantee the term is outside the [a-z]+ vocabulary
    return f"zq{int(rng.integers(0, 10**9)):09d}"


def make_query_stream(seed: int, spec: Workload, corpus: Corpus) -> list[Query]:
    """A pool of ``n_queries`` distinct queries, then a stream of as
    many draws from the pool by Zipf popularity (so part of it
    repeats).

    Query terms follow the corpus's own Zipf term popularity, minus
    the ten most frequent terms (the stopword tier a query parser
    drops). Lengths 1-4 by ``QUERY_LEN_WEIGHTS``; three queries in
    twenty ask for k=100; one in twenty carries an out-of-vocabulary
    term and one in fifty is nothing but out-of-vocabulary terms."""
    rng = _rng(seed, "queries")
    present = np.unique(np.concatenate(corpus.term_ids))
    # popularity = corpus frequency rank; ranks < 10 are stopwords
    present = present[present >= 10]
    cdf = _zipf_cdf(len(present))
    len_p = QUERY_LEN_WEIGHTS / QUERY_LEN_WEIGHTS.sum()
    pool: list[Query] = []
    for i in range(spec.n_queries):
        n_terms = int(rng.choice([1, 2, 3, 4], p=len_p))
        words = corpus.vocab[present[draw_ranks(rng, cdf, n_terms)]].tolist()
        oov_only = i % 50 == 7
        if oov_only:
            words = [oov_term(rng) for _ in range(n_terms)]
        elif i % 20 == 3:
            words[-1] = oov_term(rng)
        k = 100 if i % 20 in K100_RESIDUES else 10
        text = _render(rng, words).strip()
        pool.append(Query(text, k, sorted(set(w.lower() for w in words)),
                          oov_only))
    pop = _zipf_cdf(len(pool), QUERY_POP_S)
    picks = draw_ranks(rng, pop, spec.n_queries)
    # the pool is in random order already; ranks pick by popularity
    return [pool[int(j)] for j in picks]


# ------------------------------------------------------------ updates


@dataclass
class UpdateBatch:
    keys: list[tuple[str, str, str]]     # rows of the batch, key order
    contents: list[str]
    term_ids: list[np.ndarray]
    term_tfs: list[np.ndarray]
    markers: list[tuple[str, int]]       # (marker term, term id) per row


def make_update_batches(seed: int, spec: Workload,
                        corpus: Corpus) -> list[UpdateBatch]:
    """Upsert batches: each holds ``batch_modified`` existing files
    (same repo/path, new commit and content) plus ``batch_new`` files
    under new paths. Every row carries a unique digit-bearing marker
    token, so a marker query must return exactly that row's new
    version. A file is modified at most once."""
    rng = _rng(seed, "updates")
    cdf = _zipf_cdf(len(corpus.vocab))
    order = rng.permutation(corpus.n_docs)
    batches = []
    for b in range(spec.update_batches):
        mod = sorted(int(x) for x in
                     order[b * spec.batch_modified:(b + 1) * spec.batch_modified])
        rows = [(corpus.keys[i][0], corpus.keys[i][1]) for i in mod]
        rows += [(f"repo{99990 + b:05d}", f"src/new{j:03d}.txt")
                 for j in range(spec.batch_new)]
        lens = _doc_lengths(rng, len(rows), spec.mean_len)
        items = []
        for r, (repo, path) in enumerate(rows):
            marker = f"mk{seed % 1000:03d}b{b:02d}r{r:03d}"
            ids = draw_ranks(rng, cdf, int(lens[r]))
            words = corpus.vocab[ids].tolist()
            words.insert(int(rng.integers(0, len(words) + 1)), marker)
            commit = f"{int(rng.integers(0, 1 << 48)):012x}"
            # markers take ids past the vocabulary's
            mid = len(corpus.vocab) + b * 1000 + r
            u, c = _counts(np.append(ids, mid))
            items.append(((repo, path, commit), _render(rng, words), u, c,
                          (marker, mid)))
        items.sort(key=lambda x: x[0])
        batches.append(UpdateBatch(
            keys=[x[0] for x in items],
            contents=[x[1] for x in items],
            term_ids=[x[2] for x in items],
            term_tfs=[x[3] for x in items],
            markers=[x[4] for x in items],
        ))
    return batches

