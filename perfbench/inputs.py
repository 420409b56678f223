"""Seeded inputs for the benchmark: a Zipf code-like corpus and query streams.

Everything here is a pure function of ``(seed, sizes)`` built on numpy's
PCG64 generator.  Nothing is imported from the engine, so a change to the
engine cannot change what the benchmark feeds it.

The corpus is "code-like": every document is a run of lines, and each line
is either one of a few thousand recurring statements (Zipf-popular, so
phrases drawn from them really occur and repeat) or a short run of free
tokens.  Tokens follow a Zipf law over a 20k-term vocabulary whose head is
common language keywords.  Vocabulary and statements are fixed; the seed
draws the documents and the query streams.  The engine's default ``whitespace`` tokenizer
splits exactly on the spaces and newlines written here, so the generator's
own token arrays give exact document frequencies for query sizing.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 20_000
NUM_STATEMENTS = 3_000
KEYWORDS = [
    "def", "return", "self", "if", "for", "in", "import", "not", "else",
    "class", "from", "None", "True", "False", "while", "try", "except",
    "with", "as", "pass", "break", "continue", "lambda", "yield", "raise",
    "print", "len", "range", "int", "str", "list", "dict", "set", "assert",
    "elif", "global", "async", "await", "del", "is", "or", "and",
]
_SYLLABLES = [
    "ab", "ac", "ad", "al", "an", "ar", "as", "at", "ba", "be", "bo", "ca",
    "ce", "co", "da", "de", "di", "do", "el", "em", "en", "er", "es", "et",
    "fa", "fi", "fo", "ga", "ge", "go", "ha", "he", "hi", "id", "il", "im",
    "in", "io", "is", "ka",
]
ABSENT_PREFIX = "qz"  # no vocabulary term starts with it
LANGUAGE_SEED = 20_000


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def zipf_draw(rng: np.random.Generator, n: int, s: float,
              size: int) -> np.ndarray:
    """``size`` ranks in ``[0, n)`` with P(rank r) proportional to
    ``1 / (r + 1) ** s``."""
    cdf = zipf_cdf(n, s)
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def make_vocab(rng: np.random.Generator) -> np.ndarray:
    """Keywords first (the Zipf head), then seed-shuffled identifiers."""
    syl = np.asarray(_SYLLABLES, dtype=object)
    two = [a + b for a in syl for b in syl]
    three = [a + b + "_" + c for a in syl for b in syl for c in syl[:16]]
    idents = np.asarray(two + three, dtype=object)
    idents = idents[rng.permutation(idents.size)]
    taken = set(KEYWORDS)
    idents = [t for t in idents if t not in taken]
    return np.asarray(KEYWORDS + idents[:VOCAB_SIZE - len(KEYWORDS)],
                      dtype=object)


@dataclass
class Corpus:
    """Documents as token ids plus the statement table they draw from."""

    vocab: np.ndarray          # term strings, index = term id
    doc_ids: np.ndarray        # int64 user ids
    tok: np.ndarray            # int32 term ids of all docs, concatenated
    doc_bounds: np.ndarray     # int64 [n_docs + 1] offsets into ``tok``
    line_end: np.ndarray       # bool per token: last token of its line
    stmt_tok: np.ndarray       # int32 statement term ids, concatenated
    stmt_bounds: np.ndarray    # int64 [NUM_STATEMENTS + 1]

    @property
    def num_docs(self) -> int:
        return int(self.doc_ids.size)

    def contents(self) -> list[str]:
        words = self.vocab[self.tok]
        seps = np.where(self.line_end, "\n", " ").astype(object)
        joined = words + seps
        out = []
        b = self.doc_bounds
        for i in range(self.num_docs):
            out.append("".join(joined[b[i]:b[i + 1]]).rstrip())
        return out

    def doc_freqs(self) -> np.ndarray:
        """Exact document frequency per term id."""
        doc_of = np.repeat(np.arange(self.num_docs, dtype=np.int64),
                           np.diff(self.doc_bounds))
        pairs = np.unique(doc_of * VOCAB_SIZE + self.tok)
        return np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)


def make_statements(rng: np.random.Generator
                    ) -> tuple[np.ndarray, np.ndarray]:
    lens = rng.integers(3, 9, size=NUM_STATEMENTS)
    toks = zipf_draw(rng, VOCAB_SIZE, 1.1, int(lens.sum())).astype(np.int32)
    bounds = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    return toks, bounds


def make_docs(rng: np.random.Generator, first_id: int, n_docs: int,
              stmt_tok: np.ndarray, stmt_bounds: np.ndarray
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``n_docs`` documents → (doc_ids, tok, doc_bounds, line_end)."""
    n_lines = rng.integers(4, 25, size=n_docs)
    L = int(n_lines.sum())
    is_stmt = rng.random(L) < 0.65
    stmt = zipf_draw(rng, NUM_STATEMENTS, 1.0, L)
    stmt_len = np.diff(stmt_bounds)
    line_len = np.where(is_stmt, stmt_len[stmt], rng.integers(1, 5, size=L))
    total = int(line_len.sum())
    line_of = np.repeat(np.arange(L), line_len)
    off = np.arange(total) - np.repeat(np.cumsum(line_len) - line_len,
                                       line_len)
    from_stmt = stmt_tok[np.minimum(stmt_bounds[stmt[line_of]] + off,
                                    stmt_tok.size - 1)]
    free = zipf_draw(rng, VOCAB_SIZE, 1.07, total).astype(np.int32)
    tok = np.where(is_stmt[line_of], from_stmt, free).astype(np.int32)
    line_end = np.zeros(total, dtype=bool)
    line_end[np.cumsum(line_len) - 1] = True
    doc_lines = np.concatenate([[0], np.cumsum(n_lines)])
    line_starts = np.concatenate([[0], np.cumsum(line_len)])
    doc_bounds = line_starts[doc_lines].astype(np.int64)
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return doc_ids, tok, doc_bounds, line_end


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """The vocabulary and the statement table are the same for every seed
    (the corpus "language"); the seed draws the documents from them, so
    corpora of different seeds differ in content but not in kind."""
    lang = np.random.default_rng(LANGUAGE_SEED)
    vocab = make_vocab(lang)
    stmt_tok, stmt_bounds = make_statements(lang)
    rng = np.random.default_rng([seed, 1])
    doc_ids, tok, bounds, line_end = make_docs(rng, 0, n_docs, stmt_tok,
                                               stmt_bounds)
    return Corpus(vocab, doc_ids, tok, bounds, line_end, stmt_tok,
                  stmt_bounds)


def new_versions(corpus: Corpus, seed: int, round_no: int,
                 replace_ids: np.ndarray, n_insert: int, first_new_id: int
                 ) -> tuple[np.ndarray, list[str]]:
    """Fresh contents for ``replace_ids`` plus ``n_insert`` new ids —
    one update round of the ingest workload."""
    rng = np.random.default_rng([seed, 3, round_no])
    n = replace_ids.size + n_insert
    _, tok, bounds, line_end = make_docs(rng, 0, n, corpus.stmt_tok,
                                         corpus.stmt_bounds)
    part = Corpus(corpus.vocab, np.arange(n), tok, bounds, line_end,
                  corpus.stmt_tok, corpus.stmt_bounds)
    ids = np.concatenate([replace_ids.astype(np.int64),
                          np.arange(first_new_id, first_new_id + n_insert,
                                    dtype=np.int64)])
    return ids, part.contents()


# --- query streams ---------------------------------------------------------

@dataclass(frozen=True)
class QuerySpec:
    """Engine-neutral query description; ``kind`` is one of ``phrase``,
    ``term``, ``bool``, ``dismax`` or ``zero``.  ``text`` is the query
    string for phrase/term/zero queries; ``clauses`` holds
    ``(role, text)`` pairs for bool (role must/should/must_not) and
    dismax (role clause)."""

    kind: str
    text: str = ""
    clauses: tuple = ()

    def key(self) -> str:
        if self.clauses:
            return self.kind + ":" + "|".join(f"{r}={t}"
                                              for r, t in self.clauses)
        return self.kind + ":" + self.text


STRATA = 50


class QueryMaker:
    """Draws queries over a corpus.  Terms are drawn Zipf by document
    frequency rank, phrases from Zipf-popular statement windows.

    Ranks are drawn stratified: each run of ``STRATA`` consecutive draws
    of one Zipf law takes one uniform from each of ``STRATA`` equal slices
    of [0, 1), in shuffled order.  Every seed's stream then holds the same
    share of head and tail ranks (with plain draws, the number of head-term
    queries in a few hundred, and with it the stream's cost, varied from
    seed to seed); seeds still differ in which ranks, queries and order."""

    def __init__(self, corpus: Corpus, rng: np.random.Generator):
        self.c = corpus
        self.rng = rng
        self.df = corpus.doc_freqs()
        present = np.flatnonzero(self.df > 0)
        self.by_rank = present[np.argsort(-self.df[present], kind="stable")]
        self.term_id = {str(t): i for i, t in enumerate(corpus.vocab)}
        self._absent = 0
        self._cdfs: dict[tuple[int, float], np.ndarray] = {}
        self._strata: dict[tuple[int, float], list[float]] = {}

    def _rank(self, n: int, s: float) -> int:
        cdf = self._cdfs.get((n, s))
        if cdf is None:
            cdf = self._cdfs[(n, s)] = zipf_cdf(n, s)
        left = self._strata.setdefault((n, s), [])
        if not left:
            left.extend((self.rng.permutation(STRATA)
                         + self.rng.random(STRATA)) / STRATA)
        return min(int(np.searchsorted(cdf, left.pop())), n - 1)

    def term(self, s: float = 1.0) -> str:
        r = self._rank(self.by_rank.size, s)
        return str(self.c.vocab[self.by_rank[r]])

    def phrase(self, s: float = 1.0) -> str:
        st = self._rank(NUM_STATEMENTS, s)
        lo, hi = self.c.stmt_bounds[st], self.c.stmt_bounds[st + 1]
        n = int(self.rng.integers(2, min(4, hi - lo) + 1))
        start = lo + int(self.rng.integers(0, hi - lo - n + 1))
        return " ".join(self.c.vocab[self.c.stmt_tok[start:start + n]])

    def zero(self) -> str:
        self._absent += 1
        return f"{self.term()} {ABSENT_PREFIX}{self._absent}"

    def sum_df(self, text: str) -> int:
        """Σdf over the query's distinct terms, as the engine sums it to
        choose between the in-process route and a Spark job."""
        return int(sum(self.df[self.term_id[t]] for t in set(text.split())
                       if t in self.term_id))

    def mixed(self, kind: str) -> QuerySpec:
        """One query of the serving mix's ``kind``."""
        if kind == "phrase":
            return QuerySpec("phrase", self.phrase())
        if kind == "term":
            return QuerySpec("term", self.term())
        if kind == "bool":
            clauses = [("must", self.term()), ("should", self.phrase()),
                       ("should", self.term())]
            if self.rng.random() < 0.5:
                clauses.append(("must_not", self.term(0.6)))
            return QuerySpec("bool", clauses=tuple(clauses))
        return QuerySpec("zero", self.zero())

    def batch_mixed(self, kind: str) -> QuerySpec:
        """One query of the bulk mix's ``kind``."""
        if kind in ("phrase", "term"):
            return self.mixed(kind)
        if kind == "bool":
            return QuerySpec("bool", clauses=(("must", self.term()),
                                              ("should", self.phrase())))
        return QuerySpec("dismax", clauses=(("clause", self.term()),
                                            ("clause", self.phrase())))


def stratified(rng: np.random.Generator, block: list[str],
               n: int) -> list[str]:
    """``n`` kinds in shuffled blocks of the exact ``block`` mix, so every
    run's sample holds the intended share of each kind."""
    out: list[str] = []
    while len(out) < n:
        out.extend(block[i] for i in rng.permutation(len(block)))
    return out[:n]


SERVE_MIX = ["phrase"] * 6 + ["term"] * 2 + ["bool", "zero"]


def serve_stream(corpus: Corpus, seed: int, n: int) -> list[QuerySpec]:
    """The serving mix: 60% phrases of 2-4 terms, 20% terms, 10% Boolean,
    10% zero-hit, in shuffled blocks of ten."""
    qm = QueryMaker(corpus, np.random.default_rng([seed, 10]))
    return [qm.mixed(k) for k in stratified(qm.rng, SERVE_MIX, n)]


BATCH_MIX = ["phrase", "term", "bool", "dismax"]


def batch_stream(corpus: Corpus, seed: int, n: int) -> list[QuerySpec]:
    """The bulk mix: phrase, term, Boolean and DisMax in equal parts, in
    shuffled blocks of four."""
    qm = QueryMaker(corpus, np.random.default_rng([seed, 11]))
    return [qm.batch_mixed(k) for k in stratified(qm.rng, BATCH_MIX, n)]


def single_stream(corpus: Corpus, seed: int, n: int, heavy_every: int,
                  heavy_min_df: int) -> list[QuerySpec]:
    """Single-query calls for the Spark facade.  One in ``heavy_every``
    (exactly, in shuffled blocks) is a phrase of distinct head terms whose
    Σdf exceeds ``heavy_min_df`` (the engine's one-task postings budget,
    so it runs as a Spark job); the others are Zipf phrases (seven in ten,
    exactly, in shuffled blocks) and terms at or below it (the in-process
    route)."""
    qm = QueryMaker(corpus, np.random.default_rng([seed, 12]))
    head = qm.by_rank[:16]
    out = []
    light = iter(stratified(qm.rng, ["phrase"] * 7 + ["term"] * 3, n))
    for kind in stratified(qm.rng, ["heavy"] + ["light"] * (heavy_every - 1),
                           n):
        if kind == "heavy":
            order = qm.rng.permutation(head)
            n_terms = int(np.searchsorted(np.cumsum(qm.df[order]),
                                          heavy_min_df, side="right")) + 1
            out.append(QuerySpec("phrase", " ".join(
                str(corpus.vocab[t]) for t in order[:n_terms])))
            continue
        phrase = next(light) == "phrase"
        while True:
            text = qm.phrase(1.2) if phrase else qm.term(0.8)
            if qm.sum_df(text) <= heavy_min_df:
                break
        out.append(QuerySpec("phrase" if " " in text else "term", text))
    return out

