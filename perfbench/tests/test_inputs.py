"""The benchmark's inputs are a pure function of the seed.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import inputs  # noqa: E402

N_DOCS = 400


def joined(contents: list[str]) -> bytes:
    return "\x00".join(contents).encode()


def corpus_bytes(seed: int) -> bytes:
    return joined(inputs.make_corpus(seed, N_DOCS).contents())


def streams(seed: int) -> list:
    c = inputs.make_corpus(seed, N_DOCS)
    return (inputs.serve_stream(c, seed, 200)
            + inputs.single_stream(c, seed, 30, 3, 2_000)
            + inputs.batch_stream(c, seed, 100))


def update_bytes(seed: int) -> bytes:
    c = inputs.make_corpus(seed, N_DOCS)
    ids, contents = inputs.new_versions(c, seed, 0, np.arange(5), 5, N_DOCS)
    return ids.tobytes() + joined(contents)


def test_same_seed_gives_identical_inputs():
    assert corpus_bytes(7) == corpus_bytes(7)
    assert streams(7) == streams(7)
    assert update_bytes(7) == update_bytes(7)


def test_different_seed_gives_different_inputs():
    assert corpus_bytes(7) != corpus_bytes(8)
    assert streams(7) != streams(8)
    assert update_bytes(7) != update_bytes(8)


def test_serving_mix_is_exact_per_block():
    c = inputs.make_corpus(3, N_DOCS)
    kinds = [q.kind for q in inputs.serve_stream(c, 3, 100)]
    for start in range(0, 100, 10):
        block = kinds[start:start + 10]
        assert block.count("phrase") == 6 and block.count("term") == 2
        assert block.count("bool") == 1 and block.count("zero") == 1


def test_heavy_singles_exceed_the_postings_budget():
    c = inputs.make_corpus(3, N_DOCS)
    qm = inputs.QueryMaker(c, np.random.default_rng(0))
    singles = inputs.single_stream(c, 3, 30, 3, 2_000)
    heavy = [q for q in singles if qm.sum_df(q.text) > 2_000]
    assert len(heavy) == 10


def test_zero_hit_queries_use_absent_terms():
    c = inputs.make_corpus(3, N_DOCS)
    vocab = set(c.vocab.tolist())
    zero = [q for q in inputs.serve_stream(c, 3, 100) if q.kind == "zero"]
    assert zero and all(q.text.split()[1] not in vocab for q in zero)


def test_zipf_ranks_are_stratified():
    # each run of STRATA draws takes one uniform from each stratum, so the
    # head rank is drawn as often as its share of the strata, give or
    # take one, for every seed
    c = inputs.make_corpus(3, N_DOCS)
    n = c.doc_freqs().nonzero()[0].size
    k = int(inputs.STRATA * inputs.zipf_cdf(n, 1.0)[0])
    for seed in range(20):
        qm = inputs.QueryMaker(c, np.random.default_rng(seed))
        ranks = [qm._rank(n, 1.0) for _ in range(inputs.STRATA)]
        assert ranks.count(0) in (k, k + 1)
