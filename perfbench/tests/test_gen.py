"""Generators are a pure function of the seed, and plant what they say."""

import numpy as np

from perfbench import gen


def _docs(seed):
    return gen.make_docs(np.random.default_rng(seed), 200, 8, 5, 3, first_id=10)


def test_make_docs_same_seed_same_inputs():
    a, b = _docs(7), _docs(7)
    for x, y in zip(a[:3], b[:3]):
        assert np.array_equal(x, y)
    assert a[3] == b[3]


def test_make_docs_other_seed_other_inputs():
    assert not np.array_equal(_docs(7)[2], _docs(8)[2])


def test_vectors_sit_on_their_cluster_centres():
    vec = gen.clustered_vectors(np.random.default_rng(0), 500, 16, 4)
    centre = np.round(vec.mean(axis=1) / gen.CLUSTER_SPACING)
    assert set(centre) <= {0.0, 1.0, 2.0, 3.0}
    resid = vec - centre[:, None] * gen.CLUSTER_SPACING
    assert abs(resid.std() - gen.CLUSTER_SIGMA) < 0.5


def test_users_are_zipf_skewed():
    user = gen.make_docs(np.random.default_rng(1), 5000, 4, 8, 2)[0]
    counts = np.bincount(user, minlength=8)
    assert counts[0] > 2 * counts[7]


def test_exact_topk_and_term_hits_follow_live_set():
    docs = gen.Docs(2)
    docs.add(np.array([0, 0, 1]), np.array([1, 2, 3]),
             np.array([[0, 0], [3, 4], [0, 1]], dtype=np.float32),
             ["spark join", "spark", "join"])
    assert docs.exact_topk([0], [0.0, 0.0], 2) == [(1, 0.0), (2, 5.0)]
    assert docs.term_hits([0, 1], ["join"]) == [1, 3]
    docs.kill([1])
    assert docs.exact_topk([0], [0.0, 0.0], 2) == [(2, 5.0)]
    assert docs.term_hits([0, 1], ["join"]) == [3]


def test_corpus_same_seed_same_corpus():
    a = gen.Corpus(np.random.default_rng(3), 200)
    b = gen.Corpus(np.random.default_rng(3), 200)
    assert a.texts == b.texts and a.near_pairs == b.near_pairs
    assert a.texts != gen.Corpus(np.random.default_rng(4), 200).texts


def test_corpus_plants_exact_and_near_duplicates():
    c = gen.Corpus(np.random.default_rng(5), 300)
    assert c.duplicate_ids() == {dup for _, dup in c.exact_pairs}
    for src, dup in c.near_pairs:
        a, b = c.texts[src].split(), c.texts[dup].split()
        assert len(a) == len(b) >= 80
        assert sum(x != y for x, y in zip(a, b)) == 1
    assert c.overlap_ids
    for i in c.overlap_ids:
        passage = " ".join(c.texts[i].split()[-30:])
        assert any(passage in b for b in c.bench)
