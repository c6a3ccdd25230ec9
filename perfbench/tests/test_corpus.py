"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


def test_same_seed_same_digest():
    assert corpus.generate(3, 400).digest() == corpus.generate(3, 400).digest()


def test_other_seed_other_digest():
    assert corpus.generate(3, 400).digest() != corpus.generate(4, 400).digest()


def test_planted_duplicates_and_shares():
    c = corpus.generate(5, 2000)
    ids = set(c.ids)
    assert len(ids) == 2000
    assert c.dup_pairs and all(a in ids and b in ids for a, b in c.dup_pairs)
    assert 0.6 < c.langs.count("en") / len(c.langs) < 0.8
    assert c.embeddings.shape == (2000, corpus.DIM)
    assert any(m["rating"] is None for m in c.metadatas)


def test_vocabulary_avoids_marker_and_operator_words():
    vocab = set(corpus.vocabulary())
    assert len(vocab) == corpus.VOCAB
    common = {w for ws in corpus.COMMON.values() for w in ws}
    assert not vocab & (common | {"and", "or", "not"})
