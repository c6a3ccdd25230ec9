"""Seeded synthetic corpus for the benchmark.

Everything here is a pure function of the seed (numpy ``default_rng``;
no Python ``hash()``, whose string hashing is salted per process). The
library only ever sees the generated rows.

What the generator controls, and why:

* **Zipf text over a large vocabulary.** Terms are drawn with
  probability ~ 1/rank^1.1 over ``VOCAB`` synthetic words, so a query
  term can be picked anywhere from "in most docs" to "in a handful".
  Words are consonant-vowel syllable strings of 4+ letters, so they can
  never collide with the language-marker words, the query operators
  (``and``/``or``/``NOT``) or each other.
* **Common words of several languages.** Each doc has a language
  (mostly ``en``) and mixes that language's common words into its text,
  so a marker-word language gate keeps a known share of the corpus.
* **Planted near-duplicates.** ``DUP_SHARE`` of the docs are copies of
  an earlier doc with a few tokens substituted; the generator records
  each (copy, source) pair.
* **PII.** ``PII_SHARE`` of the docs carry an e-mail address.
* **Clustered embeddings.** 64-dim float32 vectors around ``CLUSTERS``
  random centres.
* **JSON metadata** with a string key (``cat``), a numeric key
  (``score``) and a nullable key (``rating``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np

VOCAB = 30_000
ZIPF_S = 1.1
DIM = 64
CLUSTERS = 24
DUP_SHARE = 0.08
PII_SHARE = 0.05
N_CATS = 12
LANG_SHARES = {"en": 0.7, "de": 0.1, "fr": 0.1, "es": 0.1}
COMMON = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "les", "et", "des", "est", "une", "du", "que", "dans", "pour"),
    "es": ("el", "los", "las", "que", "una", "es", "por", "con", "al", "como"),
}
_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"


def vocabulary() -> list[str]:
    """``VOCAB`` distinct CV-syllable words (2 syllables, then 3)."""
    syl = [c + v for c in _CONS for v in _VOWS]
    words = [a + b for a in syl for b in syl]
    for a in syl:
        for b in syl:
            for c in syl:
                if len(words) >= VOCAB:
                    return words
                words.append(a + b + c)
    return words


@dataclass
class Corpus:
    ids: list[str]
    contents: list[str]
    metadatas: list[dict]
    embeddings: np.ndarray  # (n, DIM) float32
    langs: list[str]
    dup_pairs: list[tuple[str, str]]  # (copy id, source id)
    vocab_by_rank: list[str]  # the seed's Zipf order: most frequent first
    centres: np.ndarray
    tokens: list[frozenset] = field(default_factory=list)

    def __post_init__(self):
        if not self.tokens:
            self.tokens = [frozenset(tokenize(c)) for c in self.contents]

    def digest(self) -> str:
        """sha256 over every generated field, in row order."""
        h = hashlib.sha256()
        for i, c, m in zip(self.ids, self.contents, self.metadatas):
            h.update(f"{i}\x00{c}\x00{json.dumps(m, sort_keys=True)}\x01".encode())
        h.update(np.ascontiguousarray(self.embeddings).tobytes())
        h.update(json.dumps(self.dup_pairs).encode())
        return h.hexdigest()

    def head(self, n: int) -> "Corpus":
        """The first ``n`` docs, with the planted pairs inside them."""
        keep = set(self.ids[:n])
        return Corpus(
            ids=self.ids[:n], contents=self.contents[:n],
            metadatas=self.metadatas[:n], embeddings=self.embeddings[:n],
            langs=self.langs[:n],
            dup_pairs=[p for p in self.dup_pairs if p[0] in keep and p[1] in keep],
            vocab_by_rank=self.vocab_by_rank, centres=self.centres,
            tokens=self.tokens[:n],
        )


def tokenize(text: str) -> list[str]:
    """Lower-cased alphanumeric runs: the word-tokenizer contract every
    sifts backend documents (no stemming, no stopwords)."""
    out, cur = [], []
    for ch in text.lower():
        if ch.isalnum():
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def _zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def generate(seed: int, n: int) -> Corpus:
    """The seed's ``n``-doc corpus."""
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary())
    by_rank = vocab[rng.permutation(len(vocab))]
    probs = _zipf_probs(len(vocab))

    lang_names = list(LANG_SHARES)
    langs = rng.choice(len(lang_names), size=n, p=list(LANG_SHARES.values()))
    lengths = rng.integers(24, 72, size=n)
    total = int(lengths.sum())
    term_idx = rng.choice(len(vocab), size=total, p=probs)
    common_pick = rng.integers(0, 10, size=total)
    is_common = rng.random(total) < 0.3
    offsets = np.concatenate([[0], np.cumsum(lengths)])

    centres = rng.standard_normal((CLUSTERS, DIM))
    cluster = rng.integers(0, CLUSTERS, size=n)
    emb = (centres[cluster] + 0.35 * rng.standard_normal((n, DIM))).astype(
        np.float32
    )

    id_nums = rng.permutation(n)
    ids = [f"d{k:07d}" for k in id_nums]
    cats = rng.choice(N_CATS, size=n, p=_zipf_probs(N_CATS))
    scores = np.round(rng.random(n) * 1000.0, 3)
    ratings = rng.integers(1, 6, size=n)
    rating_null = rng.random(n) < 0.3
    pii = rng.random(n) < PII_SHARE
    is_dup = rng.random(n) < DUP_SHARE
    is_dup[0] = False

    contents: list[str] = []
    dup_pairs: list[tuple[str, str]] = []
    for i in range(n):
        if is_dup[i]:
            src = int(rng.integers(0, i))
            toks = tokenize(contents[src])
            for pos in rng.integers(0, len(toks), size=int(rng.integers(1, 4))):
                toks[int(pos)] = by_rank[int(rng.integers(0, len(vocab)))]
            text = _sentences(toks)
            langs[i] = langs[src]
            emb[i] = emb[src] + np.float32(0.01) * rng.standard_normal(DIM).astype(
                np.float32
            )
            dup_pairs.append((ids[i], ids[src]))
        else:
            lo, hi = offsets[i], offsets[i + 1]
            words = by_rank[term_idx[lo:hi]].tolist()
            common = COMMON[lang_names[langs[i]]]
            for j in np.flatnonzero(is_common[lo:hi]):
                words[j] = common[common_pick[lo + j]]
            text = _sentences(words)
        if pii[i]:
            text += f" Contact {by_rank[i % 5000]}.{i}@mail.example.org for details."
        contents.append(text)

    metadatas = []
    for i in range(n):
        m = {"cat": f"c{int(cats[i]):02d}", "score": float(scores[i])}
        m["rating"] = None if rating_null[i] else int(ratings[i])
        metadatas.append(m)
    return Corpus(
        ids=ids,
        contents=contents,
        metadatas=metadatas,
        embeddings=emb,
        langs=[lang_names[k] for k in langs],
        dup_pairs=dup_pairs,
        vocab_by_rank=by_rank.tolist(),
        centres=centres,
    )


def _sentences(words: list[str]) -> str:
    """Words → prose-shaped text: capitalised sentences of 12 words."""
    out = []
    for k in range(0, len(words), 12):
        chunk = words[k : k + 12]
        out.append(" ".join([chunk[0].capitalize()] + chunk[1:]) + ".")
    return " ".join(out)
