"""Reference answers computed from the generated rows in plain Python and
numpy. Nothing here calls the library; each check returns ``None`` when
the library's answer is right and a one-line reason when it is not.
"""

from __future__ import annotations

import re

import numpy as np

from corpus import tokenize

RANK_TOL = 1e-5
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


class State:
    """The live documents after replaying every write in order."""

    def __init__(self, ids, contents, metadatas, embeddings):
        self.docs = {
            i: (c, m, np.asarray(e, dtype=np.float64))
            for i, c, m, e in zip(ids, contents, metadatas, embeddings)
        }
        self.tokens = {i: frozenset(tokenize(c)) for i, c in zip(ids, contents)}

    def upsert(self, ids, contents, metadatas, embeddings):
        for i, c, m, e in zip(ids, contents, metadatas, embeddings):
            self.docs[i] = (c, m, np.asarray(e, dtype=np.float64))
            self.tokens[i] = frozenset(tokenize(c))

    def delete(self, ids):
        for i in ids:
            self.docs.pop(i, None)
            self.tokens.pop(i, None)


# ---- full-text: a tiny evaluator for the query shapes the benchmark sends
#   "a b"      -> AND of terms
#   "a or b"   -> OR of terms
#   "ab*"      -> any token with that prefix


def fts_predicate(query: str):
    words = query.split()
    if "or" in words:
        alts = [w for w in words if w != "or"]
        return lambda toks: any(w in toks for w in alts)
    if len(words) == 1 and words[0].endswith("*"):
        p = words[0][:-1]
        return lambda toks: any(t.startswith(p) for t in toks)
    return lambda toks: all(w in toks for w in words)


def check_fts(state: State, query: str, limit: int, res: dict) -> str | None:
    pred = fts_predicate(query)
    match = {i for i, toks in state.tokens.items() if pred(toks)}
    got = [r["id"] for r in res["results"]]
    if res["total"] != len(match):
        return f"fts {query!r}: total {res['total']} != {len(match)}"
    if len(got) != min(limit, len(match)) or len(set(got)) != len(got):
        return f"fts {query!r}: {len(got)} results for {len(match)} matches"
    if not set(got) <= match:
        return f"fts {query!r}: returned ids outside the predicate"
    ranks = [r["rank"] for r in res["results"]]
    if any(a < b for a, b in zip(ranks, ranks[1:])):
        return f"fts {query!r}: ranks not descending"
    return None


def check_vector(state: State, qvec, k: int, res: dict) -> str | None:
    ids = list(state.docs)
    mat = np.stack([state.docs[i][2] for i in ids])
    q = np.asarray(qvec, dtype=np.float64)
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.array(ids), -cos))
    want = [ids[j] for j in order[:k]]
    got = [r["id"] for r in res["results"]]
    if res["total"] != len(ids):
        return f"vector: total {res['total']} != {len(ids)}"
    if len(got) != len(want):
        return f"vector: {len(got)} results, want {len(want)}"
    score = dict(zip(ids, cos))
    for g, w, r in zip(got, want, res["results"]):
        if g not in score or abs(r["rank"] - score[g]) > RANK_TOL:
            return f"vector: rank of {g} is {r['rank']}, oracle {score.get(g)}"
        # ids may swap only inside a tie band at float32 precision
        if g != w and abs(score[g] - score[w]) > RANK_TOL:
            return f"vector: got {g} where the oracle ranks {w}"
    return None


def scan_order_key(doc_id: str, meta: dict):
    """order_by=["rating", "-score"]: rating ascending with NULLS LAST,
    then score descending, then the id tiebreak."""
    r = meta.get("rating")
    return (r is None, r if r is not None else 0, -meta["score"], doc_id)


def scan_match(meta: dict, cats, score_lt) -> bool:
    return meta.get("cat") in cats and meta["score"] < score_lt


def check_scan(state, cats, score_lt, limit, offset, res) -> str | None:
    rows = sorted(
        (scan_order_key(i, m), i)
        for i, (_, m, _) in state.docs.items()
        if scan_match(m, cats, score_lt)
    )
    page = [i for _, i in rows[offset : offset + limit]]
    got = [r["id"] for r in res["results"]]
    want_total = len(rows) if page else 0  # PG rule: empty page -> total 0
    if res["total"] != want_total:
        return f"scan: total {res['total']} != {want_total}"
    if got != page:
        return f"scan offset={offset}: page differs from the oracle"
    for r in res["results"]:
        if r["metadata"] != state.docs[r["id"]][1]:
            return f"scan: metadata of {r['id']} differs"
        if r["content"] != state.docs[r["id"]][0]:
            return f"scan: content of {r['id']} differs"
    return None


# ---- curation -----------------------------------------------------------


def shingles(text: str, n: int = 3) -> frozenset:
    toks = tokenize(text)
    if len(toks) < n:
        return frozenset([" ".join(toks)]) if toks else frozenset()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def clusters_min_id(pairs) -> dict:
    """Union-find over pairs → id -> min id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_pairs(texts: dict, pairs, threshold: float) -> str | None:
    """Every reported pair's exact Jaccard is at or above the threshold
    and matches the reported value."""
    for a, b, j in pairs:
        exact = jaccard(shingles(texts[a]), shingles(texts[b]))
        if exact < threshold or abs(exact - j) > 1e-6:  # reported to 6 places
            return f"pair ({a}, {b}): reported {j}, exact {exact}"
    return None


def planted_recall(texts: dict, planted, pairs, threshold: float) -> float:
    """Share of planted (copy, source) pairs with exact Jaccard at or
    above the threshold that the pipeline put in one cluster."""
    comp = clusters_min_id((a, b) for a, b, _ in pairs)
    due = [
        (a, b)
        for a, b in planted
        if jaccard(shingles(texts[a]), shingles(texts[b])) >= threshold
    ]
    found = sum(1 for a, b in due if a in comp and comp.get(a) == comp.get(b))
    return found / len(due) if due else 1.0


def check_curated(rows, texts, pairs, allowed_langs, min_quality) -> str | None:
    """The curated output: known unique ids, gates applied, PII
    scrubbed, and no doc that is not its cluster's canonical member."""
    comp = clusters_min_id((a, b) for a, b, _ in pairs)
    seen = set()
    for r in rows:
        i = r["id"]
        if i not in texts or i in seen:
            return f"curated: unknown or repeated id {i}"
        seen.add(i)
        if r["pred_lang"] not in allowed_langs or r["quality"] < min_quality:
            return f"curated: {i} kept past a gate"
        if comp.get(i, i) != i:
            return f"curated: {i} kept but is not its cluster's canonical doc"
        if EMAIL_RE.search(r["text"]):
            return f"curated: {i} still carries an e-mail address"
    return None
