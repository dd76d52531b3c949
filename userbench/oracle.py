"""Brute-force oracles and output comparators.

The search oracle rebuilds the store from the generated articles with
numpy: chunk vectors from ``encoder.fake_encode_matrix``, document vectors
by mean pooling, cosine top-k by exhaustive scan. The comparators return a
list of human-readable problems; an empty list means the output is right.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np

SCORE_TOL = 1e-6
POOL_TOL = 1e-9
DEDUP_MIN_RECALL = 0.8


def _cosine(m: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``m`` with ``q``; zero-norm pairs score 0.0
    (the program's degenerate-vector rule)."""
    qn = float(np.linalg.norm(q))
    den = norms * qn
    out = np.zeros(len(m))
    ok = den > 0
    out[ok] = (m[ok] @ q) / den[ok]
    return out


class SearchOracle:
    def __init__(self, articles, dim: int, encode, encode_all=None):
        """``articles``: final-state (article_id, section_names, sections,
        abstract) rows; ``encode(texts, dim)`` is the encoder under test's
        pure-numpy twin (``encoder.fake_encode_matrix``); ``encode_all``,
        when given, encodes the stored paragraphs in its place (the same
        rows, e.g. computed in parallel)."""
        self.dim = dim
        self.encode = encode
        self.chunks = []  # (article_id, section_id, section_name, paragraph_id, paragraph)
        for aid, names, sections, _ in articles:
            for s_id, (name, sec) in enumerate(zip(names, sections)):
                for p_id, p in enumerate([x for x in sec if x]):
                    self.chunks.append((aid, s_id, name, p_id, p))
        self.chunk_vecs = (encode_all or encode)([c[4] for c in self.chunks], dim).astype(np.float64)
        self.chunk_norms = np.linalg.norm(self.chunk_vecs, axis=1)
        rows_of = defaultdict(list)
        for i, c in enumerate(self.chunks):
            rows_of[c[0]].append(i)
        self.rows_of = dict(rows_of)
        self.doc_ids = sorted(rows_of)
        self.doc_vecs = np.stack([self.chunk_vecs[rows_of[a]].mean(axis=0) for a in self.doc_ids])
        self.doc_norms = np.linalg.norm(self.doc_vecs, axis=1)
        self.doc_index = {a: i for i, a in enumerate(self.doc_ids)}

    def doc_vector(self, article_id: str) -> np.ndarray:
        return self.doc_vecs[self.doc_index[article_id]]

    def doc_scores(self, text: str) -> dict[str, float]:
        q = self.encode([text], self.dim)[0].astype(np.float64)
        return dict(zip(self.doc_ids, _cosine(self.doc_vecs, self.doc_norms, q)))

    def chunk_scores(self, text: str, article_id: str) -> list[tuple[float, tuple]]:
        q = self.encode([text], self.dim)[0].astype(np.float64)
        rows = self.rows_of[article_id]
        s = _cosine(self.chunk_vecs[rows], self.chunk_norms[rows], q)
        return [(float(v), self.chunks[r]) for v, r in zip(s, rows)]

    def context(self, article_id: str, section_id: int, paragraph_id: int, window: int) -> list[str]:
        return [
            c[4]
            for r in self.rows_of[article_id]
            for c in [self.chunks[r]]
            if c[1] == section_id and abs(c[3] - paragraph_id) <= window
        ]


def check_search(rows, oracle: SearchOracle, text: str, k: int, window: int, tol: float = SCORE_TOL) -> list[str]:
    """Check one ``query(text)`` result (k docs, 1 paragraph each) against
    the oracle. Documents whose score ties the k-th within ``tol`` may
    swap in or out; every other difference is an error."""
    problems: list[str] = []
    scores = oracle.doc_scores(text)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    want = min(k, len(ranked))
    if len(rows) != want:
        return [f"expected {want} rows, got {len(rows)}"]
    kth = ranked[want - 1][1]
    got_ids = [r["article_id"] for r in rows]
    if len(set(got_ids)) != len(got_ids):
        problems.append(f"duplicate article ids {got_ids}")
    for aid, s in ranked[:want]:
        if s > kth + tol and aid not in got_ids:
            problems.append(f"missing top document {aid} (score {s:.9f})")
    for r in rows:
        aid = r["article_id"]
        if aid not in scores:
            problems.append(f"unknown article {aid}")
            continue
        if abs(r["doc_score"] - scores[aid]) > tol:
            problems.append(f"{aid}: doc_score {r['doc_score']:.9f} != {scores[aid]:.9f}")
        if scores[aid] < kth - tol:
            problems.append(f"{aid}: score {scores[aid]:.9f} below the k-th {kth:.9f}")
        problems += _check_highlight(r, oracle, text, window, tol)
    return problems


def _check_highlight(r, oracle, text, window, tol) -> list[str]:
    aid = r["article_id"]
    chunk = oracle.chunk_scores(text, aid)
    best = max(s for s, _ in chunk)
    match = [(s, c) for s, c in chunk if c[2] == r["section_name"] and c[3] == r["paragraph_id"]]
    if not match:
        return [f"{aid}: highlighted paragraph {r['section_name']}/{r['paragraph_id']} does not exist"]
    s, c = match[0]
    problems = []
    if s < best - tol:
        problems.append(f"{aid}: highlighted {c[2]}/{c[3]} scores {s:.9f}, best is {best:.9f}")
    if abs(r["chunk_score"] - s) > tol:
        problems.append(f"{aid}: chunk_score {r['chunk_score']:.9f} != {s:.9f}")
    if list(r["context_paragraphs"]) != oracle.context(aid, c[1], c[3], window):
        problems.append(f"{aid}: context paragraphs differ at {c[2]}/{c[3]}")
    return problems


def check_sees_writes(rows, text: str, written: bool) -> list[str]:
    """A query on the text of a paragraph the update batch wrote must show
    that paragraph; one on a paragraph the update removed must not."""
    shown = any(text in r["context_paragraphs"] for r in rows)
    if written and not shown:
        return [f"written paragraph {text[:30]!r} not shown"]
    if not written and shown:
        return [f"removed paragraph {text[:30]!r} shown"]
    return []


def check_store(chunk_rows, doc_ids, sampled, oracle: SearchOracle, tol: float = POOL_TOL) -> list[str]:
    """Ingest check: the chunks table holds exactly the oracle's chunks
    ((article_id, section_id, paragraph_id, paragraph) rows — so a
    replaced article's removed paragraphs are gone), the doc-vector table
    exactly one row per article, and the ``sampled`` pooled vectors
    ((article_id, embedding) pairs) match the oracle."""
    problems = []
    got = Counter(tuple(r) for r in chunk_rows)
    want = Counter((c[0], c[1], c[3], c[4]) for c in oracle.chunks)
    if got != want:
        extra, missing = got - want, want - got
        problems.append(f"chunks table: {sum(extra.values())} unexpected rows, {sum(missing.values())} missing")
    if sorted(doc_ids) != oracle.doc_ids:
        problems.append(f"doc_vectors: {len(doc_ids)} rows for {len(oracle.doc_ids)} articles")
    for aid, emb in sampled:
        if aid not in oracle.doc_index:
            problems.append(f"doc_vectors: unknown article {aid}")
            continue
        diff = float(np.max(np.abs(np.asarray(emb, dtype=np.float64) - oracle.doc_vector(aid))))
        if diff > tol:
            problems.append(f"doc_vectors: {aid} differs from the pooled oracle by {diff:.3g}")
    return problems


def pair_scores(component_of: dict, clusters) -> tuple[float, float]:
    """(precision, recall) of the same-component pairs against the planted
    clusters' pairs. Counted without enumerating pairs."""
    comps = defaultdict(list)
    for doc, comp in component_of.items():
        comps[comp].append(doc)
    planted = {}
    for ci, members in enumerate(clusters):
        for d in members:
            planted[d] = ci

    def pairs(n):
        return n * (n - 1) // 2

    predicted = sum(pairs(len(m)) for m in comps.values())
    true = sum(pairs(len(c)) for c in clusters)
    hit = sum(
        pairs(n)
        for members in comps.values()
        for n in Counter(planted[d] for d in members if d in planted).values()
    )
    return (hit / predicted if predicted else 1.0, hit / true if true else 1.0)


def shingle_set(text: str, n: int) -> set[str]:
    """Distinct n-token shingles of a single-space-tokenized text."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_dedup(rows, corpus, clusters, shingle_n: int, min_jaccard: float) -> tuple[list[str], float, float]:
    """``rows``: (doc_id, component, is_survivor) for the whole corpus of
    (doc_id, text) pairs. Every doc appears once; every component keeps
    exactly its minimum id; every component is connected by pairs whose
    true shingle Jaccard reaches ``min_jaccard`` (no false merge); and at
    least ``DEDUP_MIN_RECALL`` of the planted pairs are found. LSH misses
    pairs by design, so recall has a floor, not an exact value: a correct
    banding finds >= 0.88 of them on small corpora. Returns the problems
    and the (precision, recall) of the same-component pairs against the
    planted clusters."""
    problems = []
    texts = dict(corpus)
    ids = Counter(r[0] for r in rows)
    if set(ids) != set(texts) or any(v != 1 for v in ids.values()):
        problems.append(f"output covers {len(ids)} distinct of {len(texts)} docs with {len(rows)} rows")
    survivors = defaultdict(list)
    members = defaultdict(list)
    for doc, comp, keep in rows:
        members[comp].append(doc)
        if keep:
            survivors[comp].append(doc)
    for comp, docs in members.items():
        keep = survivors.get(comp, [])
        if len(keep) != 1:
            problems.append(f"component {comp}: {len(keep)} survivors")
        elif keep[0] != min(docs) or comp != min(docs):
            problems.append(f"component {comp}: survivor {keep[0]} is not its minimum id {min(docs)}")
        if len(docs) > 1 and not _connected(docs, texts, shingle_n, min_jaccard):
            problems.append(f"component {comp}: members not linked by Jaccard >= {min_jaccard}")
    precision, recall = pair_scores({d: c for d, c, _ in rows}, clusters)
    if recall < DEDUP_MIN_RECALL:
        problems.append(f"planted-pair recall {recall:.4f} < {DEDUP_MIN_RECALL}")
    return problems, precision, recall


def _connected(docs, texts, n, threshold) -> bool:
    sh = {d: shingle_set(texts.get(d, ""), n) for d in docs}
    seen, todo = {docs[0]}, [docs[0]]
    while todo:
        a = todo.pop()
        for b in docs:
            if b not in seen and round(jaccard(sh[a], sh[b]), 6) >= threshold:
                seen.add(b)
                todo.append(b)
    return len(seen) == len(docs)
