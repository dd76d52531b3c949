"""Seeded input generators for the user-path benchmark.

Everything a workload feeds the program is derived here from one integer
seed: the same seed gives byte-identical articles, queries and dedup
corpora. The program only ever receives the DataFrames built from these
rows; the oracle (``oracle.py``) works from the same rows.

``TRAFFIC`` records each workload's traffic dimensions next to the
generator that realises them.
"""

from __future__ import annotations

import random
import string

TRAFFIC = {
    "search": {
        # ~23 paragraphs per article, as in a measured 500-article store
        # of 11.3k chunks
        "store_articles": 500,  # bulk upload_articles into an empty store
        # second upload_articles into that store; traced runs only (an
        # update adds 15-23 s to a run's set-up, which the run budget of
        # the untraced runs does not hold)
        "update_articles": 10,
        "update_replace_share": 0.5,  # replace a stored id, rest are new
        "sections_per_article": [4, 6],
        "paragraphs_per_section": [3, 6],
        "paragraph_words": [20, 60],  # no source
        "vocabulary": 5000,
        "dim": 768,
        "k_docs": 5,
        "paragraphs_per_document": 1,
        "context_window": 1,
        # set-up queries, checked, not timed (JIT warm-up): texts just
        # written by the update batch and texts it removed (traced runs,
        # where each is also replayed), or texts of the bulk batch
        # (untraced runs; the first timed queries of a run with 3 ran
        # 10-40 % slower than the later ones)
        "warmup_written": 2,
        "warmup_removed": 1,
        "warmup_bulk": 5,
        "query_repeat_share": 0.25,  # repeats an earlier text; no source
        "client": "one closed-loop client, no think time",
    },
    "dedup": {
        "corpus_docs": 200,  # per timed op, fresh each op; 5k fits no run budget
        # set-up ops, untimed, each over a fresh corpus of this size: the
        # first op of a session takes ~16 s, the next ~6 s, later ones ~5 s
        "warmup_ops": 2,
        "warmup_docs": 200,
        "doc_words": [80, 300],
        "vocabulary": 5000,
        "planted_dup_share": 0.25,  # docs that are edited copies; no source
        "cluster_size": [2, 3],  # base + 1..2 copies; no source
        "edit_token_share": 0.03,  # tokens substituted per copy
        "minhash": {"n_hashes": 8, "bands": 4, "shingle_n": 3, "min_jaccard": 0.5},
    },
}

SECTION_NAMES = [
    "Introduction",
    "Background",
    "Methods",
    "Results",
    "Discussion",
    "Conclusions",
]


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 3-10 letters."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 10))))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choices(vocab, k=rng.randint(lo, hi)))


def _article(rng, vocab, article_id: str, t: dict) -> tuple:
    n_sec = rng.randint(*t["sections_per_article"])
    names = sorted(rng.sample(SECTION_NAMES, n_sec), key=SECTION_NAMES.index)
    sections = [
        [
            _words(rng, vocab, *t["paragraph_words"])
            for _ in range(rng.randint(*t["paragraphs_per_section"]))
        ]
        for _ in names
    ]
    return (article_id, names, sections, None)


def _shortened(rng, vocab, article: tuple, t: dict) -> tuple[tuple, list[str]]:
    """A changed, shortened version of ``article`` under the same id: the
    last section dropped (when there are two or more), the first half of
    each other section's paragraphs kept and its first one rewritten.
    Returns the new article and the paragraph texts it no longer holds."""
    aid, names, sections, abstract = article
    keep = max(1, len(names) - 1)
    new_sections, removed = [], [p for sec in sections[keep:] for p in sec]
    for sec in sections[:keep]:
        kept = sec[: (len(sec) + 1) // 2]
        removed += sec[len(kept) :] + kept[:1]
        new_sections.append([_words(rng, vocab, *t["paragraph_words"])] + kept[1:])
    return (aid, names[:keep], new_sections, abstract), removed


class SearchInputs:
    """The store's bulk batch, its update batch, the set-up queries and
    the query stream.

    ``articles`` is the bulk batch, ``update`` the second batch (the first
    ``update_replace_share`` of it replaces stored ids with shortened
    text, the rest is new), ``final`` the articles the store holds after
    both, which is what the oracle works from."""

    def __init__(self, seed: int, n_queries: int = 400):
        t = TRAFFIC["search"]
        rng = random.Random(f"search-{seed}")
        vocab = vocabulary(rng, t["vocabulary"])
        n = t["store_articles"]
        self.articles = [_article(rng, vocab, f"PMC{seed % 1000:03d}{i:06d}", t) for i in range(n)]
        n_up = t["update_articles"]
        n_rep = round(n_up * t["update_replace_share"])
        removed: list[str] = []
        self.update = []
        for i in rng.sample(range(n), n_rep):
            art, gone = _shortened(rng, vocab, self.articles[i], t)
            self.update.append(art)
            removed += gone
        self.update += [_article(rng, vocab, f"PMC{seed % 1000:03d}{n + i:06d}", t) for i in range(n_up - n_rep)]
        replaced = {a[0]: a for a in self.update}
        self.final = [replaced.pop(a[0], a) for a in self.articles] + list(replaced.values())
        written = [p for a in self.update for sec in a[2] for p in sec]
        self.warmup = rng.sample(written, t["warmup_written"]) + rng.sample(removed, t["warmup_removed"])
        self.queries: list[str] = []
        for _ in range(n_queries):
            if self.queries and rng.random() < t["query_repeat_share"]:
                self.queries.append(rng.choice(self.queries))
            else:
                self.queries.append(_words(rng, vocab, 5, 15))
        bulk = [p for a in self.articles for sec in a[2] for p in sec]
        self.warmup_bulk = rng.sample(bulk, t["warmup_bulk"])

    @staticmethod
    def text_bytes(articles) -> int:
        """UTF-8 bytes of the articles' text (paragraphs only)."""
        return sum(len(p.encode()) for a in articles for sec in a[2] for p in sec)


def dedup_corpus(seed: int, op: int, n: int) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """One corpus of ``n`` docs: (doc_id, text) rows in shuffled id order,
    plus the planted clusters (lists of doc ids, each of size >= 2)."""
    t = TRAFFIC["dedup"]
    rng = random.Random(f"dedup-{seed}-{op}")
    vocab = vocabulary(rng, t["vocabulary"])
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_dups = int(n * t["planted_dup_share"])
    while len(texts) < n:
        base = _words(rng, vocab, *t["doc_words"])
        copies = rng.randint(*t["cluster_size"]) - 1
        if n_dups >= copies and len(texts) + 1 + copies <= n:
            members = [len(texts)]
            texts.append(base)
            for _ in range(copies):
                toks = base.split(" ")
                for j in rng.sample(range(len(toks)), max(1, round(len(toks) * t["edit_token_share"]))):
                    toks[j] = rng.choice(vocab)
                members.append(len(texts))
                texts.append(" ".join(toks))
            n_dups -= copies
            clusters.append(members)
        else:
            texts.append(base)
    ids = rng.sample(range(10 * n), n)  # ids unrelated to generation order
    rows = [(ids[i], texts[i]) for i in range(n)]
    rng.shuffle(rows)
    return rows, [[ids[i] for i in c] for c in clusters]
