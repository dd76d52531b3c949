"""Tests for the benchmark's own math: the percentile rule, span self
time, the output comparators and the seeded generators.

    python3 -m pytest userbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pytest

from userbench import gen, oracle, stats
from userbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n,expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_has_ten_beyond_by_nearest_rank():
    for n in range(1, 500):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        if p is None:
            assert sum(x > stats.percentile(xs, 50.0) for x in xs) < 10
        else:
            assert sum(x > stats.percentile(xs, p) for x in xs) >= 10


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 0) == 1
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    vals = [9.0, 10.0, 10.0, 10.0, 11.0]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / 10.0)


# -- self time ---------------------------------------------------------------


def test_self_time_without_children_is_duration():
    assert stats.self_time(1.0, 3.0, []) == pytest.approx(2.0)


def test_self_time_subtracts_disjoint_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(6.0)


def test_self_time_counts_overlap_once():
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (6.0, 7.0)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)


def test_tracer_self_ms_uses_direct_children_only():
    tr = Tracer(spark=None)
    tr.spans = [
        Span("api.query", 0, 0.0, 1.0),
        Span("operators.search.score", 0, 0.1, 0.5, parent=0),
        Span("inner", 0, 0.2, 0.3, parent=1),
        Span("operators.search.highlight", 0, 0.6, 0.9, parent=0),
    ]
    assert tr.self_ms(0) == pytest.approx(300.0)
    assert tr.self_ms(1) == pytest.approx(300.0)
    assert [s.name for s in tr.subtree(1)] == ["operators.search.score", "inner"]


# -- search comparators ------------------------------------------------------


def toy_encode(texts, dim):
    """A deterministic stand-in for the fake encoder (float32 rows)."""
    rows = []
    for t in texts:
        seed = int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "little")
        rows.append(np.random.default_rng(seed).standard_normal(dim))
    return np.asarray(rows, dtype=np.float32)


ARTICLES = [
    (f"A{i}", ["Intro", "Methods"], [[f"a{i} p{j}" for j in range(3)], [f"b{i} q{j}" for j in range(2)]], None)
    for i in range(8)
]


@pytest.fixture(scope="module")
def orc():
    return oracle.SearchOracle(ARTICLES, 16, toy_encode)


def expected_rows(orc, text, k=5, window=1):
    scores = orc.doc_scores(text)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    rows = []
    for aid, s in ranked:
        cs, c = max(orc.chunk_scores(text, aid), key=lambda sc: (sc[0], -sc[1][1], -sc[1][3]))
        rows.append(dict(article_id=aid, doc_score=s, section_name=c[2], paragraph_id=c[3],
                         chunk_score=cs, context_paragraphs=orc.context(aid, c[1], c[3], window)))
    return rows


def test_oracle_doc_vectors_are_mean_pooled(orc):
    vecs = toy_encode(["a3 p0", "a3 p1", "a3 p2", "b3 q0", "b3 q1"], 16).astype(np.float64)
    assert np.allclose(orc.doc_vector("A3"), vecs.mean(axis=0))


def test_check_search_accepts_oracle_rows(orc):
    text = "a2 p1"
    rows = expected_rows(orc, text)
    assert rows[0]["article_id"] == "A2" and rows[0]["paragraph_id"] == 1
    assert rows[0]["context_paragraphs"] == ["a2 p0", "a2 p1", "a2 p2"]
    assert oracle.check_search(rows, orc, text, 5, 1) == []


def test_check_search_flags_score_drift(orc):
    rows = expected_rows(orc, "b5 q0")
    rows[2]["doc_score"] += 2e-6
    assert any("doc_score" in p for p in oracle.check_search(rows, orc, "b5 q0", 5, 1))


def test_check_search_flags_wrong_document(orc):
    text = "a1 p2"
    rows = expected_rows(orc, text)
    ranked = sorted(orc.doc_scores(text).items(), key=lambda kv: (-kv[1], kv[0]))
    outsider, s = ranked[-1]
    rows[0] = dict(rows[0], article_id=outsider, doc_score=s)
    problems = oracle.check_search(rows, orc, text, 5, 1)
    assert any("missing top document" in p for p in problems)


def test_check_search_flags_row_count(orc):
    rows = expected_rows(orc, "x")
    assert oracle.check_search(rows[:4], orc, "x", 5, 1) == ["expected 5 rows, got 4"]


def test_check_search_flags_wrong_highlight_and_context(orc):
    text = "a4 p0"
    rows = expected_rows(orc, text)
    bad = dict(rows[0], paragraph_id=2, chunk_score=orc.chunk_scores(text, "A4")[2][0],
               context_paragraphs=orc.context("A4", 0, 2, 1))
    assert any("highlighted" in p for p in oracle.check_search([bad] + rows[1:], orc, text, 5, 1))
    ctx = dict(rows[0], context_paragraphs=["a4 p0"])
    assert any("context" in p for p in oracle.check_search([ctx] + rows[1:], orc, text, 5, 1))


def test_check_search_accepts_a_tie_at_the_kth_score():
    # two identical articles tie at every score: either may take the last slot
    arts = [("T0", ["S"], [["same text"]], None), ("T1", ["S"], [["same text"]], None)] + [
        (f"U{i}", ["S"], [[f"u{i}"]], None) for i in range(3)
    ]
    orc = oracle.SearchOracle(arts, 8, toy_encode)
    text = "query"
    scores = orc.doc_scores(text)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    k = [a for a, _ in ranked].index("T0") + 1
    rows = expected_rows(orc, text, k=k)
    swapped = [dict(r, article_id="T1") if r["article_id"] == "T0" else r for r in rows]
    assert oracle.check_search(swapped, orc, text, k, 1) == []


def test_check_store_flags_a_removed_paragraph_that_came_back(orc):
    rows = [(c[0], c[1], c[3], c[4]) for c in orc.chunks]
    doc_ids = list(orc.doc_ids)
    sampled = [("A1", orc.doc_vector("A1"))]
    assert oracle.check_store(rows, doc_ids, sampled, orc) == []
    assert oracle.check_store(rows + [("A1", 0, 3, "old text")], doc_ids, sampled, orc)
    assert oracle.check_store(rows, doc_ids[:-1], sampled, orc)
    assert oracle.check_store(rows, doc_ids, [("A1", orc.doc_vector("A2"))], orc)



def test_check_sees_writes():
    rows = [dict(context_paragraphs=["p0", "new text", "p2"]), dict(context_paragraphs=["q1"])]
    assert oracle.check_sees_writes(rows, "new text", written=True) == []
    assert oracle.check_sees_writes(rows, "gone", written=False) == []
    assert oracle.check_sees_writes(rows, "missing", written=True)
    assert oracle.check_sees_writes(rows, "new text", written=False)

# -- dedup scoring -----------------------------------------------------------


def test_pair_scores_perfect_split_and_merge():
    clusters = [[1, 2, 3], [7, 8]]
    perfect = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}
    assert oracle.pair_scores(perfect, clusters) == (1.0, 1.0)
    split = {**perfect, 3: 3}  # loses pairs (1,3), (2,3)
    assert oracle.pair_scores(split, clusters) == (1.0, pytest.approx(2 / 4))
    merged = {**perfect, 7: 1, 8: 1}  # 10 predicted pairs, 4 true
    assert oracle.pair_scores(merged, clusters) == (pytest.approx(4 / 10), 1.0)


def test_check_dedup_rules():
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    corpus = [(1, base), (2, base.replace("w9", "x9")), (3, "a b c d e f"), (4, "g h i j k l")]
    ok = [(1, 1, True), (2, 1, False), (3, 3, True), (4, 4, True)]
    problems, p, r = oracle.check_dedup(ok, corpus, [[1, 2]], 3, 0.5)
    assert problems == [] and (p, r) == (1.0, 1.0)
    two_survivors = [(1, 1, True), (2, 1, True), (3, 3, True), (4, 4, True)]
    assert any("2 survivors" in x for x in oracle.check_dedup(two_survivors, corpus, [[1, 2]], 3, 0.5)[0])
    not_min = [(1, 2, False), (2, 2, True), (3, 3, True), (4, 4, True)]
    assert any("minimum" in x for x in oracle.check_dedup(not_min, corpus, [[1, 2]], 3, 0.5)[0])
    assert any("covers" in x for x in oracle.check_dedup(ok[:-1], corpus, [[1, 2]], 3, 0.5)[0])
    false_merge = [(1, 1, True), (2, 1, False), (3, 1, False), (4, 4, True)]
    problems, p, _ = oracle.check_dedup(false_merge, corpus, [[1, 2]], 3, 0.5)
    assert any("not linked" in x for x in problems) and p == pytest.approx(1 / 3)
    missed = [(1, 1, True), (2, 2, True), (3, 3, True), (4, 4, True)]
    assert any("recall" in x for x in oracle.check_dedup(missed, corpus, [[1, 2]], 3, 0.5)[0])


def test_shingle_jaccard():
    a = oracle.shingle_set("a b c d", 3)
    assert a == {"a b c", "b c d"}
    assert oracle.shingle_set("a  b", 3) == set()
    assert oracle.jaccard(a, oracle.shingle_set("a b c x", 3)) == pytest.approx(1 / 3)


# -- generators --------------------------------------------------------------


def test_search_inputs_are_seeded():
    a, b, c = gen.SearchInputs(3, 50), gen.SearchInputs(3, 50), gen.SearchInputs(4, 50)
    assert (a.articles, a.update, a.warmup, a.queries) == (b.articles, b.update, b.warmup, b.queries)
    assert a.articles != c.articles and a.queries != c.queries


def test_search_queries_follow_the_stated_repeat_share():
    t = gen.TRAFFIC["search"]
    queries = gen.SearchInputs(6, 2000).queries
    seen, repeats = set(), 0
    for text in queries:
        repeats += text in seen
        seen.add(text)
    assert abs(repeats / len(queries) - t["query_repeat_share"]) < 0.05


def paragraphs(articles):
    return {a[0]: [p for sec in a[2] for p in sec] for a in articles}


def test_update_batch_replaces_with_shortened_text_and_adds_new_articles():
    t = gen.TRAFFIC["search"]
    inp = gen.SearchInputs(5, 10)
    before, update, final = paragraphs(inp.articles), paragraphs(inp.update), paragraphs(inp.final)
    replaced = [a for a in update if a in before]
    assert len(inp.update) == t["update_articles"]
    assert len(replaced) == round(t["update_articles"] * t["update_replace_share"])
    for aid in replaced:
        assert len(update[aid]) < len(before[aid])  # shortened
        assert set(update[aid]) - set(before[aid])  # changed
        assert final[aid] == update[aid]
    assert set(final) == set(before) | set(update)
    assert all(final[a] == before[a] for a in before if a not in update)


def test_warmup_reads_written_and_removed_paragraphs():
    t = gen.TRAFFIC["search"]
    inp = gen.SearchInputs(7, 10)
    written = {p for ps in paragraphs(inp.update).values() for p in ps}
    stored = {p for ps in paragraphs(inp.final).values() for p in ps}
    old = {p for ps in paragraphs(inp.articles).values() for p in ps}
    w, r = t["warmup_written"], t["warmup_removed"]
    assert len(inp.warmup) == w + r
    assert all(p in written for p in inp.warmup[:w])
    assert all(p in old and p not in stored for p in inp.warmup[w:])


def test_warmup_bulk_reads_paragraphs_of_the_bulk_batch():
    t = gen.TRAFFIC["search"]
    inp = gen.SearchInputs(7, 10)
    old = {p for ps in paragraphs(inp.articles).values() for p in ps}
    assert len(inp.warmup_bulk) == t["warmup_bulk"]
    assert all(p in old for p in inp.warmup_bulk)
    assert inp.warmup_bulk == gen.SearchInputs(7, 10).warmup_bulk


def test_dedup_corpus_plants_stated_share():
    t = gen.TRAFFIC["dedup"]
    n = t["corpus_docs"]
    rows, clusters = gen.dedup_corpus(2, 0, n)
    assert len(rows) == n and len({d for d, _ in rows}) == n
    copies = sum(len(c) - 1 for c in clusters)
    assert abs(copies - n * t["planted_dup_share"]) <= max(t["cluster_size"])
    assert rows == gen.dedup_corpus(2, 0, n)[0] and rows != gen.dedup_corpus(2, 1, n)[0]


def test_parallel_oracle_encode_matches_the_serial_rows():
    from pubmed_central_semantic_search_spark.encoder import fake_encode_matrix

    from userbench.workloads import _encode_in_parallel

    texts = [f"paragraph {i}" for i in range(11)]
    assert np.array_equal(_encode_in_parallel(texts, 16), fake_encode_matrix(texts, 16))


# -- BENCHMARK.json ----------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= b["run_seconds"] <= 60
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])

