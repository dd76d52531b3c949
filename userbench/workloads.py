"""The benchmark's workloads: what a searcher (after an indexer's bulk
load, timed as set-up) and a data curator do, timed end to end through
the public API (untraced), or replayed as calls into each layer with one
action boundary per call (traced).

Every timed op consumes its full result: queries and dedup end in
``collect()``, bulk intermediates in a ``noop`` write; ``count()`` is
never used (Catalyst would prune the expensive columns).
"""

from __future__ import annotations

import multiprocessing
import os
import random
import time
from concurrent.futures import ProcessPoolExecutor
from contextlib import nullcontext

import numpy as np

from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.api import SemanticSearchEngine
from pubmed_central_semantic_search_spark.encoder import encode_column, fake_encode_matrix
from pubmed_central_semantic_search_spark.functions.text import doc_key
from pubmed_central_semantic_search_spark.operators.chunking import explode_chunks
from pubmed_central_semantic_search_spark.operators.dedup import (
    assign_components,
    minhash_candidate_pairs,
    near_dup_minhash,
)
from pubmed_central_semantic_search_spark.operators.pooling import mean_pool
from pubmed_central_semantic_search_spark.operators.search import (
    highlight_with_context,
    score_documents,
)
from pubmed_central_semantic_search_spark.plans.planner import resolve_kernel
from pubmed_central_semantic_search_spark.schemas import ARTICLES_SCHEMA
from pubmed_central_semantic_search_spark.session import local_df, release_cached_deps
from pubmed_central_semantic_search_spark.sources.catalog import (
    read_upsert_table,
    upsert_parquet,
)

from . import gen, oracle, stats
from .trace import Tracer

DEDUP_SCHEMA = "doc_id bigint, text string"


def noop(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """One benchmark run: its session, clock, tallies and outputs."""

    def __init__(self, start_session, workdir: str, seed: int, seconds: float, trace: bool):
        self.start_session = start_session
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.problems: list[str] = []
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.details: dict = {}

    def session(self):
        self.spark = self.start_session()
        if self.trace:
            self.tracer = Tracer(self.spark)
        return self.spark

    def another_op(self, phase0: float) -> bool:
        """Whether to start another op: while the run's seconds are not
        up, so the last op may end up to one op past them. A run then
        holds at least two ops of any op shorter than the run."""
        return time.perf_counter() - phase0 < self.seconds

    def op_group(self, name: str, op: int):
        """A span of its own around an untraced op in a traced run (its
        actions then run under a job group of their own, which the
        program never sees); no span in an untraced run."""
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def judge(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems[:5]]


# -- search ------------------------------------------------------------------


def _query_rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _traced_upload(tr: Tracer, spark, eng: SemanticSearchEngine, articles, op: int) -> None:
    """``SemanticSearchEngine.upload_articles`` (flat layout) as its layer
    calls, each ending in an action."""
    with tr.span("api.upload_articles", op):
        with tr.span("operators.chunking.explode", op):
            chunks = explode_chunks(articles).persist()
            noop(chunks)
        with tr.span("encoder.encode", op):
            encoded = chunks.withColumn(
                "embedding", encode_column("paragraph", kind=eng.encoder, dim=eng.dim)
            ).persist()
            noop(encoded)
        with tr.span("sources.catalog.upsert", op):
            upsert_parquet(
                spark,
                encoded,
                eng.chunks_path,
                key_cols=["chunk_id"],
                replace_group_col="article_id",
                persist_batch=True,
            )
        batch_ids = articles.select(F.col("article_id").cast("string").alias("article_id")).distinct()
        with tr.span("operators.pooling.mean_pool", op):
            written = read_upsert_table(spark, eng.chunks_path).join(F.broadcast(batch_ids), "article_id")
            vecs = (
                mean_pool(written, group=["article_id"], vec_col="embedding", dim=eng.dim)
                .withColumn("doc_pk", doc_key("article_id"))
                .persist()
            )
            noop(vecs)
        with tr.span("sources.catalog.upsert", op):
            upsert_parquet(spark, vecs, eng.doc_vectors_path, key_cols=["article_id"])
        for df in (chunks, encoded, vecs):
            df.unpersist()


def _traced_query(tr: Tracer, spark, eng: SemanticSearchEngine, text: str, op: int) -> list[dict]:
    """``SemanticSearchEngine.query`` (UI defaults) as its layer calls."""
    t = gen.TRAFFIC["search"]
    with tr.span("api.query", op):
        with tr.span("encoder.query", op):
            qvec = fake_encode_matrix([text], eng.dim)[0]
        q = local_df(
            spark,
            [(0, text, [float(x) for x in qvec])],
            "query_id int, query_text string, qvec array<double>",
        )
        # the reads are timed as scans of their own; scoring and highlight
        # then scan the tables again, as the facade's plan does, so their
        # input records count the rows they examine
        with tr.span("sources.catalog.read", op):
            doc_vectors = read_upsert_table(spark, eng.doc_vectors_path)
            noop(doc_vectors)
        with tr.span("sources.catalog.read", op):
            chunks = read_upsert_table(spark, eng.chunks_path)
            noop(chunks)
        with tr.span("operators.search.score", op):
            top = score_documents(doc_vectors, q, k_docs=t["k_docs"], kernel=resolve_kernel(eng.dim)).persist()
            noop(top)
        with tr.span("operators.search.highlight", op):
            hits = highlight_with_context(
                chunks, top, t["paragraphs_per_document"], t["context_window"]
            ).persist()
            noop(hits)
        rows = _query_rows(hits.join(F.broadcast(q.select("query_id", "query_text")), "query_id"))
        for df in (top, hits):
            df.unpersist()
    return rows


def _encode_in_parallel(texts: list[str], dim: int) -> np.ndarray:
    """``fake_encode_matrix`` of ``texts`` in one worker process per core,
    row order kept. Called before the session starts, so the workers run
    while nothing else does, and they have all ended when it returns."""
    n = len(os.sched_getaffinity(0))
    step = -(-len(texts) // n)
    parts = [texts[i : i + step] for i in range(0, len(texts), step)]
    with ProcessPoolExecutor(n, mp_context=multiprocessing.get_context("fork")) as pool:
        return np.vstack(list(pool.map(fake_encode_matrix, parts, [dim] * len(parts))))


def search(run: Run) -> None:
    """Store built in set-up by a bulk ``upload_articles`` into an empty
    store, then one closed-loop client sending ``query(text)`` until the
    run's time is up. A traced run also uploads an update batch into the
    now existing store (half replacing stored articles with shortened
    text, so the catalog's merge path runs) and its set-up queries check
    that the store shows what the update wrote and not what it removed."""
    t = gen.TRAFFIC["search"]
    inp = gen.SearchInputs(run.seed)
    batches = (inp.articles, inp.update) if run.trace else (inp.articles,)
    warmup = inp.warmup if run.trace else inp.warmup_bulk
    stored = inp.final if run.trace else inp.articles
    orc = oracle.SearchOracle(stored, t["dim"], fake_encode_matrix, _encode_in_parallel)
    root = os.path.join(run.workdir, "store")

    def check(rows, text, what, more=()):
        run.judge(oracle.check_search(rows, orc, text, t["k_docs"], t["context_window"]) + list(more), what)

    t0 = time.perf_counter()
    spark = run.session()
    eng = SemanticSearchEngine(spark, root, dim=t["dim"])
    upload_ms = []
    for op, batch in enumerate(batches):
        articles = local_df(spark, batch, ARTICLES_SCHEMA)
        u0 = time.perf_counter()
        if run.tracer:
            _traced_upload(run.tracer, spark, eng, articles, op)
        else:
            eng.upload_articles(articles)
        upload_ms.append((time.perf_counter() - u0) * 1000)
    # the first queries read what the last batch wrote (and removed)
    warm = []
    for i, text in enumerate(warmup):
        written = not run.trace or i < t["warmup_written"]
        warm.append((text, written, _query_rows(eng.query(text))))
        if run.tracer:  # warm the replayed plans too (spans of ops < 100)
            warm.append((text, written, _traced_query(run.tracer, spark, eng, text, 2 + i)))
    setup_s = time.perf_counter() - t0
    if run.tracer:
        run.tracer.collect_counters()

    # store check (untimed): the store holds exactly the stored articles
    chunk_rows = (
        read_upsert_table(spark, eng.chunks_path)
        .select("article_id", "section_id", "paragraph_id", "paragraph")
        .collect()
    )
    doc_ids = [r[0] for r in read_upsert_table(spark, eng.doc_vectors_path).select("article_id").collect()]
    probe = random.Random(run.seed).sample(orc.doc_ids, 5) + [a[0] for batch in batches[1:] for a in batch]
    sampled = (
        read_upsert_table(spark, eng.doc_vectors_path)
        .filter(F.col("article_id").isin(probe))
        .select("article_id", "embedding")
        .collect()
    )
    run.judge(oracle.check_store(chunk_rows, doc_ids, sampled, orc), "store")
    for text, written, rows in warm:
        check(rows, text, "set-up query", oracle.check_sees_writes(rows, text, written))
    store_files, store_bytes = tree_size(root)

    # timed phase: one closed-loop client
    latencies, traced_ms, answers = [], [], []
    phase0 = time.perf_counter()
    for i, text in enumerate(inp.queries):
        if not run.another_op(phase0):
            break
        with run.op_group("untraced.query", 100 + i):
            q0 = time.perf_counter()
            rows = _query_rows(eng.query(text))
            latencies.append((time.perf_counter() - q0) * 1000)
        answers.append((text, rows))
        if run.tracer:
            q0 = time.perf_counter()
            answers.append((text, _traced_query(run.tracer, spark, eng, text, 100 + i)))
            traced_ms.append((time.perf_counter() - q0) * 1000)
            run.tracer.collect_counters()
    phase_s = time.perf_counter() - phase0
    for text, rows in answers:
        check(rows, text, f"query {text[:30]!r}")

    n = len(latencies)
    tail = stats.tail_percentile(n)
    run.details.update(
        queries=n,
        latencies_ms=[round(x, 1) for x in latencies],
        repeated_queries=n - len(set(inp.queries[:n])),
        tail_percentile=tail,
        tail_ms=stats.percentile(latencies, tail) if tail else None,
        upload_ms=[round(x, 1) for x in upload_ms],
        store_files=store_files,
        store_bytes=store_bytes,
        queries_per_s_phase=round(n / phase_s, 4),
    )
    run.e2e.update(
        setup_s=setup_s,
        latency_p50_ms=stats.median(latencies),
        items_per_s=1000 / stats.median(latencies),
    )
    if run.tracer:
        _search_layers(run, inp, traced_ms, latencies, store_files, store_bytes)


def _median_of(spans, key=lambda s: s.ms) -> float:
    vals = [key(s) for s in spans]
    return stats.median(vals) if vals else 0.0


def _op_metrics(run: Run, op_name: str, first_op: int) -> None:
    """spark.* per-op counters of the untraced ops (each ran under a job
    group of its own, as a span without children), and api.self_ms of
    their replays, for the ops with id >= ``first_op``."""
    tr = run.tracer
    cores = run.spark.sparkContext.defaultParallelism
    ops = [s for s in tr.spans if s.name == f"untraced.{op_name}" and s.op_id >= first_op]
    m = run.layer

    def med(f):
        return stats.median([f(s.ms, s.counters) for s in ops]) if ops else 0.0

    m["spark.jobs_per_op"] = med(lambda ms, c: c["jobs"])
    m["spark.tasks_per_op"] = med(lambda ms, c: c["tasks"])
    m["spark.busy_ms_per_op"] = med(lambda ms, c: c["busy_ms"])
    m["spark.busy_share"] = med(lambda ms, c: c["busy_ms"] / (ms * cores))
    m["spark.input_mb_per_op"] = med(lambda ms, c: c["input_bytes"] / 1e6)
    m["spark.shuffle_mb_per_op"] = med(
        lambda ms, c: (c["shuffle_read_bytes"] + c["shuffle_write_bytes"]) / 1e6
    )
    roots = [i for i, s in enumerate(tr.spans) if s.name == f"api.{op_name}" and s.op_id >= first_op]
    m["api.self_ms"] = stats.median([tr.self_ms(i) for i in roots]) if roots else 0.0


def _by_name(tr: Tracer, keep) -> dict[str, list]:
    """Spans grouped by name, for the ops whose id passes ``keep``."""
    by: dict[str, list] = {}
    for s in tr.spans:
        if keep(s.op_id):
            by.setdefault(s.name, []).append(s)
    return by


def _search_layers(run, inp, traced_ms, latencies, store_files, store_bytes) -> None:
    """Per-layer metrics of a traced search run: encoder, chunking and
    pooling from the bulk upload (op 0), catalog writes from the update
    batch (op 1, which merges into the existing tables), query layers
    from the timed ops (op >= 100)."""
    tr = run.tracer
    t = gen.TRAFFIC["search"]
    bulk = _by_name(tr, lambda op: op == 0)
    upd = _by_name(tr, lambda op: op == 1)
    by = _by_name(tr, lambda op: op >= 100)
    m = run.layer
    chunks_out = sum(len(sec) for a in inp.articles for sec in a[2])
    enc = bulk["encoder.encode"]
    m["encoder.query_ms"] = _median_of(by["encoder.query"])
    m["encoder.encode_ms"] = _median_of(enc)
    m["encoder.rows_per_s"] = chunks_out / (sum(s.ms for s in enc) / 1000)
    m["operators.chunking.explode_ms"] = _median_of(bulk["operators.chunking.explode"])
    m["operators.chunking.chunks_out"] = chunks_out
    m["operators.pooling.mean_pool_ms"] = _median_of(bulk["operators.pooling.mean_pool"])
    score, hl = by["operators.search.score"], by["operators.search.highlight"]
    hits = t["k_docs"] * t["paragraphs_per_document"]
    m["operators.search.score_ms"] = _median_of(score)
    m["operators.search.score_rows_per_hit"] = _median_of(
        score, lambda s: s.counters["input_records"] / t["k_docs"]
    )
    m["operators.search.highlight_ms"] = _median_of(hl)
    m["operators.search.highlight_rows_per_hit"] = _median_of(
        hl, lambda s: s.counters["input_records"] / hits
    )
    reads, ups = by["sources.catalog.read"], upd["sources.catalog.upsert"]
    m["sources.catalog.read_ms"] = _median_of(reads)
    m["sources.catalog.read_jobs"] = _median_of(reads, lambda s: s.counters["jobs"])
    m["sources.catalog.upsert_ms"] = _median_of(ups)
    m["sources.catalog.jobs_per_upsert"] = _median_of(ups, lambda s: s.counters["jobs"])
    m["sources.catalog.bytes_rewritten_per_batch_byte"] = sum(
        s.counters["output_bytes"] for s in ups
    ) / gen.SearchInputs.text_bytes(inp.update)
    m["sources.catalog.store_files"] = store_files
    m["sources.catalog.store_bytes_per_input_byte"] = store_bytes / gen.SearchInputs.text_bytes(
        inp.articles + inp.update
    )
    _op_metrics(run, "query", 100)
    m["trace.overhead_ms"] = stats.median(traced_ms) - stats.median(latencies)


# -- dedup -------------------------------------------------------------------


def _dedup_op(tr: Tracer | None, docs, op: int):
    """One dedup op over the handed-off corpus ``docs``: untraced when
    ``tr`` is None, else replayed as its layer calls; the replay then
    counts the LSH candidate pairs in a root span of its own, outside
    the op. Returns (ms, rows, (candidate, verified) pair counts or
    None)."""
    p = gen.TRAFFIC["dedup"]["minhash"]
    kw = dict(n_hashes=p["n_hashes"], bands=p["bands"], shingle_n=p["shingle_n"])
    t0 = time.perf_counter()
    if tr is None:
        pairs = near_dup_minhash(docs, "doc_id", "text", min_jaccard=p["min_jaccard"], **kw)
        rows = assign_components(docs, "doc_id", pairs).select("doc_id", "component", "is_survivor").collect()
        release_cached_deps(pairs)
        return (time.perf_counter() - t0) * 1000, rows, None
    with tr.span("api.dedup", op):
        with tr.span("operators.dedup.minhash", op):
            pairs = near_dup_minhash(docs, "doc_id", "text", min_jaccard=p["min_jaccard"], **kw)
            kept = pairs.persist()
            verified = len(kept.collect())
        with tr.span("operators.dedup.components", op):
            rows = assign_components(docs, "doc_id", kept).select("doc_id", "component", "is_survivor").collect()
        kept.unpersist()
        release_cached_deps(pairs)
    ms = (time.perf_counter() - t0) * 1000
    with tr.span("operators.dedup.candidates", op):
        candidates = len(minhash_candidate_pairs(docs, "doc_id", "text", **kw).collect())
    return ms, rows, (candidates, verified)


def dedup(run: Run) -> None:
    """Near-dup dedup of seeded corpora with planted clusters: pairs →
    components → survivors, one fresh corpus per op, until time is up.
    Set-up starts the session and runs ops over corpora of their own,
    so that the timed ops run in a warm JVM (the first op of a session
    spends most of its time compiling); a traced run also replays the
    last of them, so that the untraced ops and their replays compare
    warm."""
    t = gen.TRAFFIC["dedup"]
    outcomes = []  # (rows, corpus, clusters) of every op, checked at the end

    t0 = time.perf_counter()
    spark = run.session()
    for op in range(-t["warmup_ops"], 0):
        corpus, clusters = gen.dedup_corpus(run.seed, op, t["warmup_docs"])
        docs = local_df(spark, corpus, DEDUP_SCHEMA)
        outcomes.append((_dedup_op(None, docs, op)[1], corpus, clusters))
    setup_s = time.perf_counter() - t0
    if run.tracer:
        outcomes.append((_dedup_op(run.tracer, docs, -1)[1], corpus, clusters))

    latencies, traced_ms, pair_counts = [], [], []
    phase0 = time.perf_counter()
    op = 0
    while run.another_op(phase0):
        corpus, clusters = gen.dedup_corpus(run.seed, op, t["corpus_docs"])
        docs = local_df(spark, corpus, DEDUP_SCHEMA)  # hand-off, untimed
        with run.op_group("untraced.dedup", op):
            ms, rows, _ = _dedup_op(None, docs, op)
        latencies.append(ms)
        outcomes.append((rows, corpus, clusters))
        if run.tracer:
            tms, trows, counts = _dedup_op(run.tracer, docs, op)
            traced_ms.append(tms)
            pair_counts.append(counts)
            outcomes.append((trows, corpus, clusters))
        op += 1
    precisions, recalls = [], []
    mh = t["minhash"]
    for rows, corpus, clusters in outcomes:
        problems, precision, recall = oracle.check_dedup(
            [tuple(r) for r in rows], corpus, clusters, mh["shingle_n"], mh["min_jaccard"]
        )
        precisions.append(round(precision, 4))
        recalls.append(round(recall, 4))
        run.judge(problems, "dedup")
    run.details.update(
        ops=len(latencies),
        latencies_ms=[round(x, 1) for x in latencies],
        pair_precision=precisions,
        pair_recall=recalls,
    )
    run.e2e.update(
        setup_s=setup_s,
        latency_p50_ms=stats.median(latencies),
        items_per_s=t["corpus_docs"] * 1000 / stats.median(latencies),
    )
    if run.tracer:
        run.tracer.collect_counters()
        _dedup_layers(run, traced_ms, latencies, pair_counts)


def _dedup_layers(run, traced_ms, latencies, pair_counts) -> None:
    by = _by_name(run.tracer, lambda op: op >= 0)
    m = run.layer
    m["operators.dedup.minhash_ms"] = _median_of(by["operators.dedup.minhash"])
    m["operators.dedup.components_ms"] = _median_of(by["operators.dedup.components"])
    m["operators.dedup.candidate_pairs"] = stats.median([c for c, _ in pair_counts])
    m["operators.dedup.verified_pairs"] = stats.median([v for _, v in pair_counts])
    m["operators.dedup.pair_precision"] = stats.median([v / c if c else 1.0 for c, v in pair_counts])
    _op_metrics(run, "dedup", 0)
    m["trace.overhead_ms"] = stats.median(traced_ms) - stats.median(latencies)
