"""Seeded inputs, the two workloads, and the correctness gate.

Everything the engine sees is made here from ``--seed``: the corpus comes
from ``corpus.synthesize_pages`` (vocabulary w1..w9999, log-uniform ranks)
and the queries from a ``random.Random(seed)``. No query text repeats within
a run, so a result cache cannot pass for a faster scan.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import random
import statistics
import time

from pyspark.sql import functions as F

from sparksearch import build, merge, segments
from sparksearch.corpus import synthesize_pages
from sparksearch.exec import Executor
from sparksearch.index import IndexReader
from sparksearch.oracle import OracleIndex
from sparksearch.queries import Bool, Match, MatchPhrase

K = 10
MSEARCH_BATCH = 32
SHAPES = ("or", "and", "msm", "phrase", "bool")
#: untimed (but checked) queries before the first search loop, one round of
#: shapes: the first queries of a process pay JIT compilation and python
#: worker start-up
WARMUP = len(SHAPES)
HEAD = (1, 50)        # w1..w50: df 12-99% of docs
RARE = (2000, 9999)   # w2000..w9999: df well under 1% of docs

#: query-head: one generation with packed segments
HEAD_DOCS = 4_000
#: query-rare: generation 0, then one add_generation batch; row postings
RARE_DOCS, INGEST_DOCS = 5_000, 500


# ---- corpus ----------------------------------------------------------------
def synthesize(spark, n_docs: int, seed: int, parts: int):
    return synthesize_pages(spark, n_docs, seed=seed, partitions=parts)


def doc_id_range(pages, lo: int, hi: int):
    """Pages whose synthesized doc id (the url's last 8 digits) is in
    [lo, hi): the ingest batch is a later slice of one seeded corpus, so
    its urls and texts are new."""
    did = F.substring("url", -8, 8).cast("long")
    return pages.filter((did >= lo) & (did < hi))


def corpus_rows(spark, path: str) -> list[tuple[str, str]]:
    """(url, text) in docid order: rank by url within one generation."""
    return [(r["url"], r["text"]) for r in
            spark.read.parquet(path).select("url", "text")
            .orderBy("url").collect()]


def digest(rows: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for url, text in rows:
        h.update(url.encode())
        h.update(b"\0")
        h.update(text.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_of(rows: list[tuple[str, str]]) -> OracleIndex:
    return OracleIndex([{"url": u, "text": t} for u, t in rows])


# ---- queries -----------------------------------------------------------------
def _rank(tok: str) -> int:
    return int(tok[1:])


def _shape(shape: str, terms: list[str]):
    """One query of the given shape over 2 (3 for msm) terms."""
    a, b = terms[0], terms[1]
    if shape == "or":
        return Match("text", f"{a} {b}")
    if shape == "and":
        return Match("text", f"{a} {b}", operator="and")
    if shape == "msm":
        return Match("text", f"{a} {b} {terms[2]}", minimum_should_match=2)
    if shape == "phrase":
        return MatchPhrase("text", f"{a} {b}")
    return Bool(must=[Match("text", a)], should=[Match("text", b)])


def query_key(q) -> str:
    return repr(q)


def _distinct(draw, seed: int):
    """Endless stream of queries from ``draw(rng, shape)``, shapes in turn,
    none repeated. ``draw`` returns None when its pick is unusable."""
    rng = random.Random(seed)
    seen: set[str] = set()
    for i in itertools.count():
        shape = SHAPES[i % len(SHAPES)]
        for _ in range(100_000):
            q = draw(rng, shape)
            if q is not None and query_key(q) not in seen:
                break
        else:
            raise RuntimeError(f"no new {shape} query after 100000 draws")
        seen.add(query_key(q))
        yield q


def head_queries(seed: int):
    """Distinct queries over head terms."""
    def draw(rng, shape):
        return _shape(shape, [f"w{r}" for r in
                              rng.sample(range(HEAD[0], HEAD[1] + 1), 3)])
    return _distinct(draw, seed * 7919 + 1)


def rare_queries(seed: int, rows: list[tuple[str, str]]):
    """Distinct queries over rare terms. Terms are drawn from one seeded
    document so that every AND and phrase query has a hit; phrases are
    adjacent rare-rare token pairs of that document."""
    def draw(rng, shape):
        toks = rows[rng.randrange(len(rows))][1].split()
        if shape == "phrase":
            pairs = [(x, y) for x, y in zip(toks, toks[1:])
                     if _rank(x) >= RARE[0] and _rank(y) >= RARE[0]
                     and x != y]
            return _shape(shape, list(rng.choice(pairs))) if pairs else None
        rare = sorted({t for t in toks if _rank(t) >= RARE[0]})
        if len(rare) < 2:
            return None
        # the msm third term comes from the whole rare range
        return _shape(shape, rng.sample(rare, 2)
                      + [f"w{rng.randint(*RARE)}"])
    return _distinct(draw, seed * 7919 + 2)


def query_terms(q) -> list[str]:
    if isinstance(q, Bool):
        return [t for c in q.must + q.should for t in query_terms(c)]
    return q.text.split()


def query_record(issued: list, oracle: OracleIndex,
                 rows: list[tuple[str, str]]) -> dict:
    """Corpus digest, repeat share and median df of the queried terms, for
    the run log."""
    keys = [query_key(q) for q in issued]
    terms = sorted({t for q in issued for t in query_terms(q)})
    return {"corpus_digest": digest(rows), "queries": len(keys),
            "repeat_share": 1 - len(set(keys)) / max(1, len(keys)),
            "median_df": statistics.median([oracle.df(t) for t in terms])
            if terms else 0}


# ---- correctness ---------------------------------------------------------------
def same_topk(got: list[tuple[int, str, float]],
              exp: list[tuple[int, str, float]]) -> bool:
    """Rank-identical docids and urls, scores within rtol 1e-6."""
    return len(got) == len(exp) and all(
        d == ed and u == eu and math.isclose(s, es, rel_tol=1e-6,
                                             abs_tol=1e-9)
        for (d, u, s), (ed, eu, es) in zip(got, exp))


def topk_ok(got: list[tuple[int, str, float]], q, oracle: OracleIndex) -> bool:
    return same_topk(got, [(d, oracle.docs[d]["url"], s)
                           for d, s in oracle.search(q, K)])


def msearch_ok(got: list[tuple[int, str, float]], q,
               oracle: OracleIndex) -> bool:
    """msearch rounds scores to 4 places before ranking, so the reference
    is the oracle's ranking re-sorted by rounded score, docid."""
    deep = oracle.search(q, K + 64)
    exp = sorted(((d, round(s, 4)) for d, s in deep),
                 key=lambda x: (-x[1], x[0]))[:K]
    return len(got) == len(exp) and all(
        d == ed and u == oracle.docs[ed]["url"] and abs(s - es) <= 1.5e-4
        for (d, u, s), (ed, es) in zip(got, exp))


def rows_of(df_rows) -> list[tuple[int, str, float]]:
    return [(r["docid"], r["url"], r["score"]) for r in df_rows]


# ---- shared helpers ------------------------------------------------------------
class Ops:
    """Attempted/failed op counts. A failed op is an exception, or an answer
    the oracle rejects."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(what)


def timed_query(ctx, ex: Executor, q, traced: bool, span: str = "query"):
    """One closed-loop search with fetch, collected. Returns (rows, s)."""
    tr = ctx.tracer
    tr.wrappers_on = traced
    try:
        t0 = time.perf_counter()
        with tr.span(span) as sp:
            df = ex.search(q, k=K)
            with tr.span("exec.execute"):
                rows = rows_of(df.collect())
        dt = time.perf_counter() - t0
    finally:
        tr.wrappers_on = tr.enabled
    if sp is not None:
        sp.traced, sp.hits = traced, len(rows)
    return rows, dt


def warm_workers(spark, parts: int) -> None:
    """Start a python worker per task slot, with pandas and pyarrow
    imported, so that the timed build does not pay for interpreter
    start-up."""
    def same(batches):
        yield from batches
    spark.range(parts, numPartitions=parts).mapInPandas(same, "id long") \
        .collect()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---- phases shared by the workloads ----------------------------------------------
def msearch_batch(ctx, ex: Executor, queries) -> tuple[dict, object]:
    """One msearch batch of MSEARCH_BATCH match queries (the shapes msearch
    fuses into one postings scan). Returns (batch, rows | exception)."""
    batch = {}
    while len(batch) < MSEARCH_BATCH:
        q = next(queries)
        if isinstance(q, Match):
            batch[f"q{len(batch):02d}"] = q
    try:
        with ctx.tracer.span("exec.msearch_batch"):
            return batch, ex.msearch(batch, k=K).collect()
    except Exception as e:  # counted as failed ops by check_msearch
        return batch, e


def check_searches(ops: Ops, results: list, oracle: OracleIndex) -> None:
    for q, res in results:
        ops.attempted += 1
        if isinstance(res, Exception):
            ops.fail(f"{q!r}: {res!r}")
        elif not topk_ok(res, q, oracle):
            ops.fail(f"{q!r}: top-k differs from oracle")


def check_msearch(ops: Ops, batch: dict, got, oracle: OracleIndex) -> None:
    for qid, q in batch.items():
        ops.attempted += 1
        if isinstance(got, Exception):
            ops.fail(f"msearch: {got!r}")
            continue
        mine = [(r["docid"], r["url"], r["score"]) for r in got
                if r["query_id"] == qid]
        if not msearch_ok(mine, q, oracle):
            ops.fail(f"msearch {q!r}: top-k differs from oracle")


def warm_up(ctx, ex: Executor, queries, results: list) -> None:
    for _ in range(WARMUP):
        q = next(queries)
        try:
            results.append((q, timed_query(ctx, ex, q, traced=False,
                                           span="warmup")[0]))
        except Exception as e:  # counted as a failed op by check_searches
            results.append((q, e))


def search_loop(ctx, ex: Executor, queries, seconds: float,
                results: list, lat: list) -> None:
    """Closed loop of single searches for about ``seconds``, in whole
    rounds of one query per shape (at least one round): every run times the
    same mix of shapes, so its median does not depend on where the clock
    stopped. Every other query runs with the library wrappers on (traced
    runs only), so one traced run also times queries without them."""
    t0 = t_round = time.perf_counter()
    i = 0
    while True:
        if i and i % len(SHAPES) == 0:
            now = time.perf_counter()
            round_s, t_round = now - t_round, now
            # stop at the round boundary nearest to ``seconds``
            if now - t0 + round_s / 2 >= seconds:
                break
        q = next(queries)
        try:
            rows, dt = timed_query(ctx, ex, q, traced=i % 2 == 0)
            lat.append(dt)
            results.append((q, rows))
        except Exception as e:  # counted as a failed op by check_searches
            results.append((q, e))
        i += 1


def index_ratio(ix_dir: str, rows: list[tuple[str, str]]) -> float:
    """Bytes on disk under the index dir per byte of corpus text."""
    return dir_bytes(ix_dir) / sum(len(t.encode()) for _, t in rows)


# ---- workloads -------------------------------------------------------------------
def query_head(ctx) -> dict:
    """Set-up: cold build, packed segments, warm-up. Then head-term queries
    through a use_segments=True reader in mode auto (match -> WAND, phrase
    and bool -> segment plan) for the run's seconds."""
    spark, parts, tr = ctx.spark, ctx.parts, ctx.tracer
    corpus = f"{ctx.work}/corpus"
    with tr.span("setup.corpus"):
        synthesize(spark, HEAD_DOCS, ctx.seed, parts).write.parquet(corpus)
        warm_workers(spark, parts)
    ix_dir = f"{ctx.work}/index"

    t0 = time.perf_counter()
    build.build_index(spark.read.parquet(corpus), ix_dir, n_buckets=16,
                      partitions=parts, verify_extract=True)
    build_s = time.perf_counter() - t0
    with tr.span("segments.build"):
        segments.build_segments(spark, ix_dir, salt_target=65536,
                                n_chunks=1, partitions=parts)
    ex = Executor(IndexReader(spark, ix_dir, use_segments=True))
    queries = head_queries(ctx.seed)
    results: list = []
    lat: list[float] = []
    warm_up(ctx, ex, queries, results)
    ctx.setup_done()
    search_loop(ctx, ex, queries, ctx.seconds, results, lat)
    ctx.measure_done()

    # ---- correctness, outside every timed region ------------------------
    with tr.span("oracle"):
        rows = corpus_rows(spark, corpus)
        oracle = oracle_of(rows)
    ops = Ops()
    check_searches(ops, results, oracle)
    # the segment/WAND answers must equal the row-postings plan: one match
    # (WAND) and one non-match (segment plan) query
    plan_ex = Executor(IndexReader(spark, ix_dir, use_segments=False))
    probes = [next((q, r) for q, r in results if isinstance(q, Match)),
              next((q, r) for q, r in results if not isinstance(q, Match))]
    for q, res in probes:
        ops.attempted += 1
        try:
            got = rows_of(plan_ex.search(q, k=K, mode="plan").collect())
        except Exception as e:
            ops.fail(f"plan {q!r}: {e!r}")
            continue
        if isinstance(res, Exception) or not same_topk(got, res):
            ops.fail(f"{q!r}: segment path differs from row-postings plan")
    return {"ops": ops, "latencies": lat,
            "build_docs_per_s": HEAD_DOCS / build_s,
            "index_bytes_per_text_byte": index_ratio(ix_dir, rows),
            "record": query_record([q for q, _ in results], oracle, rows)}


def query_rare(ctx) -> dict:
    """Default reader (row postings, no segments). Set-up: cold build,
    oracles, warm-up. Then rare-term queries for half the run's seconds,
    add_generation of a new batch, more rare-term queries through the
    reload()ed reader for the other half, then one msearch batch."""
    spark, parts, tr = ctx.spark, ctx.parts, ctx.tracer
    gens = [f"{ctx.work}/gen0", f"{ctx.work}/gen1"]
    with tr.span("setup.corpus"):
        pages = synthesize(spark, RARE_DOCS + INGEST_DOCS, ctx.seed, parts)
        doc_id_range(pages, 0, RARE_DOCS).write.parquet(gens[0])
        doc_id_range(pages, RARE_DOCS, RARE_DOCS + INGEST_DOCS) \
            .write.parquet(gens[1])
        warm_workers(spark, parts)
    ix_dir = f"{ctx.work}/index"

    t0 = time.perf_counter()
    build.build_index(spark.read.parquet(gens[0]), ix_dir, n_buckets=16,
                      partitions=parts)
    build_s = time.perf_counter() - t0
    # the queries are drawn from the corpus text, so the oracles come
    # first; they sit between two timed phases, inside neither, and are
    # left out of setup_s
    t_oracle = time.perf_counter()
    with tr.span("oracle"):
        rows0 = corpus_rows(spark, gens[0])
        rows1 = rows0 + corpus_rows(spark, gens[1])
        oracles = [oracle_of(rows0), oracle_of(rows1)]
    oracle_s = time.perf_counter() - t_oracle
    queries = rare_queries(ctx.seed, rows0)
    reader = IndexReader(spark, ix_dir)
    results: list[list] = [[], []]
    lat: list[float] = []
    warm_up(ctx, Executor(reader), queries, results[0])
    ctx.setup_done(excluded_s=oracle_s)
    search_loop(ctx, Executor(reader), queries, ctx.seconds / 2,
                results[0], lat)
    merge.add_generation(spark, ix_dir, spark.read.parquet(gens[1]),
                         partitions=parts, with_segments=False)
    ex = Executor(reader.reload())
    search_loop(ctx, ex, queries, ctx.seconds / 2, results[1], lat)
    batch, got = msearch_batch(ctx, ex, queries)
    ctx.measure_done()

    ops = Ops()
    for res, oracle in zip(results, oracles):
        check_searches(ops, res, oracle)
    check_msearch(ops, batch, got, oracles[1])
    issued = [q for r in results for q, _ in r] + list(batch.values())
    return {"ops": ops, "latencies": lat,
            "build_docs_per_s": RARE_DOCS / build_s,
            "index_bytes_per_text_byte": index_ratio(ix_dir, rows1),
            "record": query_record(issued, oracles[1], rows1)}


WORKLOADS = {"query-head": query_head, "query-rare": query_rare}
