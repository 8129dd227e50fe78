"""Self-tests of the benchmark harness (run from the repository root):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
from types import SimpleNamespace

import pytest

from perfbench import layers, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [("https://a/1", "w1 w2 w3 w2001 w2002"),
        ("https://a/2", "w2 w2001 w2002 w3 w3"),
        ("https://a/3", "w1 w1 w2003 w2004 w2001"),
        ("https://a/4", "w5 w2002 w2001 w9 w2")]


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _take(it, n):
    return [workloads.query_key(q) for q in itertools.islice(it, n)]


def test_same_seed_same_queries():
    assert _take(workloads.head_queries(3), 40) == \
        _take(workloads.head_queries(3), 40)
    assert _take(workloads.head_queries(3), 40) != \
        _take(workloads.head_queries(4), 40)
    assert _take(workloads.rare_queries(3, DOCS), 10) == \
        _take(workloads.rare_queries(3, DOCS), 10)


def test_exhausted_query_space_raises():
    with pytest.raises(RuntimeError):
        _take(workloads.rare_queries(3, DOCS[:1]), 50)


def test_no_query_repeats_within_a_run():
    oracle = workloads.oracle_of(DOCS)
    head = list(itertools.islice(workloads.head_queries(1), 200))
    assert workloads.query_record(head, oracle, DOCS)["repeat_share"] == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


def test_same_seed_same_corpus(spark, tmp_path):
    def digest(seed, name):
        path = str(tmp_path / name)
        workloads.synthesize(spark, 300, seed, 2).write.parquet(path)
        return workloads.digest(workloads.corpus_rows(spark, path))
    first = digest(7, "a")
    assert digest(7, "b") == first
    assert digest(8, "c") != first


def test_perturbed_topk_is_a_failed_op():
    oracle = workloads.oracle_of(DOCS)
    q = workloads.Match("text", "w2001 w2002")
    good = [(d, oracle.docs[d]["url"], s) for d, s in oracle.search(q, 10)]
    assert len(good) >= 3
    swapped = [good[1], good[0]] + good[2:]
    rescored = [(good[0][0], good[0][1], good[0][2] * (1 + 1e-4))] + good[1:]
    ops = workloads.Ops()
    workloads.check_searches(
        ops, [(q, good), (q, swapped), (q, rescored), (q, good[:-1]),
              (q, RuntimeError("boom"))], oracle)
    assert (ops.attempted, ops.failed) == (5, 4)


def test_printed_metric_names_match_benchmark_json():
    spec = _spec()
    ctx = SimpleNamespace(setup_s=1.0, peak_rss_mb=1.0)
    out = {"latencies": [0.1, 0.2], "build_docs_per_s": 1.0,
           "index_bytes_per_text_byte": 1.0}
    assert set(run.end_to_end(ctx, out)) == \
        {m["name"] for m in spec["end_to_end"]}
    assert set(layers.per_layer(spans.Tracer(enabled=True))) == \
        {m["name"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_self_time_and_job_attribution():
    tr = spans.Tracer(enabled=True)
    outer = tr.begin("outer")
    inner = tr.begin("inner")
    tr.finish(inner)
    tr.finish(outer)
    outer.start, outer.end, inner.start, inner.end = 0.0, 10.0, 2.0, 5.0
    assert outer.self_time == pytest.approx(7.0)
    inner.jobs.append(dict.fromkeys(spans.STAGE_COUNTERS, 1))
    outer.jobs.append(dict.fromkeys(spans.STAGE_COUNTERS, 2))
    assert spans.inclusive([outer, inner], "jobs") == 2
    assert spans.inclusive([outer], "tasks") == 3
