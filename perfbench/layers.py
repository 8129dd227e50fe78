"""Per-layer metrics derived from a traced run's spans and job counters.

Per-query figures divide by the number of queries whose span the figure
needs: counters and ``exec.execute_s`` hang on the benchmark's own
``query`` span and cover every query; figures that need a library span
(``exec.plan_s``, ``index.open_s``, ``segments.*``, ``wand.*``) cover the
queries run with the library wrappers on, which is every other query.
"""

from __future__ import annotations

import statistics

from perfbench.spans import inclusive, spans_named


def _under(parents, name: str) -> list:
    """Spans called ``name`` below ``parents``, outermost only."""
    out = []

    def visit(s):
        for c in s.children:
            if c.name == name:
                out.append(c)
            else:
                visit(c)
    for p in parents:
        visit(p)
    return out


def _dur(spans) -> float:
    return sum(s.duration for s in spans)


def per_layer(tracer) -> dict:
    queries = spans_named(tracer, "query")
    on = [q for q in queries if q.traced]
    off = [q for q in queries if not q.traced]
    n_q, n_on = max(1, len(queries)), max(1, len(on))
    hits = sum(q.hits for q in queries)

    builds = spans_named(tracer, "build.index")
    verify = 0.0
    for b in builds:
        first = min((c.start for c in b.children
                     if c.name == "build.analyze_pages"), default=b.start)
        verify += first - b.start
    segs = spans_named(tracer, "segments.build")
    adds = spans_named(tracer, "merge.add_generation")
    wands = _under(on, "wand.topk")
    opens = _under(on, "index.open")
    batches = spans_named(tracer, "exec.msearch_batch")

    overhead = 100 * (statistics.median(q.duration for q in on)
                      / statistics.median(q.duration for q in off) - 1) \
        if on and off else 0.0
    return {
        "extract.verify_s": verify,
        "build.analyze_pages_s": _dur(_under(builds, "build.analyze_pages")),
        "build.write_s": _dur(_under(builds, "build.run_jobs")),
        "build.jobs": inclusive(builds, "jobs"),
        "build.tasks": inclusive(builds, "tasks"),
        "build.shuffle_write_bytes": inclusive(builds, "shuffle_write_bytes"),
        "build.output_bytes": inclusive(builds, "output_bytes"),
        "segments.build_s": _dur(segs),
        "segments.shuffle_write_bytes": inclusive(segs,
                                                  "shuffle_write_bytes"),
        "segments.output_bytes": inclusive(segs, "output_bytes"),
        "merge.add_generation_s": _dur(adds),
        "index.open_s": _dur(opens) / n_on,
        "index.jobs_per_query": inclusive(opens, "jobs") / n_on,
        "exec.plan_s": sum(s.self_time for s in _under(on, "exec.search"))
        / n_on,
        "exec.execute_s": _dur(_under(queries, "exec.execute")) / n_q,
        "exec.jobs_per_query": inclusive(queries, "jobs") / n_q,
        "exec.tasks_per_query": inclusive(queries, "tasks") / n_q,
        "exec.input_records_per_hit": inclusive(queries, "input_records")
        / max(1, hits),
        "exec.shuffle_read_bytes_per_query":
            inclusive(queries, "shuffle_read_bytes") / n_q,
        "segments.postings_for_s":
            _dur(_under(on, "segments.postings_for")) / n_on,
        "wand.topk_s": _dur(wands) / n_on,
        "wand.jobs_per_query": inclusive(wands, "jobs") / n_on,
        "exec.msearch_s": _dur(batches) / max(1, len(batches)),
        "exec.msearch_jobs_per_batch": inclusive(batches, "jobs")
        / max(1, len(batches)),
        "trace.overhead_pct": overhead,
    }
