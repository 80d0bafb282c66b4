"""The query-driver layer: entries of ``__spark_entry__.queries()``.

The suite holds the entries whose inputs come from the repository's own
deterministic generators in ``sources.pages`` (they ignore ``sf_dir``),
so they need no data outside the checkout and the seed does not apply.
Together they reach the non-ER operators: text-quality rules, paragraph
and URL dedup, capture diffing, the mirror-farm components kernel and
the graph-distance entity pairs.
"""

from __future__ import annotations

import contextlib
import time

import er as ER

SUITE = ("quality_gopher", "dedup_paragraphs", "url_dedup", "capture_drift",
         "mirror_farms", "entity_pairs")


def run_suite(spark, tracer=None) -> dict[str, dict]:
    """Build each suite query (plan construction plus any eager jobs),
    then execute it to its full output. With a ``tracer`` each query is
    a span. Returns {query: {build_s, exec_s, rows}}."""
    import __spark_entry__ as entry

    queries = entry.queries()
    out = {}
    for name in SUITE:
        span = tracer.span(f"queries.{name}") if tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            df = queries[name](spark, None)
            t1 = time.perf_counter()
            _, summary = ER.materialize(df)
            t2 = time.perf_counter()
        out[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "rows": summary["rows"]}
    return out


def suite_layers(runs: dict[str, dict]) -> dict:
    """Per-layer metrics of one suite pass."""
    m = {}
    for name, r in runs.items():
        m[f"queries.{name}.build_s"] = r["build_s"]
        m[f"queries.{name}.exec_s"] = r["exec_s"]
    m["queries.suite_build_s"] = sum(r["build_s"] for r in runs.values())
    m["queries.suite_exec_s"] = sum(r["exec_s"] for r in runs.values())
    return m
