#!/usr/bin/env python3
"""Self-test of the benchmark's timers and traced chain.

    python3 perfbench/selftest.py

Run from the root of a checkout; prints one line per check and exits 1 if
any fails. It shows that

1. the timed ER jobs compute every output column: the SQL executions of
   an ``er_lean`` job and of an ``er_fold`` cycle keep the Python UDF
   nodes (``MapInPandas`` extraction, ``ArrowEvalPython`` JW scoring),
   and the closing aggregate hashes every output column;
2. the forcing action evaluates ``quality_score``'s quality expression,
   and the same test rejects a ``.count()``, whose plan prunes it;
3. the traced extract → blocking → scoring → components → assign chain
   reproduces ``run_lean``'s cluster hash, and the star-round components
   give the union-find clustering.
"""

from __future__ import annotations

import os
import re
import sys

import run as RUN

PAGES = 600


def executions(spark, group: str) -> list[str]:
    """Physical plans of the SQL executions run under ``group``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    plans = []
    for i in range(ex.size()):
        e = ex.apply(i)
        if e.description() == group:
            plans.append(e.physicalPlanDescription())
    return plans


def run_in_group(spark, group: str, fn):
    import probes as TR

    spark.sparkContext.setJobGroup(group, group)
    try:
        return fn()
    finally:
        TR.clear_job_group(spark)


def hashes_all(plans: list[str], cols) -> bool:
    """Some plan computes xxhash64 over every one of ``cols``."""
    for plan in plans:
        for args in re.findall(r"xxhash64\(([^)]*)\)", plan):
            names = {a.strip().split("#")[0] for a in args.split(",")}
            if set(cols) <= names:
                return True
    return False


def main() -> int:
    work = os.path.join(RUN.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    RUN.prepare_env(work)
    import er as ER
    import probes as TR
    from textgraphs_spark.operators import textquality as TQ

    results = []

    def check(name: str, ok: bool) -> None:
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}", flush=True)

    spark = RUN.start_spark(len(os.sched_getaffinity(0)))
    try:
        path = os.path.join(work, "pages")
        ER.write_pages(spark, PAGES, 5, path, batches=(PAGES // 2, PAGES // 6))
        pages = spark.read.parquet(path)
        docs = ER.docs_of(pages)

        _, _, lean = run_in_group(spark, "selftest/lean",
                                  lambda: ER.lean_job(spark, docs))
        plans = executions(spark, "selftest/lean")
        check("er_lean job keeps the extraction MapInPandas",
              any("MapInPandas" in p for p in plans))
        check("er_lean job keeps the JW ArrowEvalPython UDF",
              any("ArrowEvalPython" in p for p in plans))
        check("er_lean job hashes every assignment column",
              hashes_all(plans, ER.ASSIGN_COLS))

        batches = ER.fold_batches(spark, path)
        run_in_group(spark, "selftest/fold", lambda: ER.fold_cycle(
            spark, batches, os.path.join(work, "fold")))
        plans = executions(spark, "selftest/fold")
        check("er_fold cycle keeps the extraction MapInPandas",
              any("MapInPandas" in p for p in plans))
        check("er_fold cycle keeps the JW ArrowEvalPython UDF",
              any("ArrowEvalPython" in p for p in plans))
        check("er_fold cycle writes its stage tables",
              any("InsertIntoHadoopFsRelationCommand" in p for p in plans))
        check("er_fold cycle hashes every snapshot column",
              hashes_all(plans, ER.ASSIGN_COLS))

        quality = TQ.quality_score(docs)
        run_in_group(spark, "selftest/quality", lambda: ER.materialize(quality))
        run_in_group(spark, "selftest/quality_count", quality.count)

        def evaluates_quality(group: str) -> bool:
            # the stopword-ratio term only exists inside quality_score's
            # expressions; a pruned plan never computes it
            return any("array_intersect" in p for p in executions(spark, group))

        check("materialize evaluates quality_score's quality expression",
              evaluates_quality("selftest/quality"))
        check("the same test rejects .count() (its plan prunes the expression)",
              not evaluates_quality("selftest/quality_count"))

        tracer = TR.Tracer(spark, "selftest")
        _, traced = ER.lean_traced(spark, docs, PAGES, tracer)
        check("traced chain reproduces run_lean's cluster hash",
              traced["cluster_hash"] == lean["cluster_hash"]
              and traced["row_hash"] == lean["row_hash"])
        check("star-round components give the union-find clustering",
              traced["stars_equal"])
        check("every layer span was recorded",
              [s["name"] for s in tracer.spans] == [
                  "extract", "blocking", "scoring", "components", "assign",
                  "components_stars"])
    finally:
        RUN.stop_spark(spark)
        RUN.cleanup(work)
    print(f"{sum(results)}/{len(results)} checks passed")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
