"""The ER workloads: input generation, the timed jobs, the traced layer
chain, and the output checks.

Inputs come from ``sources.pages.synth_pages`` with the workload seed and
are materialized to parquet during set-up; the program only ever sees
``(doc_id, text)`` read back from that parquet. The generator's truth
column stays on the benchmark's side and feeds ``pairwise_f1``.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import statistics
import time
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from textgraphs_spark.operators import components as C
from textgraphs_spark.operators import scoring as S
from textgraphs_spark.operators.blocking import block_keys
from textgraphs_spark.plans.er_pipeline import (
    ERPipeline, blocking_pairs, entity_aggregate,
)
from textgraphs_spark.sources.pages import synth_pages
from textgraphs_spark.streaming.er import er_fold_batch, read_current

ASSIGN_COLS = ("entity_key", "cluster_id", "surface", "label",
               "mention_count", "doc_freq")
ENTITY_COLS = ("entity_key", "surface", "label", "mention_count", "doc_freq")

# er_lean: one run_lean job over this many pages, default config
LEAN_PAGES = 6000
# warm-up: small jobs back to back for this long, then one full-size
# job; the JIT needs several jobs before a job's wall time stops falling
LEAN_WARM_PAGES = 1000
LEAN_WARM_SECONDS = 5
# er_fold: a bootstrap batch, then disjoint update batches
FOLD_BOOT_PAGES = 3000
FOLD_BATCH_PAGES = 600
FOLD_UPDATES = 2
FOLD_PAGES = FOLD_BOOT_PAGES + FOLD_UPDATES * FOLD_BATCH_PAGES
# salting engages at this size only below the default cap of 200; the
# cap keeps the salted update() path (and its known divergence from the
# one-shot run) in the measured fold
FOLD_MAX_BLOCK = 30

_SALTED_RE = re.compile(r"salted blocking engaged: (\d+)")


# -- forcing the full output ------------------------------------------------

def materialize(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """Compute every row and column of ``df`` and summarize it in one pass.

    ``localCheckpoint`` materializes the full output; the aggregate then
    hashes every column of the checkpoint, so no column of the plan can
    be pruned. Returns the checkpoint and {rows, row_hash, **aggs}.
    """
    cp = df.localCheckpoint()
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = cp.agg(
        F.count("*").alias("rows"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("row_hash"),
        *(col.alias(name) for name, col in aggs.items()),
    ).collect()[0]
    return cp, {k: int(v or 0) for k, v in row.asDict().items()}


def finish(df: DataFrame) -> tuple[DataFrame, dict]:
    """``materialize`` an assignment frame, adding its cluster hash
    (over entity_key, cluster_id) and cluster count."""
    return materialize(
        df,
        cluster_hash=F.expr("bit_xor(xxhash64(entity_key, cluster_id))"),
        clusters=F.countDistinct("cluster_id"),
    )


def assignment_hashes(df: DataFrame) -> list[int]:
    """[all-column hash, cluster hash] of an assignment frame."""
    cols = ", ".join(ASSIGN_COLS)
    row = df.agg(
        F.expr(f"bit_xor(xxhash64({cols}))"),
        F.expr("bit_xor(xxhash64(entity_key, cluster_id))"),
    ).collect()[0]
    return [int(v or 0) for v in row]


def entity_hash(df: DataFrame) -> int:
    return int(df.agg(
        F.expr(f"bit_xor(xxhash64({', '.join(ENTITY_COLS)}))")
    ).collect()[0][0] or 0)


def salted_blocks(records) -> int:
    return sum(
        int(m.group(1)) for w in records
        if (m := _SALTED_RE.search(str(w.message)))
    )


# -- inputs -------------------------------------------------------------------

def write_pages(spark: SparkSession, n: int, seed: int, path: str,
                batches: tuple[int, int] | None = None) -> None:
    """Generate ``n`` pages from ``seed`` and write (doc_id, text, truth)
    to ``path``. With ``batches=(n0, n1)`` rows also get a ``batch``
    column: the first n0 pages in doc_id order are batch 0, then n1 per
    batch."""
    pages = synth_pages(spark, n, seed=seed,
                        partitions=2 * spark.sparkContext.defaultParallelism)
    out = pages.select(F.xxhash64("url").alias("doc_id"), "text", "truth")
    if batches:
        n0, n1 = batches
        i = F.row_number().over(Window.orderBy("doc_id")) - 1
        out = out.withColumn(
            "batch",
            F.when(i < n0, F.lit(0)).otherwise(F.floor((i - n0) / n1) + 1),
        )
    out.write.mode("overwrite").parquet(path)


def input_hash(spark: SparkSession, path: str) -> int:
    """Hash over every column of the pages written to ``path``."""
    pages = spark.read.parquet(path)
    cols = ", ".join(f"`{c}`" for c in pages.columns)
    return int(pages.agg(F.expr(f"bit_xor(xxhash64({cols}))")).collect()[0][0] or 0)


def docs_of(pages: DataFrame) -> DataFrame:
    """The program's input: only (doc_id, text)."""
    return pages.select("doc_id", "text")


def pairwise_f1(pages: DataFrame, assignments: DataFrame) -> dict:
    """Pairwise F1 of a clustering against the generator's truth, on
    labeled surface pairs sharing a name block key (the labeled-pair
    protocol of ``bench.py``'s engage run)."""
    surfaces = (
        pages.select(F.explode("truth").alias("t"))
        .groupBy(F.col("t.surface").alias("surface"))
        .agg(F.min("t.entity_id").alias("entity_id"))
    )
    keyed = block_keys(
        surfaces.join(assignments.select("surface", "cluster_id"), "surface")
    )
    a = keyed.select("block_key", F.col("surface").alias("ls"),
                     F.col("entity_id").alias("le"), F.col("cluster_id").alias("lc"))
    b = keyed.select("block_key", F.col("surface").alias("rs"),
                     F.col("entity_id").alias("re"), F.col("cluster_id").alias("rc"))
    s = (
        a.join(b, "block_key").filter(F.col("ls") < F.col("rs"))
        .select((F.col("le") == F.col("re")).cast("int").alias("m"),
                (F.col("lc") == F.col("rc")).cast("int").alias("p"))
        .agg(F.sum(F.col("m") * F.col("p")).alias("tp"),
             F.sum((1 - F.col("m")) * F.col("p")).alias("fp"),
             F.sum(F.col("m") * (1 - F.col("p"))).alias("fn"))
        .collect()[0]
    )
    tp, fp, fn = s["tp"] or 0, s["fp"] or 0, s["fn"] or 0
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": int(tp), "fp": int(fp), "fn": int(fn), "f1": f1}


# -- er_lean -------------------------------------------------------------------

def lean_job(spark: SparkSession, docs: DataFrame) -> tuple[float, DataFrame, dict]:
    """One untraced ``run_lean`` job, input to forced full output."""
    t0 = time.perf_counter()
    pipe = ERPipeline(spark)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        cp, summary = finish(pipe.run_lean(docs))
    wall = time.perf_counter() - t0
    summary["cc"] = dict(pipe.cc_stats)
    summary["salted_blocks"] = salted_blocks(rec)
    return wall, cp, summary


def lean_traced(spark: SparkSession, docs: DataFrame, n_docs: int, tracer) -> tuple[dict, dict]:
    """The ``run_lean`` chain, one public layer call per span, each
    layer's output materialized before the next starts. Returns
    (per-layer metrics, summary of the final assignments)."""
    pipe = ERPipeline(spark)
    m: dict = {}
    with tracer.span("extract") as s_ext:
        ents = entity_aggregate(docs)  # localCheckpoints its output
    with tracer.span("blocking") as s_blk:
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            t0 = time.perf_counter()
            pairs = blocking_pairs(
                ents, use_minhash=pipe.use_minhash,
                hash_family=pipe.hash_family,
                max_block_size=pipe.max_block_size,
            )
            build_s = time.perf_counter() - t0
        pairs = pairs.localCheckpoint()
    with tracer.span("scoring") as s_sc:
        n_parts = spark.sparkContext.defaultParallelism * 2
        scores = S.score_pairs(pairs.repartition(n_parts), lean=True)
        match = (scores.filter(F.col("match"))
                 .select("left_id", "right_id", "score").localCheckpoint())
    edges = match.select("left_id", "right_id")
    cc: dict = {}
    with tracer.span("components") as s_cc:
        clusters = C.components_over_keys(
            edges, small_graph_threshold=pipe.small_graph_threshold, stats=cc,
        ).localCheckpoint()
    with tracer.span("assign") as s_as:
        assignments = (
            ents.join(clusters, "entity_key", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
            .select(*ASSIGN_COLS)
        )
        _, summary = finish(assignments)
    # the distributed star-round path on the same edges: a second
    # measurement of the components layer, and a check that both paths
    # give the same clustering
    stars: dict = {}
    with tracer.span("components_stars", parent="components") as s_st:
        star_clusters = C.components_over_keys(
            edges, small_graph_threshold=0, stats=stars).localCheckpoint()
    uf_hash = clusters.agg(F.expr("bit_xor(xxhash64(entity_key, cluster_id))")).collect()[0][0]
    st_hash = star_clusters.agg(F.expr("bit_xor(xxhash64(entity_key, cluster_id))")).collect()[0][0]

    n_ents, n_pairs, n_match = ents.count(), pairs.count(), match.count()
    m.update({
        "extract.wall_s": s_ext["wall_s"],
        "extract.cpu_s": s_ext["cpu_s"],
        "extract.run_s": s_ext["run_s"],
        "extract.shuffle_write_mb": s_ext["shuffle_write_mb"],
        "extract.docs_in": n_docs,
        "extract.entities_out": n_ents,
        "blocking.build_s": build_s,
        "blocking.exec_s": s_blk["wall_s"] - build_s,
        "blocking.cpu_s": s_blk["cpu_s"],
        "blocking.shuffle_mb": s_blk["shuffle_read_mb"] + s_blk["shuffle_write_mb"],
        "blocking.spill_mb": s_blk["spill_mb"],
        "blocking.pairs_out": n_pairs,
        "blocking.pairs_per_entity": n_pairs / n_ents if n_ents else 0.0,
        "blocking.salted_blocks": salted_blocks(rec),
        "scoring.wall_s": s_sc["wall_s"],
        "scoring.cpu_s": s_sc["cpu_s"],
        "scoring.pairs_in": n_pairs,
        "scoring.match_edges": n_match,
        "scoring.match_rate": n_match / n_pairs if n_pairs else 0.0,
        "components.wall_s": s_cc["wall_s"],
        "components.cpu_s": s_cc["cpu_s"],
        "components.shuffle_mb": s_cc["shuffle_read_mb"] + s_cc["shuffle_write_mb"],
        "components.edges": cc.get("edges", 0),
        "components.rounds": cc.get("rounds", 0),
        "components.stars_wall_s": s_st["wall_s"],
        "assign.wall_s": s_as["wall_s"],
        "assign.rows_out": summary["rows"],
    })
    summary["layer_wall_s"] = sum(
        s["wall_s"] for s in (s_ext, s_blk, s_sc, s_cc, s_as))
    summary["cc"] = cc
    summary["stars"] = stars
    summary["stars_equal"] = uf_hash == st_hash
    return m, summary


# -- er_fold --------------------------------------------------------------------

def fold_batches(spark: SparkSession, path: str) -> list[DataFrame]:
    pages = spark.read.parquet(path)
    return [docs_of(pages.filter(F.col("batch") == b)) for b in range(FOLD_UPDATES + 1)]


def fold_cycle(spark: SparkSession, batches: list[DataFrame], workdir: str,
               tracer=None) -> tuple[float, list[float], DataFrame, dict]:
    """Fold every batch into a fresh workdir through ``er_fold_batch``:
    batch 0 bootstraps the staged ``run()``, the rest go through
    ``update()``. Returns (wall, per-fold walls, final snapshot
    checkpoint, its summary); the wall is the folds plus the read and
    hash of the final snapshot.

    Between folds, outside the timed folds, each committed snapshot's
    assignments are hashed (``summary["snapshot_hashes"]``). With a
    ``tracer``, each fold is a span, and the snapshot's ``lineage``
    table, size and entity count are read as well.
    """
    shutil.rmtree(workdir, ignore_errors=True)
    folds, hashes, snapshots = [], [], []
    for b, df in enumerate(batches):
        span = (tracer.span("staged" if b == 0 else "update") if tracer
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        with span:
            er_fold_batch(df, b, workdir, max_block_size=FOLD_MAX_BLOCK)
        folds.append(time.perf_counter() - t0)
        snap = f"{workdir}/v{b}"
        hashes.append(assignment_hashes(spark.read.parquet(f"{snap}/assignments")))
        if tracer:
            snapshots.append({
                "entities": spark.read.parquet(f"{snap}/entities").count(),
                "lineage": read_lineage(spark, f"{snap}/lineage"),
                "bytes": dir_bytes(snap),
            })
    t0 = time.perf_counter()
    cp, summary = finish(read_current(spark, workdir))
    wall = sum(folds) + time.perf_counter() - t0
    summary["snapshot_hashes"] = hashes
    summary["snapshots"] = snapshots
    return wall, folds, cp, summary


def fold_layers(tracer, snapshots: list[dict]) -> dict:
    """Per-layer metrics of a traced fold cycle: the bootstrap's
    ``lineage`` rows and snapshot size, and the update spans."""
    m: dict = {}
    lineage = snapshots[0]["lineage"]
    for stage in ("extracted", "entities", "pairs", "scores", "clusters", "assignments"):
        row = lineage.get(stage, {})
        m[f"staged.{stage}.seconds"] = float(row.get("seconds", 0.0))
        m[f"staged.{stage}.rows"] = int(row.get("rows", 0))
        m[f"staged.{stage}.skew"] = float(row.get("skew", 0.0))
    m["staged.bytes_written_mb"] = snapshots[0]["bytes"] / (1024.0 * 1024.0)
    ups = [s for s in tracer.spans if s["name"] == "update"]
    m["update.wall_s"] = statistics.median(s["wall_s"] for s in ups)
    m["update.cpu_s"] = statistics.median(s["cpu_s"] for s in ups)
    m["update.shuffle_mb"] = statistics.median(
        s["shuffle_read_mb"] + s["shuffle_write_mb"] for s in ups)
    m["update.fresh_keys"] = statistics.median(
        b["entities"] - a["entities"] for a, b in zip(snapshots, snapshots[1:]))
    return m


def read_lineage(spark: SparkSession, path: str) -> dict:
    return {r["stage"]: r.asDict() for r in spark.read.parquet(path).collect()}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def oneshot_salted(spark: SparkSession, docs: DataFrame) -> tuple[DataFrame, dict]:
    """The one-shot salted ``run_lean`` over every fold page, with the
    fold's block cap: the reference the fold should equal."""
    return finish(ERPipeline(spark, max_block_size=FOLD_MAX_BLOCK).run_lean(docs))
