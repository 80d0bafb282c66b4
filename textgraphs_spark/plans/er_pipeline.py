"""The flagship plan: pages/documents → entity clusters.

This is the reference's extraction + entity-linking pipeline
(reference: textgraphs/doc.py:381-560, kg.py:306-367, 851-1142) re-expressed
as the north-star record-linkage job:

    extract (mapInPandas, flat (doc, entity) mention rows)
      → distinct entity surface forms          (vocabulary-sized, not corpus-sized)
      → blocking (normalized keys + MinHash-LSH, salted for skew)
      → pairwise scoring (batched JW inside Arrow UDFs)
      → match edges (score >= min_similarity, reference defaults.py:14)
      → transitive clustering (large-star/small-star connected components)
      → clusters + per-cluster ranked members

Stage boundaries write parquet checkpoints (mirroring the reference's own
dump/load round-trip as its resume mechanism, graph.py:236-392) and append
to two audit tables under the workdir — ``lineage`` (per stage: rows,
partitions, max-partition rows, skew ratio, wall seconds) and ``metrics``
(per stage x partition: row count) — the north rule's "resumable from
checkpoint with per-partition lineage + metrics".

``run()``'s ``extracted`` stage is the flat ``extract_entities`` table, not
per-doc lemma graphs: clustering reads nothing else. ``ranked_clusters``
stages nested graph rows under that name; each refuses the other's workdir.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking as B
from ..operators import components as C
from ..operators import scoring as S
from ..operators.extract import (
    ENTITY_SCHEMA, EXTRACT_SCHEMA, corpus_edges, extract_entities, extract_graphs,
    nodes_table,
)
from ..sources import tables as TBL
from .staged import StagedPipeline


def _aggregate_entities(rows: DataFrame) -> DataFrame:
    """(doc, node_key, surface, label, count) rows, one per (doc, key)
    → the entity aggregate: mention_count sums the per-doc counts,
    doc_freq counts the (doc, key) rows."""
    return rows.groupBy(F.col("node_key").alias("entity_key")).agg(
        # min, not first: the canonical surface of a key must be
        # deterministic across partitionings (and reproducible by the
        # SQL oracle) — first() depends on shuffle order
        F.min("surface").alias("surface"),
        F.min("label").alias("label"),
        F.sum("count").alias("mention_count"),
        F.count("*").alias("doc_freq"),
    )


def entity_aggregate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    include_lemmas: bool = False,
    checkpoint: bool = True,
) -> DataFrame:
    """docs → the vocabulary-sized entity aggregate (entity_key, surface,
    label, mention_count, doc_freq) the whole ER stack runs on: one
    extraction pass, one hash aggregation on the entity key.

    ``checkpoint=True`` (the pipeline default) localCheckpoints the
    result: it truncates lineage so every downstream plan reads the
    materialized partitions — plain ``.persist()`` can miss cache
    substitution across mapInPandas lineage and silently recompute the
    whole extraction. Single-consumer callers (diagnostics queries) pass
    ``checkpoint=False`` to stay fully lazy.
    """
    agg = _aggregate_entities(
        extract_entities(docs, id_col, text_col, include_lemmas=include_lemmas)
    )
    return agg.localCheckpoint() if checkpoint else agg


def blocked_keys(
    entities: DataFrame,
    *,
    use_minhash: bool = True,
    hash_family: str = "md5",
    use_skeleton: bool = False,
) -> DataFrame:
    """entities(entity_key, surface, ...) → (entity_key, surface,
    channel, bkey): one row per blocking-key membership across every
    channel — ``channel`` is ``'name'`` (normalized last token + first
    initial) or ``'minhash'`` (LSH band keys over the normalized
    surface). This is the pre-salting block table ``blocking_pairs``
    self-joins; exposed so diagnostics (plans/er_eval.blocking_stats)
    describe the EXACT blocks the pipeline builds.
    """
    keyed = B.block_keys(entities)
    chans = [
        keyed.select(
            "entity_key", "surface",
            F.lit("name").alias("channel"),
            F.col("block_key").alias("bkey"),
        )
    ]
    if use_minhash:
        mh = B.minhash_band_keys(
            keyed, "entity_key", "norm", carry_cols=("surface",),
            hash_family=hash_family,
        )
        chans.append(
            mh.select(
                "entity_key", "surface",
                F.lit("minhash").alias("channel"),
                F.concat_ws("|", F.lit("mh"), "band_id", "band_key").alias("bkey"),
            )
        )
    if use_skeleton:
        # opt-in third channel (off by default: the shipped clustering
        # oracles pin the two-channel candidate set): order-invariant
        # devoweled key — recovers reversed and vowel-transposed variants
        chans.append(
            keyed.select(
                "entity_key", "surface",
                F.lit("skeleton").alias("channel"),
                F.concat_ws("|", F.lit("sk"), B.skeleton_key("norm")).alias("bkey"),
            )
        )
    blocked = chans[0]
    for c in chans[1:]:
        blocked = blocked.unionByName(c)
    return blocked


def blocking_pairs(
    entities: DataFrame,
    *,
    use_minhash: bool = True,
    hash_family: str = "md5",
    max_block_size: int = 200,
) -> DataFrame:
    """entities(entity_key, surface, ...) → distinct candidate pairs via
    every blocking channel: the normalized-name block key (last token +
    first initial) UNION MinHash-LSH band keys over the normalized
    surface, salted above ``max_block_size`` (blocking.candidate_pairs).

    Module-level so the evaluation operators (plans/er_eval) measure the
    EXACT candidate set the pipeline clusters from — ERPipeline methods
    delegate here.
    """
    blocked = blocked_keys(
        entities, use_minhash=use_minhash, hash_family=hash_family
    ).drop("channel")
    return B.candidate_pairs(
        blocked, key_col="bkey", id_col="entity_key",
        max_block_size=max_block_size,
    )


class ERPipeline(StagedPipeline):
    """Checkpointed entity-resolution run rooted at ``workdir``.

    Re-running with the same workdir resumes: any stage whose parquet
    output already exists is read back instead of recomputed.
    Checkpoint/lineage mechanics live in plans.staged.StagedPipeline.
    """

    def __init__(self, spark: SparkSession, workdir: str | None = None, *,
                 min_similarity: float = S.MIN_SIMILARITY,
                 max_block_size: int = 200,
                 use_minhash: bool = True,
                 hash_family: str = "md5",
                 include_lemmas: bool = False,
                 small_graph_threshold: int = 500_000):
        super().__init__(spark, workdir)
        self.min_similarity = min_similarity
        self.max_block_size = max_block_size
        self.use_minhash = use_minhash
        # md5 family: one md5 per shingle instead of 16 seeded xxhash64
        # calls, and the band keys are bit-reproducible by the SQL oracle
        self.hash_family = hash_family
        # include NOUN/PROPN lemma mentions as resolvable entities —
        # for corpora whose text has no NER surface forms
        self.include_lemmas = include_lemmas
        # CC size-adaptive cutover: below this many match edges the
        # clustering runs as a driver union-find; 0 forces the
        # distributed large-star/small-star rounds (engage-scale proof
        # runs and clusters-at-10^12 both take that path). Execution
        # evidence for the most recent clustering lands in
        # ``self.cc_stats`` (path, edges, rounds).
        self.small_graph_threshold = small_graph_threshold
        self.cc_stats: dict = {}

    # -- stages ------------------------------------------------------------
    def _blocking_pairs(self, entities: DataFrame) -> DataFrame:
        """entities → candidate pairs via every blocking channel.

        The ONE definition of the blocking strategy — run(), run_lean(),
        update(), and the standalone evaluation operators (plans/er_eval)
        all route through module-level ``blocking_pairs``, so no path can
        silently diverge from the batch pipeline.
        """
        return blocking_pairs(
            entities,
            use_minhash=self.use_minhash,
            hash_family=self.hash_family,
            max_block_size=self.max_block_size,
        )

    def _extracted_stage(self, build, schema) -> DataFrame:
        """The ``extracted`` stage, refusing to resume a table of another
        shape: run() and ranked_clusters() stage different extractions
        under this name."""
        df = self._stage("extracted", build)
        if df.columns != schema.fieldNames():
            raise ValueError(
                f"stage {os.path.join(self.workdir, 'extracted')} has columns "
                f"{df.columns}, expected {schema.fieldNames()}: it was written "
                "by another entry point or an older version; use a fresh workdir"
            )
        return df

    def run(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict[str, DataFrame]:
        # distinct entity surface forms; the lemma key IS the seed identity
        # (same key => same node, graph.py:134-137)
        extracted = self._extracted_stage(
            lambda: extract_entities(docs, id_col, text_col,
                                     include_lemmas=self.include_lemmas),
            ENTITY_SCHEMA,
        )
        entities = self._stage("entities", lambda: _aggregate_entities(extracted))

        pairs = self._stage("pairs", lambda: self._blocking_pairs(entities))

        n_score_parts = self.spark.sparkContext.defaultParallelism * 2
        scores = self._stage(
            "scores", lambda: S.score_pairs(pairs.repartition(n_score_parts))
        )

        match_edges = scores.filter(F.col("match")).select("left_id", "right_id")

        clusters = self._stage("clusters", lambda: C.components_over_keys(
            match_edges,
            small_graph_threshold=self.small_graph_threshold,
            stats=self.cc_stats,
        ))

        # every entity gets a cluster; unmatched entities are singletons
        assignments = self._stage("assignments", lambda: (
            entities.join(clusters, "entity_key", "left")
            .withColumn(
                "cluster_id", F.coalesce("cluster_id", F.col("entity_key"))
            )
            .select("entity_key", "cluster_id", "surface", "label",
                    "mention_count", "doc_freq")
        ))

        self.write_lineage()
        return {
            "extracted": extracted,
            "entities": entities,
            "pairs": pairs,
            "scores": scores,
            "clusters": assignments,
        }


    def run_lean(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        *, entities: DataFrame | None = None, return_parts: bool = False,
    ) -> DataFrame | dict[str, DataFrame]:
        """Throughput-path variant: one lazy DAG, no per-stage counts.

        ``return_parts=True`` returns {entities, match_scores,
        assignments} instead of just the assignment frame — the
        evaluation operators (plans/er_eval.cluster_cohesion) need the
        per-edge match scores that the plain path discards.

        Extraction feeds the vocabulary-sized ``entities`` aggregate, which
        is the only thing persisted — it is reused by both blocking
        channels and the final assignment join, so extraction runs exactly
        once while everything downstream operates on a table ~4 orders of
        magnitude smaller than the corpus. This is the shape that matters
        at 10^12 docs: the corpus is touched once, in one pass.

        Pass ``entities`` (entity_key, surface, label, mention_count,
        doc_freq) to skip extraction — for callers that already hold the
        aggregate from a shared extraction pass.
        """
        if entities is None:
            entities = entity_aggregate(
                docs, id_col, text_col, include_lemmas=self.include_lemmas
            )
        pairs = self._blocking_pairs(entities)
        # respread before the scoring UDF: AQE coalesces shuffles by BYTE
        # size, but a Python-UDF stage is compute-bound per ROW — a few MB
        # of pairs is minutes of scoring, and a byte-coalesced single
        # partition would run it serially on one core
        n_score_parts = self.spark.sparkContext.defaultParallelism * 2
        scores = S.score_pairs(pairs.repartition(n_score_parts), lean=True)
        # checkpoint: match edges are read twice downstream (id mapping +
        # the CC iterations) — never re-run the scoring UDF. The score
        # column rides along (one double per MATCH edge — a vocabulary-
        # scale table) so evaluation operators can audit cluster cohesion
        # without re-scoring.
        match_scores = (
            scores.filter(F.col("match"))
            .select("left_id", "right_id", "score")
            .localCheckpoint()
        )
        match_edges = match_scores.select("left_id", "right_id")
        clusters = C.components_over_keys(
            match_edges,
            small_graph_threshold=self.small_graph_threshold,
            stats=self.cc_stats,
        )
        assignments = (
            entities.join(clusters, "entity_key", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
            .select("entity_key", "cluster_id", "surface", "label", "mention_count", "doc_freq")
        )
        if return_parts:
            return {
                "entities": entities,
                "match_scores": match_scores,
                "assignments": assignments,
            }
        return assignments


    def update(self, new_docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", *,
               state_from: str | None = None) -> DataFrame:
        """Incrementally fold a NEW batch of documents into an existing
        clustering (the continuously-crawled-corpus path).

        Only pairs touching a previously-unseen surface form are scored:
        old-old pair decisions are fully encoded by the prior clustering
        (match scores depend on surfaces alone, and the old assignment
        rows double as edges — ``cluster_id`` is the min member key, so
        (xxhash64(key), xxhash64(cluster_id)) lives in the same id space
        as new match edges). Connected components over old-assignment edges +
        new match edges then merges clusters transitively, so a new
        bridging form can correctly fuse two old clusters.

        Work scales with |new batch| + |vocabulary|, never |old corpus|.
        Writes refreshed ``entities``/``assignments`` stages back to the
        workdir and returns the new assignments.

        ``state_from`` reads the PRIOR entities/assignments from a
        different directory than the one being written — the
        snapshot-isolation hook ``streaming.er`` folds through (each fold
        reads committed snapshot v(N) and writes v(N+1), so a crash
        mid-write can never corrupt readable state). Default (None) is
        the classic in-place refresh of ``self.workdir``.
        """
        from ..operators.components import connected_components, key_id128

        assert self.workdir, "update() needs the workdir of a prior run()"
        t0 = time.time()
        spark = self.spark
        src = state_from or self.workdir
        for stage in ("entities", "assignments"):
            if not TBL.stage_exists(spark, os.path.join(src, stage)):
                raise FileNotFoundError(
                    f"update() found no completed '{stage}' stage under "
                    f"{src} — run() must finish once before "
                    "incremental updates"
                )
        old_entities = TBL.read_table(spark, os.path.join(src, "entities"))
        old_assign = TBL.read_table(spark, os.path.join(src, "assignments"))

        # checkpointed: merged and fresh_keys both read it; extract once
        new_ents = entity_aggregate(new_docs, id_col, text_col,
                                    include_lemmas=self.include_lemmas)
        merged = (
            old_entities.unionByName(new_ents)
            .groupBy("entity_key")
            .agg(
                F.min("surface").alias("surface"),
                F.min("label").alias("label"),
                F.sum("mention_count").alias("mention_count"),
                F.sum("doc_freq").alias("doc_freq"),
            )
            .localCheckpoint()
        )
        fresh_keys = new_ents.join(old_entities, "entity_key", "left_anti") \
            .select("entity_key").localCheckpoint()

        pairs = self._blocking_pairs(merged)
        # only pairs with at least one fresh key need scoring
        fl = fresh_keys.select(F.col("entity_key").alias("left_id")) \
            .withColumn("_fl", F.lit(True))
        fr = fresh_keys.select(F.col("entity_key").alias("right_id")) \
            .withColumn("_fr", F.lit(True))
        touched = (
            pairs.join(fl, "left_id", "left").join(fr, "right_id", "left")
            .filter(F.col("_fl").isNotNull() | F.col("_fr").isNotNull())
            .drop("_fl", "_fr")
        )
        n_score_parts = spark.sparkContext.defaultParallelism * 2
        scores = S.score_pairs(touched.repartition(n_score_parts), lean=True)
        new_edges = scores.filter(F.col("match")).select(
            key_id128("left_id").alias("src"), key_id128("right_id").alias("dst")
        )
        # cluster_id is the min member KEY; hashing it lands in the same
        # 128-bit id space as the entity-key hashes, so an old assignment
        # row (key -> cluster_id) doubles as a CC edge
        old_edges = old_assign.select(
            key_id128("entity_key").alias("src"), key_id128("cluster_id").alias("dst")
        )
        cc = connected_components(
            old_edges.unionByName(new_edges).localCheckpoint(),
            small_graph_threshold=self.small_graph_threshold,
            stats=self.cc_stats,
        )
        with_comp = (
            merged.withColumn("_id", key_id128("entity_key"))
            .join(cc, F.col("_id") == F.col("node"), "left")
            .withColumn("_comp", F.coalesce("component", F.col("_id")))
        )
        # relabel components with the min member key — identical contract
        # to components_over_keys, so update() output == a full-batch run
        # while no block exceeds max_block_size. Once salting engages they
        # can diverge: old-old pairs come from the block's earlier sharding.
        canon = with_comp.groupBy("_comp").agg(F.min("entity_key").alias("cluster_id"))
        assignments = (
            with_comp.join(canon, "_comp")
            .select("entity_key", "cluster_id", "surface", "label",
                    "mention_count", "doc_freq")
            .localCheckpoint()
        )
        # refresh the resumable state. Direct overwrite is safe — both
        # DataFrames are localCheckpoint'ed above, so their lineage no
        # longer reads the paths being replaced — and it works on any
        # Hadoop filesystem (hdfs://, s3a://), unlike driver-local
        # rmtree/rename.
        for stage, df in (("entities", merged), ("assignments", assignments)):
            TBL.write_table(df, os.path.join(self.workdir, stage))
        # drop the now-stale sibling stage checkpoints: a later run() on
        # this workdir must never resume pre-update extracted/pairs/scores/
        # clusters outputs against post-update entities. Hadoop FS API so
        # DFS workdirs (hdfs://, s3a://) are handled, not just local paths.
        for stage in ("extracted", "pairs", "scores", "clusters"):
            TBL.drop_stage(spark, os.path.join(self.workdir, stage))
        part_rows = (
            assignments.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        n = sum(r.rows for r in part_rows)
        n_parts = max(len(part_rows), 1)
        max_rows = max((r.rows for r in part_rows), default=0)
        ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        self._metrics.extend(
            {"stage": "update", "partition_id": r.partition_id, "rows": r.rows, "ts": ts}
            for r in part_rows
        )
        self._lineage.append({
            "stage": "update", "rows": n,
            "n_partitions": n_parts,
            "max_partition_rows": max_rows,
            "skew": round(max_rows * n_parts / n, 3) if n else 0.0,
            "seconds": round(time.time() - t0, 3),
            "ts": ts,
        })
        self.write_lineage()
        return assignments


def ranked_clusters(
    spark: SparkSession,
    docs: DataFrame,
    *,
    workdir: str | None = None,
    include_lemmas: bool = True,
    max_iter: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Clusters + per-cluster PageRank ranking, extraction-shape chosen
    by whether a ``workdir`` exists:

    * **staged** (``workdir`` set) — the corpus is scanned ONCE: the
      graph extraction, with only its nested ``nodes`` and ``edges``
      filled, materializes as the ``extracted`` checkpoint, and BOTH
      consumers (the entity aggregate feeding blocking→scoring→CC, and
      the lemma-edge table feeding PageRank) read that parquet back. The
      right shape at 10^12 docs, where re-reading the corpus is the
      dominant cost. A resumed run re-reads the stage; a workdir holding
      ``run()``'s flat ``extracted`` stage raises ``ValueError``.
    * **one-shot** (no workdir) — two lazy passes: the cheap flat entity
      extraction for clustering plus an edges-only graph extraction for
      ranking. Measured ~2x cheaper than materializing the nested graph
      rows in memory at sf0.1, where extraction is compute-, not
      IO-bound (see the er_ranked_clusters query note).

    Both paths emit identical values (same oracle hash): the entity
    aggregate from per-doc graph nodes equals ``extract_entities``'s —
    one row per (doc, key) with the same surface/label/count fields.
    """
    pipe = ERPipeline(spark, workdir, include_lemmas=include_lemmas)
    if workdir:
        extracted = pipe._extracted_stage(
            lambda: extract_graphs(docs, id_col, text_col, parts=("nodes", "edges")),
            EXTRACT_SCHEMA,
        )
        kind_pred = (
            (F.col("kind") == "ent")
            | (F.lit(include_lemmas) & (F.col("kind") == "lem")
               & F.col("pos").isin("NOUN", "PROPN"))
        )
        entities = _aggregate_entities(
            nodes_table(extracted).filter(kind_pred)
        ).localCheckpoint()
        assignments = pipe.run_lean(docs, entities=entities)
        edges_src = extracted
        pipe.write_lineage()
    else:
        assignments = pipe.run_lean(docs)
        edges_src = extract_graphs(docs, id_col, text_col, parts=("edges",))
    edges = corpus_edges(edges_src).select(
        F.col("src_key").alias("src"), F.col("dst_key").alias("dst"),
        F.col("count").alias("weight"),
    )
    return ranked_cluster_members(assignments, edges, max_iter=max_iter)


def ranked_cluster_members(
    assignments: DataFrame, lemma_edges: DataFrame, *, max_iter: int = 20
) -> DataFrame:
    """Rank the linked entities inside each cluster by PageRank over the
    aggregated lemma graph — the reference's TextRank phrase ranking
    (doc.py:927-933, α=0.85) re-expressed at corpus level: one iterative-
    join PageRank over the whole graph, then a per-cluster window rank.

    ``lemma_edges`` is the corpus edge table (src, dst, weight); nodes
    absent from the graph rank after all ranked members (rank mass 0).
    """
    from pyspark.sql.window import Window

    from ..operators.pagerank import pagerank

    pr = pagerank(lemma_edges, max_iter=max_iter)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("rank"), "entity_key"
    )
    return (
        assignments.join(
            pr.withColumnRenamed("node", "entity_key"), "entity_key", "left"
        )
        .withColumn("rank_in_cluster", F.row_number().over(w))
        .select(
            "cluster_id", "rank_in_cluster", "entity_key", "surface",
            F.round(F.coalesce("rank", F.lit(0.0)), 6).alias("rank"),
            "mention_count",
        )
    )


def cluster_summary(assignments: DataFrame) -> DataFrame:
    """Entity clusters with members and sizes — the flagship query answer.

    ``members`` is a pipe-joined sorted string (not array<string>): scalar
    columns survive any downstream canonicalizer/hasher, and the value is
    byte-identical to what an ANSI-SQL oracle can produce. Callers that
    want the array split on '|'.
    """
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_forms"),
            F.sum("mention_count").alias("n_mentions"),
            F.array_join(F.sort_array(F.collect_set("surface")), "|").alias("members"),
            F.max("mention_count").alias("max_mentions"),
        )
        .orderBy(F.desc("n_mentions"), "cluster_id")
    )
