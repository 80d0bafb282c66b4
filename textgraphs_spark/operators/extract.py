"""Distributed extraction: documents → per-doc lemma graphs, one Arrow pass.

The per-document work (parse, element collection, PageRank + restack) is the
reference's per-chunk pipeline (reference: textgraphs/doc.py:381-471,
893-937); here it runs inside ``mapInPandas`` so each Arrow batch of
documents is handled by one vectorized UDF invocation per partition —
documents are independent, so this scales linearly with executors.

Output is ONE nested row per document (mentions / nodes / edges / phrases as
array<struct> columns). Rationale at 100 TB:
  * a single parse per document (parsing dominates cost; never re-parse),
  * the nested row is the natural stage-checkpoint unit (columnar parquet,
    column pruning lets downstream read only the arrays it needs),
  * downstream tables are cheap ``explode`` projections with no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MENTION_T = T.StructType([
    T.StructField("para_id", T.IntegerType()),
    T.StructField("sent_id", T.IntegerType()),
    T.StructField("token_id", T.IntegerType()),
    T.StructField("node_key", T.StringType()),
    T.StructField("surface", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("length", T.IntegerType()),
    T.StructField("sub_obj", T.BooleanType()),
    T.StructField("dep", T.StringType()),
    T.StructField("head_key", T.StringType()),
])

NODE_T = T.StructType([
    T.StructField("node_id", T.IntegerType()),
    T.StructField("node_key", T.StringType()),
    T.StructField("surface", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("length", T.IntegerType()),
    T.StructField("count", T.IntegerType()),
    T.StructField("sub_obj", T.BooleanType()),
    T.StructField("neighbors", T.IntegerType()),
    T.StructField("weight", T.DoubleType()),
    T.StructField("annotated", T.BooleanType()),
])

EDGE_T = T.StructType([
    T.StructField("src_id", T.IntegerType()),
    T.StructField("dst_id", T.IntegerType()),
    T.StructField("src_key", T.StringType()),
    T.StructField("dst_key", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("rel", T.StringType()),
    T.StructField("prob", T.DoubleType()),
    T.StructField("count", T.IntegerType()),
])

PHRASE_T = T.StructType([
    T.StructField("node_id", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("count", T.IntegerType()),
    T.StructField("weight", T.DoubleType()),
])

EXTRACT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("mentions", T.ArrayType(MENTION_T)),
    T.StructField("nodes", T.ArrayType(NODE_T)),
    T.StructField("edges", T.ArrayType(EDGE_T)),
    T.StructField("phrases", T.ArrayType(PHRASE_T)),
])


ALL_PARTS = ("mentions", "nodes", "edges", "phrases")


def _process_doc(doc_id: int, text: str, parts: tuple = ALL_PARTS) -> dict:
    """Run the per-doc pipeline; imports stay function-local so the
    module pickles cheaply to executors.

    ``parts`` selects which output arrays are POPULATED — Arrow
    serialization of nested struct arrays dominates the stage wall, so a
    query that reads only ``mentions`` should not pay to ship
    ``nodes``/``edges``/``phrases``. The per-doc RANKING (degree +
    PageRank + restack) feeds only the ``weight``/``neighbors`` fields
    of ``nodes`` and the ``phrases`` ordering, so it runs only when one
    of those parts is requested — measured ~43 % of this kernel's time,
    pure waste for the mentions/edges consumers.
    """
    from ..doclevel.build import build_doc_graph

    g = build_doc_graph(text)
    nodes = list(g.nodes.values())

    if "nodes" in parts or "phrases" in parts:
        import numpy as np

        from ..doclevel.rank import pagerank, restack_ranks

        n = len(nodes)
        edge_list = [(e.src, e.dst, float(e.count)) for e in g.edges.values()]
        # hood = distinct successors, matching nx.neighbors on a DiGraph
        # (reference: doc.py:914-924)
        succ: dict[int, set] = {}
        for s, d, _ in edge_list:
            succ.setdefault(s, set()).add(d)
        for nd in nodes:
            nd.neighbors = len(succ.get(nd.node_id, ()))

        ranks = pagerank(n, edge_list)
        stacked = np.array(
            [0 if (nd.pos == "VERB" or nd.kind == "iri") else nd.count for nd in nodes],
            dtype=np.int64,
        )
        final = restack_ranks(
            ranks,
            stacked,
            np.array([nd.neighbors for nd in nodes], dtype=np.int64),
            np.array([int(nd.sub_obj) for nd in nodes], dtype=np.int64),
            np.array([nd.kind == "ent" for nd in nodes]),
        )
        for nd, w in zip(nodes, final):
            nd.weight = float(w)

    id2key = {nd.node_id: nd.key for nd in nodes}

    mentions = []
    if "mentions" in parts:
        for nd in nodes:
            for loc in nd.loc:
                mentions.append({
                    "para_id": loc[1], "sent_id": loc[2], "token_id": loc[3],
                    "node_key": nd.key, "surface": nd.text, "pos": nd.pos,
                    "kind": nd.kind, "label": nd.label, "length": nd.length,
                    "sub_obj": nd.sub_obj, "dep": None, "head_key": None,
                })

    node_rows = [{
        "node_id": nd.node_id, "node_key": nd.key, "surface": nd.text,
        "pos": nd.pos, "kind": nd.kind, "label": nd.label,
        "length": nd.length, "count": nd.count, "sub_obj": nd.sub_obj,
        "neighbors": nd.neighbors, "weight": nd.weight,
        "annotated": nd.annotated,
    } for nd in nodes] if "nodes" in parts else []

    edge_rows = [{
        "src_id": e.src, "dst_id": e.dst,
        "src_key": id2key[e.src], "dst_key": id2key[e.dst],
        "kind": e.kind, "rel": e.rel, "prob": e.prob, "count": e.count,
    } for e in g.edges.values()] if "edges" in parts else []

    # ranked phrases: weight > 0, sorted desc, stable on insertion order
    # (reference: doc.py:940-970)
    phrase_rows = [{
        "node_id": nd.node_id, "text": nd.text, "pos": nd.pos,
        "label": nd.label, "count": nd.count, "weight": nd.weight,
    } for nd in sorted(
        (nd for nd in nodes if nd.weight > 0),
        key=lambda x: -x.weight,
    )] if "phrases" in parts else []

    return {
        "doc_id": doc_id, "mentions": mentions, "nodes": node_rows,
        "edges": edge_rows, "phrases": phrase_rows,
    }


def _respread(df: DataFrame) -> DataFrame:
    """Row-wise respread before a compute-bound mapInPandas stage.

    A small parquet input can arrive as a single split (one file under
    maxPartitionBytes => one partition), which would run the extraction
    UDF serially no matter how many executors exist — the same
    bytes-vs-rows mismatch the scorer guards against. Only repartitions
    when the scan's parallelism is below the cluster's; at real scale the
    input has orders of magnitude more splits than cores and this is a
    no-op (no shuffle).
    """
    if df.isStreaming:
        # .rdd forces batch planning (throws on streams); micro-batch
        # sizing is the trigger's job there, not a static repartition
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * 2
    try:
        # metadata-only short-circuit: a file-backed scan with >= target
        # files always yields >= target splits, so the common at-scale
        # case (way more files than cores) skips the RDD-conversion probe
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def extract_graphs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    *, parts: tuple = ALL_PARTS,
) -> DataFrame:
    """documents(id, text, ...) → nested per-doc lemma-graph rows.

    ``parts`` limits which nested arrays are populated (others come back
    empty): Arrow transfer of nested structs dominates this stage's wall,
    so single-table consumers (mentions_table, corpus_edges, ...) should
    request only what they read — measured ~2x on the mentions query.
    """
    cols = [id_col, text_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _process_doc(int(r_id), r_text if r_text is not None else "", parts)
                for r_id, r_text in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(out, columns=[f.name for f in EXTRACT_SCHEMA.fields])

    return _respread(df.select(*cols)).mapInPandas(run, schema=EXTRACT_SCHEMA)


ENTITY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("node_key", T.StringType()),
    T.StructField("surface", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("count", T.IntegerType()),
])


def extract_entities(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    *, include_lemmas: bool = False,
) -> DataFrame:
    """Entity-mentions-only extraction — the ER hot path, and the durable
    ``extracted`` stage of ``ERPipeline.run()``.

    Skips per-doc ranking and the nested node/edge/phrase arrays entirely:
    the clustering job needs only (doc, lemma_key, surface, label, count),
    one row per (doc, key) with ``count`` its mentions in that doc. Flat
    schema keeps the Arrow transfer (and the stage's parquet) to a handful
    of primitive columns, ~5x cheaper per document than the full
    ``extract_graphs`` row.

    ``include_lemmas=True`` also emits NOUN/PROPN lemma nodes as
    resolvable mentions — for corpora without named-entity surface forms.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..doclevel.build import build_doc_graph

        for pdf in batches:
            ids, keys, surfaces, labels, counts = [], [], [], [], []
            for r_id, r_text in zip(pdf[id_col], pdf[text_col]):
                g = build_doc_graph(r_text if r_text is not None else "")
                did = int(r_id)
                for nd in g.nodes.values():
                    if nd.kind == "ent" or (
                        include_lemmas and nd.kind == "lem" and nd.pos in ("NOUN", "PROPN")
                    ):
                        ids.append(did)
                        keys.append(nd.key)
                        surfaces.append(nd.text)
                        labels.append(nd.label)
                        counts.append(nd.count)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "node_key": keys, "surface": surfaces, "label": labels,
                "count": pd.Series(counts, dtype="int32"),
            })

    return _respread(df.select(id_col, text_col)).mapInPandas(run, schema=ENTITY_SCHEMA)


def mentions_table(extracted: DataFrame) -> DataFrame:
    m = extracted.select("doc_id", F.explode("mentions").alias("m"))
    return m.select("doc_id", "m.*")


def nodes_table(extracted: DataFrame) -> DataFrame:
    n = extracted.select("doc_id", F.explode("nodes").alias("n"))
    return n.select("doc_id", "n.*")


def edges_table(extracted: DataFrame) -> DataFrame:
    e = extracted.select("doc_id", F.explode("edges").alias("e"))
    return e.select("doc_id", "e.*")


def phrases_table(extracted: DataFrame) -> DataFrame:
    p = extracted.select("doc_id", F.posexplode("phrases").alias("rank_pos", "p"))
    return p.select("doc_id", "rank_pos", "p.*")


def corpus_nodes(extracted: DataFrame) -> DataFrame:
    """Aggregate per-doc nodes into the corpus-level lemma-graph node table.

    Same-key mentions across documents collapse into one node with summed
    counts — the distributed analog of the reference's node upsert
    (graph.py:134-157) performed as a hash aggregation (partial + final,
    no driver involvement).
    """
    n = nodes_table(extracted)
    return (
        n.groupBy("node_key")
        .agg(
            # min, not first: deterministic across partitionings and
            # reproducible by the SQL oracle (kind/pos/length are
            # functionally dependent on the key; surface/label are not)
            F.min("kind").alias("kind"),
            F.min("surface").alias("surface"),
            F.min("pos").alias("pos"),
            F.min("label").alias("label"),
            F.min("length").alias("length"),
            F.sum("count").alias("count"),
            F.max(F.col("sub_obj").cast("int")).cast("boolean").alias("sub_obj"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )


def corpus_edges(extracted: DataFrame) -> DataFrame:
    """Aggregate per-doc edges into corpus-level typed, counted edges —
    the distributed analog of graph.py:206-228 edge dedup (self-loops
    already precluded per doc)."""
    e = edges_table(extracted)
    return (
        e.groupBy("src_key", "dst_key", "kind", "rel")
        .agg(F.sum("count").alias("count"), F.max("prob").alias("prob"))
    )


def entity_pmi(
    docs: DataFrame,
    *,
    pos: str = "NOUN",
    min_co: int = 2,
    max_per_doc: int = 50,
) -> DataFrame:
    """Entity co-occurrence PMI — (key_a, key_b, co_docs, df_a, df_b,
    pmi) over document-level co-mention of linked ``pos`` lemma nodes
    (default NOUN — the lowercase tagger folds proper nouns into NOUN,
    so noun lemmas ARE the entity surface here). ``pmi = ln(P(a,b) / (P(a)·P(b)))``
    with probabilities as document frequencies over the corpus — the
    distributional-affinity signal (Church & Hanks 1990) for the same
    question textgraphs' GOR affinity answers at the relation level
    (gor.py:454-479): which graph elements belong together more than
    chance. High-PMI entity pairs seed relation-extraction candidates
    and KG edge priors.

    Scale shape: per-doc entity sets are DISTINCT'd then gated at
    ``max_per_doc`` (a listy page with 10^3 names would contribute
    ~10^6 pairs — the documented quadratic-fanout cap, same discipline
    as every blocking channel); the pair self-join is doc-keyed with
    bounded per-key fanout, the df join is entity-vocabulary-sized,
    and the corpus size enters as a broadcast 1-row frame. ``min_co``
    prunes the pair tail before the df joins.
    """
    ex = extract_graphs(docs, parts=("mentions",))
    m = (
        mentions_table(ex)
        .filter((F.col("kind") == "lem") & (F.col("pos") == pos))
        .select("doc_id", "node_key")
        .distinct()
    )
    eligible = (
        m.groupBy("doc_id").agg(F.count("*").alias("k"))
        .filter(F.col("k") <= int(max_per_doc)).select("doc_id")
    )
    m2 = m.join(eligible, "doc_id")
    df = m2.groupBy("node_key").agg(F.count("*").alias("df"))
    pairs = (
        m2.alias("a")
        .join(
            m2.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.node_key") < F.col("b.node_key")),
        )
        .groupBy(
            F.col("a.node_key").alias("key_a"),
            F.col("b.node_key").alias("key_b"),
        )
        .agg(F.count("*").alias("co_docs"))
        .filter(F.col("co_docs") >= int(min_co))
    )
    n = docs.select(F.count("*").alias("n_docs"))
    return (
        pairs.join(
            df.select(F.col("node_key").alias("key_a"), F.col("df").alias("df_a")),
            "key_a",
        )
        .join(
            df.select(F.col("node_key").alias("key_b"), F.col("df").alias("df_b")),
            "key_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "key_a", "key_b", "co_docs", "df_a", "df_b",
            F.round(
                F.log(F.col("co_docs") * F.col("n_docs")
                      / (F.col("df_a") * F.col("df_b"))), 6
            ).alias("pmi"),
        )
    )
