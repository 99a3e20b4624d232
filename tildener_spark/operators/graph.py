"""Knowledge-graph assembly + materialization (north_rule final stage).

Node identity model (three-tier, keeps cross-document merges exact):
  * mention node   ``m:<url>|<type>|<surface>``  — one per distinct
    surface per document;
  * hub node       ``g:<type>|<surface>``        — one per global
    (type, doc-canonical surface);
  * edges: alias mention -> antecedent mention (within-doc linking)
    and doc-canonical mention -> hub (exact-surface cross-doc merge).

Connected components over this graph yields the canonical entity
partition; the representative is the lexicographically smallest hub
node (hubs sort before mention nodes by prefix), so canonicalization
is deterministic.

Materialization writes ``nodes`` / ``edges`` parquet tables
repartitioned by a bucket of the canonical id — the layout a
1000-executor consumer would want (co-located adjacency, no
read-side shuffle for per-entity queries).  The writer format is a
parameter (``materialize_graph(..., fmt=cfg.table_format)``): with
an Iceberg runtime on the classpath the same writer emits
``format("iceberg")``; plain parquet keeps this sandbox
dependency-free (parquet + orc paths are tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.diag import stage_mark as _stage_mark
from tildener_spark.operators.components import connected_components
from tildener_spark.operators.linking import (
    jaro_winkler, lsh_candidate_pairs,
)

SEP = "␟"  # unit-separator; never appears in surfaces

# Latin diacritic fold for the cross-doc first-char prefilter
# (LV/LT/ET letters + common Latin-1 accents).
_ACCENTS = "āčēģīķļņšūžõäöüàáâãåèéêëìíîïòóôùúûñçýăęłńśźż"
_ACCENTS_FOLDED = "acegiklnsuzoaouaaaaaeeeeiiiiooouuuncyaelnszz"


def _mention_node(url, ne_type, surface):
    return F.concat(F.lit("m:"), url, F.lit(SEP), ne_type, F.lit(SEP), surface)


def _hub_node(ne_type, surface):
    return F.concat(F.lit("g:"), ne_type, F.lit(SEP), surface)


def corrections_from_cc(hub_cc: DataFrame) -> DataFrame:
    """CC labels -> the tiny broadcastable correction table
    (hub, corr_canonical) for hubs whose component representative is
    not themselves.  The representative is the lexicographically
    smallest hub = "g:<type>␟<canonical>", so component id ==
    hub-of-canonical and the canonical surface is the id's second
    field; the table is bounded by the number of linked surface
    pairs, not by corpus size."""
    return (
        hub_cc.filter(F.col("node") != F.col("component"))
        .withColumn(
            "parts",
            F.split(F.substring("component", 3, 1 << 20), SEP))
        .select(
            F.col("node").alias("hub"),
            F.col("parts")[1].alias("corr_canonical"))
    )


def fused_canonical_tables(mention_hub: DataFrame,
                           corr: DataFrame) -> tuple[DataFrame,
                                                     DataFrame]:
    """Broadcast-correction canonicalization:
    (mention_hub = (url, ne_type, surface, hub), corr) ->
    (mapping, components).  The correction table is broadcast (if a
    pathological corpus made it large, AQE would still execute the
    same join hash-partitioned by dropping the hint)."""
    mapping = (
        mention_hub
        .join(F.broadcast(corr), ["hub"], "left")
        .select(
            "url", "ne_type", "surface",
            F.coalesce(
                "corr_canonical",
                F.split(F.substring("hub", 3, 1 << 20), SEP)[1])
            .alias("canonical"))
        .withColumn(
            "component",
            _hub_node(F.col("ne_type"), F.col("canonical")))
    )
    components = (
        mapping.select(
            _mention_node(F.col("url"), F.col("ne_type"),
                          F.col("surface")).alias("node"),
            "component")
        .union(
            mention_hub.select(F.col("hub").alias("node")).distinct()
            .join(F.broadcast(corr), F.col("node") == F.col("hub"),
                  "left")
            .select(
                "node",
                F.coalesce(
                    _hub_node(
                        F.split(F.substring("node", 3, 1 << 20),
                                SEP)[0],
                        F.col("corr_canonical")),
                    F.col("node")).alias("component")))
    )
    return mapping, components


def score_cross_pairs(cand: DataFrame,
                      cfg: EngineConfig | None = None) -> DataFrame:
    """JVM-side prefilters BEFORE the (Python) Jaro-Winkler pass over
    LSH candidate pairs (ne_type, a, b), then the score threshold.

    At score >= 0.94 the lengths must be close and (in practice) the
    first character equal — cuts the candidate volume by orders of
    magnitude, which is what keeps this stage viable when band
    buckets collide (measured: unfiltered JW dominated the whole
    pipeline at low core counts).  The first-char comparison is
    ACCENT-FOLDED: a leading-diacritic typo ("Āboliņš"/"Abolins") is
    exactly the recall this stage exists for, so a raw lowercase
    equality would filter it away (VERDICT.md r01 item 10).
    """
    cfg = cfg or EngineConfig()
    fold = lambda c: F.translate(  # noqa: E731
        F.lower(c), _ACCENTS, _ACCENTS_FOLDED)
    cand = cand.filter(
        (F.abs(F.length("a") - F.length("b"))
         * F.lit(5) <= F.length("a"))
        & (fold(F.substring("a", 1, 1))
           == fold(F.substring("b", 1, 1)))
    )
    return (
        cand.withColumn(
            "score",
            jaro_winkler(F.lower("a"), F.lower("b")))
        .filter(F.col("score") >= cfg.cross_doc_min_score)
    )


def cross_doc_vocab(resolved: DataFrame,
                    cfg: EngineConfig | None = None) -> DataFrame:
    """(ne_type, surface) vocabulary the cross-document stage blocks
    over: the distinct doc-canonical surfaces of ``resolved`` (url,
    ne_type, surface, doc_canonical) at least ``cross_doc_min_len``
    long — orders of magnitude smaller than the mention table."""
    cfg = cfg or EngineConfig()
    return (resolved
            .select("ne_type", F.col("doc_canonical").alias("surface"))
            .filter(F.length("surface") >= cfg.cross_doc_min_len)
            .distinct())


def build_entity_graph(surfaces: DataFrame, hub_pairs: DataFrame,
                       cfg: EngineConfig | None = None,
                       counters: dict | None = None) -> dict:
    """Per-document graph inputs -> {components, entities, mapping,
    corrections}.

    Both inputs come from the fused per-document pass
    (operators/document.py): ``surfaces`` (url, ne_type, surface,
    doc_canonical) carries each document's alias resolution, and
    ``hub_pairs`` (src, dst) the hub edges its alias chains induce.
    So the pre-CC graph stage is narrow projections; the only global
    work is cross-document linking and connected components over hub
    nodes.  The DuckDB mirror ``_kg_graph_sql`` in __spark_entry__.py
    re-derives the same entity table from the mention and link tables
    by joins."""
    cfg = cfg or EngineConfig()
    resolved = surfaces.select(
        "url", "ne_type", "surface", "doc_canonical")
    # ---- star contraction before CC (the 10^12-scale move) --------
    # Every mention node has exactly one hub edge (its doc-canonical
    # surface), so the mention->hub stars are contracted up front; the
    # iterative CC then runs only on the hub-hub multigraph induced by
    # alias chains — typically orders of magnitude smaller than the
    # mention graph (and empty when no doc contains chained aliases).
    # This bounds CC input by the number of *linked surface pairs*,
    # not by corpus size.
    mention_hub = resolved.select(
        "url", "ne_type", "surface",
        _hub_node(F.col("ne_type"), F.col("doc_canonical")).alias("hub"),
    )
    hub_pairs = hub_pairs.select("src", "dst").distinct()

    # north-star cross-document linking: minhash-LSH blocking over the
    # global (type, doc-canonical) surface vocabulary + Jaro-Winkler
    # scoring; accepted near-duplicate surfaces (typos, diacritic
    # variants) become extra hub-hub edges so CC merges them into one
    # canonical entity.  The per-band bucket cap + AQE skew join guard
    # the self-join (SURVEY.md §4.3.2).
    vocab = cross_doc_vocab(resolved, cfg)
    lsh_handles: list = []
    _stage_mark("graph_plan_build")
    cand = lsh_candidate_pairs(vocab, cfg, handles=lsh_handles,
                               counters=counters)
    _stage_mark("lsh_banding_materialize")
    scored = score_cross_pairs(cand, cfg)
    cross_edges = scored.select(
        _hub_node(F.col("ne_type"), F.col("a")).alias("src"),
        _hub_node(F.col("ne_type"), F.col("b")).alias("dst"),
    )
    hub_pairs = hub_pairs.unionByName(cross_edges)
    hub_cc = connected_components(hub_pairs, cfg)
    _stage_mark("connected_components")
    # CC materialized its (localCheckpointed) labels, so the LSH
    # stage's internal cache is consumed — release it (long-lived
    # sessions would otherwise accumulate cached tables)
    for h in lsh_handles:
        h.unpersist()

    # ---- broadcast-correction canonicalization.  The component
    # representative is the lexicographically smallest hub =
    # "g:<type>␟<canonical>", so component id == hub-of-canonical, and
    # the ONLY global state needed is the tiny table of alias-chain
    # hubs whose component rep differs from themselves.  That table is
    # broadcast (it is bounded by the number of chained alias pairs,
    # not by corpus size; if a pathological corpus made it large, AQE
    # would still execute the same join hash-partitioned by dropping
    # the hint).
    corr = corrections_from_cc(hub_cc)
    mapping, components = fused_canonical_tables(mention_hub, corr)
    entities = (
        mapping.groupBy("component", "ne_type", "canonical")
        .agg(
            F.countDistinct("url").alias("n_docs"),
            F.countDistinct("surface").alias("n_surfaces"),
        )
    )
    return {
        "components": components,
        "entities": entities,
        "mapping": mapping,
        "corrections": corr,
    }


def canonicalize_triples_fused(triples_dc: DataFrame,
                               corrections: DataFrame) -> DataFrame:
    """Fused-path canonicalization: the triples already carry their
    within-doc canonicals (subj_dc/obj_dc from the Arrow pass), so the
    global rewrite is two broadcast joins against the alias-chain
    correction table — no mention-table shuffle.  Output: the triple
    columns plus subj_canonical/obj_canonical (internal _dc columns
    dropped)."""
    s_corr = corrections.select(
        F.col("hub").alias("_s_hub"),
        F.col("corr_canonical").alias("_s_can"))
    o_corr = corrections.select(
        F.col("hub").alias("_o_hub"),
        F.col("corr_canonical").alias("_o_can"))
    t = (
        triples_dc
        .withColumn("_s_hub", _hub_node(F.col("subj_type"),
                                        F.col("subj_dc")))
        .withColumn("_o_hub", _hub_node(F.col("obj_type"),
                                        F.col("obj_dc")))
        .join(F.broadcast(s_corr), ["_s_hub"], "left")
        .join(F.broadcast(o_corr), ["_o_hub"], "left")
        .withColumn("subj_canonical",
                    F.coalesce("_s_can", F.col("subj_dc")))
        .withColumn("obj_canonical",
                    F.coalesce("_o_can", F.col("obj_dc")))
    )
    return t.drop("_s_hub", "_o_hub", "_s_can", "_o_can",
                  "subj_dc", "obj_dc")


def materialize_graph(entities: DataFrame, canon_triples: DataFrame,
                      out_dir: str, buckets: int = 64,
                      fmt: str = "parquet",
                      rdf: bool = False) -> dict:
    """Write partitioned nodes/edges tables; returns paths.

    ``fmt`` selects the DataFrameWriter format (EngineConfig.
    table_format).  Path-managed formats (parquet/orc) get hive-style
    ``bucket=`` partition directories via ``partitionBy``; ``iceberg``
    targets a Hadoop table at the path, whose own partition spec
    governs layout (Iceberg rejects writer-side partitionBy), so the
    explicit repartition still co-locates rows but directory fan-out
    is the table's concern.  The sandbox has no Iceberg runtime jar;
    parquet/orc are exercised in tests/test_pipeline.py.

    ``rdf=True`` additionally ships the graph as W3C N-Triples text
    shards under ``{out_dir}/ntriples`` (operators/rdf.py) — the
    interchange dump a triple store bulk-loads.  Lines are sorted
    within partitions so shard contents are deterministic under a
    fixed partitioning (N-Triples itself is order-independent).
    """
    nodes = entities.withColumn(
        "bucket", F.pmod(F.hash("canonical"), F.lit(buckets)))
    edges = (
        canon_triples.groupBy(
            "subj_canonical", "subj_type", "pred",
            "obj_canonical", "obj_type")
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.countDistinct("url").alias("n_docs"),
            F.avg("prob").alias("avg_prob"),
        )
        .withColumn("bucket", F.pmod(F.hash("subj_canonical"), F.lit(buckets)))
    )
    nodes_path = f"{out_dir}/nodes"
    edges_path = f"{out_dir}/edges"
    for df, path in ((nodes, nodes_path), (edges, edges_path)):
        w = df.repartition("bucket").write.mode("overwrite").format(fmt)
        if fmt != "iceberg":
            w = w.partitionBy("bucket")
        w.save(path)
    out = {"nodes": nodes_path, "edges": edges_path, "format": fmt}
    if rdf:
        from tildener_spark.operators.rdf import triples_to_ntriples
        nt_path = f"{out_dir}/ntriples"
        (triples_to_ntriples(canon_triples)
         .repartition(F.pmod(F.xxhash64("line"), F.lit(buckets)))
         .sortWithinPartitions("line")
         .select("line")
         .write.mode("overwrite").text(nt_path))
        out["ntriples"] = nt_path
    return out
