"""Incremental KG maintenance: merge a delta batch of pages into a
prior checkpointed pipeline run WITHOUT re-running the per-document
pass over the prior corpus.

The north rule asks for a resumable pipeline; resumability's natural
extension is incrementality — at 10^12 documents a daily crawl batch
must never force a full-corpus recompute.  The per-stage checkpoint
layout (plans/lineage.py) already materializes everything a merge
needs, so the incremental run's cost profile is:

* corpus-sized work ONLY on the delta: one fused Arrow pass over the
  new pages (the >95% cost center of a full run);
* vocabulary-sized work on the union: minhash banding re-runs over
  the combined surface vocabulary (|V|, orders of magnitude below
  corpus size), but candidate scoring — the expensive Python step —
  runs ONLY for pairs touching a genuinely new surface: pairs between
  two prior surfaces were already decided in the prior run and are
  encoded in its component assignments;
* connected components over (prior hub->component assignments ∪
  delta alias edges ∪ new cross-document links) — the prior
  partition enters as pre-collapsed star edges, so CC input is
  |prior hubs| + |delta links|, never corpus-sized;
* canonical-triple rewrite of prior docs via the broadcast
  correction table (a prior entity CAN change canonical surface when
  a delta surface merges into — or lexicographically undercuts — its
  cluster; the rewrite is two broadcast joins against the stored
  triples_dc stage table, not a recompute).

Exactness: the merged output is bit-identical to a full-batch run
over (prior ∪ delta) pages — LSH candidacy is pair-local (per-surface
signatures, shared band bucket), Jaro-Winkler acceptance is
pair-local, and CC is generated-edge-set invariant.  The ONE
documented divergence source is the LSH ``max_bucket`` skew guard: a
band bucket under the cap in the prior run can exceed it in the
full-batch union, dropping prior-internal pairs the incremental run
has already committed to (the incremental result then merges MORE
than the batch result — conservative for dedup).
``tests/test_incremental.py`` pins bit-identity on corpora below the
cap and documents the guard interaction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.operators.document import (
    explode_docs, make_process_document_udf)
from tildener_spark.operators.components import connected_components
from tildener_spark.operators.graph import (
    SEP, _hub_node, canonicalize_triples_fused, corrections_from_cc,
    cross_doc_vocab, fused_canonical_tables, score_cross_pairs)
from tildener_spark.operators.linking import lsh_candidate_pairs

__all__ = ["read_stage", "rebuild_graph_stage",
           "run_pipeline_incremental"]


def read_stage(spark: SparkSession, checkpoint_dir: str,
               stage: str) -> DataFrame:
    """Read a committed stage table from a prior run's checkpoint
    dir, transparently handling the per-slice layout."""
    path = os.path.join(checkpoint_dir, stage)
    if os.path.isdir(os.path.join(path, "slice_0")):
        return spark.read.parquet(os.path.join(path, "slice_*"))
    return spark.read.parquet(path)


def _resolved(docs: DataFrame) -> DataFrame:
    """(url, ne_type, surface, doc_canonical) from a docs stage
    table (fused per-document output struct)."""
    return (docs.select("url", F.explode("doc.surfaces").alias("x"))
            .select("url", "x.*")
            .select("url", "ne_type", "surface", "doc_canonical"))


def rebuild_graph_stage(spark: SparkSession, docs: DataFrame,
                        triples_dc: DataFrame,
                        cfg: EngineConfig | None = None) -> dict:
    """Re-derive linking, connected components, and canonicalization
    from the FACT tables alone — no prior partition enters, so every
    entity-merge decision is made fresh from the current corpus.

    This is the deep-compaction path that closes the incremental
    path's documented sticky-merge boundary: merges whose only
    evidence was a superseded page version persist through
    :func:`run_pipeline_incremental` (un-merging exactly would need
    decremental connected components) but vanish here, because the
    superseded facts are already gone from ``docs``/``triples_dc``.
    After this rebuild the state is bit-identical to a full-batch
    ``run_pipeline`` over the latest version of every url — the
    invariant ``tests/test_kgstream.py`` pins.

    Cost shape: everything downstream of the per-document pass (the
    >95% cost center, NOT re-run) — |V|-sized LSH banding + pair
    scoring, CC over hub edges, one corpus-sized mapping/canonical
    rewrite.  Exactly what a production deployment schedules nightly
    or weekly while per-batch merges stay incremental.

    Returns {"mapping", "components", "entities",
    "canonical_triples"}.
    """
    cfg = cfg or EngineConfig()
    counters: dict[str, dict] = {}
    resolved = _resolved(docs)
    hub_pairs = (docs.select(F.explode("doc.hub_pairs").alias("x"))
                 .select("x.*").select("src", "dst").distinct())
    vocab = cross_doc_vocab(resolved, cfg)
    handles: list = []
    cand = lsh_candidate_pairs(vocab, cfg, handles=handles,
                               counters=counters)
    cross = score_cross_pairs(cand, cfg).select(
        _hub_node(F.col("ne_type"), F.col("a")).alias("src"),
        _hub_node(F.col("ne_type"), F.col("b")).alias("dst"))
    hub_cc = connected_components(
        hub_pairs.unionByName(cross), cfg)
    for h in handles:
        h.unpersist()
    corr = corrections_from_cc(hub_cc)
    mention_hub = resolved.select(
        "url", "ne_type", "surface",
        _hub_node(F.col("ne_type"), F.col("doc_canonical"))
        .alias("hub"))
    mapping, components = fused_canonical_tables(mention_hub, corr)
    canon = canonicalize_triples_fused(triples_dc, corr)
    entities = (
        mapping.groupBy("component", "ne_type", "canonical")
        .agg(F.countDistinct("url").alias("n_docs"),
             F.countDistinct("surface").alias("n_surfaces"))
    )
    return {"mapping": mapping, "components": components,
            "entities": entities, "canonical_triples": canon}


def run_pipeline_incremental(
    spark: SparkSession,
    prior: str | dict,
    pages_delta: DataFrame,
    gazetteer: DataFrame,
    cfg: EngineConfig | None = None,
) -> dict:
    """Merge ``pages_delta`` into a prior fused run.

    ``prior``: either a checkpoint dir from a prior
    ``run_pipeline(checkpoint_dir=...)`` run (stages ``docs``/
    ``triples_dc``/``mapping`` committed) or a dict with those three
    DataFrames directly (the streaming epoch-state path,
    streaming/kgstream.py).

    Returns {"canonical_triples", "mapping", "components",
    "entities", "triples_dc", "docs_delta", "triples_dc_delta",
    "counters"} for the MERGED corpus — the same tables a full-batch
    ``run_pipeline`` produces, plus the delta-only tables a caller
    committing append-only state needs, with counters recording the
    delta/recheck row volumes.
    """
    cfg = cfg or EngineConfig()
    counters: dict[str, dict] = {}

    # ---- prior state (stage tables; no recompute) ----------------
    hub_components = None
    if isinstance(prior, str):
        docs_prior = read_stage(spark, prior, "docs")
        triples_dc_prior = read_stage(spark, prior, "triples_dc")
        mapping_prior = read_stage(spark, prior, "mapping")
        if os.path.isdir(os.path.join(prior, "hub_components")):
            hub_components = read_stage(spark, prior,
                                        "hub_components")
    else:
        docs_prior = prior["docs"]
        triples_dc_prior = prior["triples_dc"]
        mapping_prior = prior["mapping"]
        hub_components = prior.get("hub_components")

    # ---- url supersedence (re-crawl semantics) -------------------
    # A delta url already present in the prior state is a RE-CRAWL:
    # the new version REPLACES the old at the fact level — prior
    # docs/triples rows for that url drop, so stale triples vanish
    # and per-url evidence never double-counts.  The broadcast
    # anti-joins ride the same jobs that already scan the prior
    # tables (resolved_all / triples_dc_all), so this costs no
    # extra corpus-sized pass and no counter is recorded (counting
    # superseded rows WOULD cost one).  Entity-merge decisions in
    # the prior component partition stay STICKY — un-merging a
    # cluster whose only evidence was a superseded page version
    # needs decremental connected components, which no incremental
    # path does exactly; merges are re-derived from scratch at the
    # next full rebuild/compaction (the standard production-KG
    # trade-off, pinned in tests/test_incremental.py).
    delta_urls = pages_delta.select("url").distinct()
    docs_prior = docs_prior.join(
        F.broadcast(delta_urls), "url", "left_anti")
    triples_dc_prior = triples_dc_prior.join(
        F.broadcast(delta_urls), "url", "left_anti")
    resolved_prior = _resolved(docs_prior)

    # prior partition as pre-collapsed star edges: every prior hub
    # points at its component representative (self-edges for
    # singleton hubs are dropped; they add nothing to CC).  The
    # vocabulary-sized hub_components stage (written by checkpointed
    # runs since it was added) gives this directly; older state falls
    # back to rejoining the mention-level tables — correct but
    # corpus-sized (measured ~4x slower end-to-end at 200k docs).
    if hub_components is not None:
        prior_hub_edges = (
            hub_components
            .select(F.col("node").alias("src"),
                    F.col("component").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    else:
        prior_hub_edges = (
            resolved_prior
            .join(mapping_prior, ["url", "ne_type", "surface"])
            .select(
                _hub_node(F.col("ne_type"), F.col("doc_canonical"))
                .alias("src"),
                F.col("component").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    # ---- delta corpus: the only corpus-sized work ----------------
    initialisms = {
        r["surface"] for r in gazetteer
        .filter(F.col("ne_type") == "ORG_INIT").collect()}
    gaz_rows = [(r["ne_type"], r["surface"])
                for r in gazetteer.collect()]
    doc_udf = make_process_document_udf(gaz_rows, cfg, initialisms)
    docs_delta = pages_delta.select(
        "url", "lang", doc_udf(F.col("text")).alias("doc")).persist()
    docs_delta.count()  # one materializing pass (see run_pipeline)

    triples_dc_delta = explode_docs(docs_delta, "triples")
    resolved_delta = _resolved(docs_delta)
    hub_pairs_delta = (
        docs_delta.select(F.explode("doc.hub_pairs").alias("x"))
        .select("x.*").select("src", "dst").distinct())

    # ---- vocabulary delta + new-pair-only linking ----------------
    if hub_components is not None:
        # the hub node-id set IS the prior doc-canonical vocabulary
        # ("g:<type>␟<canonical>") — no docs scan needed
        v_prior = (
            hub_components
            .select(F.split(F.substring("node", 3, 1 << 20), SEP)
                    .alias("parts"))
            .select(F.col("parts")[0].alias("ne_type"),
                    F.col("parts")[1].alias("surface"))
            .filter(F.length("surface") >= cfg.cross_doc_min_len)
            .distinct()
            .persist()
        )
    else:
        v_prior = cross_doc_vocab(resolved_prior, cfg).persist()
    v_new = (cross_doc_vocab(resolved_delta, cfg)
             .join(v_prior, ["ne_type", "surface"], "left_anti")
             .persist())
    n_new = v_new.count()
    counters["vocab_delta"] = {"rows_out": n_new}
    v_all = v_prior.unionByName(v_new)

    lsh_handles: list = []
    cand = lsh_candidate_pairs(v_all, cfg, handles=lsh_handles,
                               counters=counters)
    # keep only pairs that touch a NEW surface: prior-internal pairs
    # were decided in the prior run and live in prior_hub_edges
    flag_a = v_new.select(
        "ne_type", F.col("surface").alias("a"),
        F.lit(True).alias("_na"))
    flag_b = v_new.select(
        "ne_type", F.col("surface").alias("b"),
        F.lit(True).alias("_nb"))
    cand_new = (
        cand.join(F.broadcast(flag_a), ["ne_type", "a"], "left")
        .join(F.broadcast(flag_b), ["ne_type", "b"], "left")
        .filter(F.col("_na").isNotNull() | F.col("_nb").isNotNull())
        .drop("_na", "_nb")
    )
    cross_edges_new = score_cross_pairs(cand_new, cfg).select(
        _hub_node(F.col("ne_type"), F.col("a")).alias("src"),
        _hub_node(F.col("ne_type"), F.col("b")).alias("dst"),
    )

    # ---- merged components + broadcast-correction rewrite --------
    edges = (prior_hub_edges
             .unionByName(hub_pairs_delta)
             .unionByName(cross_edges_new))
    hub_cc = connected_components(edges, cfg)
    for h in lsh_handles:
        h.unpersist()
    corr = corrections_from_cc(hub_cc)

    resolved_all = resolved_prior.unionByName(resolved_delta)
    mention_hub = resolved_all.select(
        "url", "ne_type", "surface",
        _hub_node(F.col("ne_type"), F.col("doc_canonical"))
        .alias("hub"))
    mapping, components = fused_canonical_tables(mention_hub, corr)

    triples_dc_all = triples_dc_prior.unionByName(triples_dc_delta)
    canon = canonicalize_triples_fused(triples_dc_all, corr)

    entities = (
        mapping.groupBy("component", "ne_type", "canonical")
        .agg(F.countDistinct("url").alias("n_docs"),
             F.countDistinct("surface").alias("n_surfaces"))
    )
    v_prior.unpersist()
    v_new.unpersist()
    return {
        "canonical_triples": canon,
        "mapping": mapping,
        "components": components,
        "entities": entities,
        "triples_dc": triples_dc_all,
        "docs_delta": docs_delta,
        "triples_dc_delta": triples_dc_delta,
        "counters": counters,
        "caches": [docs_delta],
    }
