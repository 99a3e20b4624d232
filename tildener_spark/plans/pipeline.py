"""The end-to-end KG-construction pipeline (the "flagship query").

Spark re-expression of NEMuc7TagPlaintext.pl (SURVEY.md §3.1) extended
with the north-rule KG stages:

    pages ─ process_document ──────────────────────────────────── docs
      (ONE Arrow pass per page, operators/document.py: tokenize,
       classify, refine, span assembly, sentence-window triples,
       within-doc alias linking — zero shuffles)
    docs ─ explode ─ tokens / mentions / triples_dc / links
    docs.surfaces ─ cross-doc LSH + Jaro-Winkler ─┐
    docs.hub_pairs ───────────────────────────────┴─ connected_components
      ─ corrections ─ mapping / entities
    triples_dc × corrections (broadcast) ─ canonical_triples

The only shuffles are over the small cross-document tables.  With
``checkpoint_dir`` set, each named stage materializes to parquet with
per-partition lineage (plans/lineage.py) and a re-run resumes from the
last completed stage — the kill-and-resume contract of BASELINE.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.operators.document import (
    explode_docs, make_process_document_udf,
)
from tildener_spark.operators.graph import (
    build_entity_graph, canonicalize_triples_fused, materialize_graph,
)
from tildener_spark.operators.tokenize import explode_tokens
from tildener_spark.diag import stage_mark as _stage_mark
from tildener_spark.plans.lineage import checkpoint_stage


@dataclass
class PipelineResult:
    tagged: DataFrame
    tokens: DataFrame
    mentions: DataFrame
    triples: DataFrame
    links: DataFrame
    entities: DataFrame
    mapping: DataFrame
    canonical_triples: DataFrame
    extra: dict = field(default_factory=dict)
    # per-stage observe() metrics (checkpointed runs only):
    # {stage: {"rows_out": n, "rows_in": m, "resumed": bool}} — the
    # rows_out count rides the stage's own write job via Observation
    # (no extra pass); rows_in is the producing stage's rows_out
    # (every stage boundary is a checkpoint table, SURVEY.md §7).
    counters: dict = field(default_factory=dict)


# stage -> the stage whose output it consumes (for rows_in);
# self-mapped stages are per-row maps of the pipeline input
_STAGE_INPUTS = {
    "docs": "pages_clean",
    "mentions": "docs", "triples_dc": "docs",
    "links": "mentions", "entities": "mentions", "mapping": "mentions",
    "canonical_triples": "triples_dc",
}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer: DataFrame,
    cfg: EngineConfig | None = None,
) -> PipelineResult:
    """Run the full chain over ``pages`` (url, lang, text); lazily
    unless cfg.checkpoint_dir is set.

    All document-local stages run in ONE Arrow pass per page
    (operators/document.py), so the job's only shuffles are over the
    small cross-document tables.  A caller holding html applies
    ``functions.text.extract_text`` to ``pages`` first.
    """
    cfg = cfg or EngineConfig()
    ckpt = cfg.checkpoint_dir
    counters: dict[str, dict] = {}
    _stage_mark(None)  # reset the diagnostic stage clock

    # crawl-hygiene pre-filters (raw-crawl runs; off for curated
    # corpora).  Order matters: URL dedup first (cheap canonical-key
    # window) so the repetition arrays are never built for pages the
    # URL pass already drops; the repetition filter itself is a
    # per-row predicate, zero shuffle.  With a checkpoint_dir the
    # cleaned pages commit as their own resumable stage with
    # rows_out counters like every other stage boundary.
    if cfg.url_dedup:
        from tildener_spark.operators.urls import keep_canonical_urls
        pages = keep_canonical_urls(pages)
    if cfg.repetition_filter:
        from tildener_spark.operators.textstats import filter_repetitive
        pages = filter_repetitive(pages)
    if ckpt and (cfg.url_dedup or cfg.repetition_filter):
        pages = checkpoint_stage(spark, pages, ckpt, "pages_clean",
                                 counters=counters)

    initialisms = {
        r["surface"]
        for r in gazetteer.filter(F.col("ne_type") == "ORG_INIT").collect()
    }

    gaz_rows = (
        [(r["ne_type"], r["surface"]) for r in gazetteer.collect()]
        if hasattr(gazetteer, "collect") else list(gazetteer)
    )

    doc_udf = make_process_document_udf(gaz_rows, cfg, initialisms)
    docs_full = pages.select(
        "url", "lang", doc_udf(F.col("text")).alias("doc"))
    if ckpt:
        # one checkpoint covers all document-local outputs; downstream
        # stage tables are narrow re-projections of it.
        # checkpoint_slices > 1 commits the stage as independent
        # url-hash slices so a kill resumes per-slice.
        docs = checkpoint_stage(
            spark, docs_full, ckpt, "docs",
            slices=cfg.checkpoint_slices, slice_key="url",
            counters=counters)
    else:
        # cache a SLIM struct — everything downstream of the graph
        # stage reads (triples/links/surfaces/hub_pairs) but NOT
        # tokens (~40% of the serialized bytes) or mentions (~50%
        # of the remainder: the fused pass already emits per-doc
        # surfaces/links/hub_pairs, which is all the graph stage
        # derives from mentions, and the bench/scaling path ends
        # at canonical triples).  The slim UDF never builds or
        # Arrow-serializes either field at all (emitting-then-
        # pruning would still pay the Python->JVM transfer).
        # ``tagged``/``mentions`` below stay projections of the
        # UNCACHED full plan, so a consumer that does want them
        # re-runs the document UDF once — at scale that consumer
        # should use checkpoint mode, where the full docs stage
        # (tokens + mentions included) is committed to parquet and
        # every projection reads it back without recompute.
        slim_udf = make_process_document_udf(
            gaz_rows, cfg, initialisms, emit_tokens=False,
            emit_mentions=False)
        docs = pages.select(
            "url", "lang", slim_udf(F.col("text")).alias("doc"),
        ).persist()
    tagged = (docs if ckpt else docs_full).select(
        "url", "lang", F.col("doc.tokens").alias("tokens"))
    mentions = explode_docs(docs if ckpt else docs_full, "mentions")
    triples_dc = explode_docs(docs, "triples")
    links = explode_docs(docs, "links")
    # surfaces + hub_pairs feed the whole graph stage (vocab
    # distinct, hub edges, mention->hub mapping) — carve them out
    # of the big docs cache ONCE into a tiny cached projection so
    # the graph stage's several consumers deserialize small rows
    # instead of re-scanning full doc structs (tokens/mentions/
    # triples dominate the row bytes)
    graph_in = docs.select(
        "url",
        F.col("doc.surfaces").alias("surfaces"),
        F.col("doc.hub_pairs").alias("hub_pairs"))
    if not ckpt:
        graph_in = graph_in.persist()
    surfaces = (
        graph_in.select("url", F.explode("surfaces").alias("x"))
        .select("url", "x.*"))
    hub_pairs = (
        graph_in.select(F.explode("hub_pairs").alias("x"))
        .select("x.*"))
    if ckpt:
        mentions = checkpoint_stage(spark, mentions, ckpt, "mentions",
                                    counters=counters)
        # 'triples_dc', not 'triples': carries subj_dc/obj_dc
        triples_dc = checkpoint_stage(spark, triples_dc, ckpt,
                                      "triples_dc", counters=counters)
    # the exposed triples table drops the _dc annotations, which are
    # internal to canonicalization
    triples = triples_dc.drop("subj_dc", "obj_dc")
    tokens = explode_tokens(tagged)

    if not ckpt:
        # materialize the docs cache with ONE scan before the graph
        # stage: the first downstream action otherwise scans the cold
        # cache concurrently from several branches (hub_pairs, the CC
        # edge union, both sides of the LSH self-join) and the
        # per-document UDF runs 2-3x in full — measured as a ~9x
        # wall-time blowup at low core counts in round 1, and a 2x
        # blowup at 48k docs even without cross-doc linking (stages
        # within one job run concurrently when independent)
        docs.count()
        _stage_mark("docs_materialize")
    graph = build_entity_graph(surfaces, hub_pairs, cfg,
                               counters=counters)
    _stage_mark("graph_construct_eager_cc")
    entities, mapping = graph["entities"], graph["mapping"]
    if ckpt:
        links = checkpoint_stage(spark, links, ckpt, "links",
                                 counters=counters)
        entities = checkpoint_stage(spark, entities, ckpt, "entities",
                                    counters=counters)
        mapping = checkpoint_stage(spark, mapping, ckpt, "mapping",
                                   counters=counters)
        # vocabulary-sized hub partition (hub node -> component):
        # the incremental merge plan (plans/incremental.py) seeds CC
        # and the prior vocabulary from this table, so a batch merge
        # never has to rejoin the mention-level docs/mapping tables
        checkpoint_stage(
            spark,
            graph["components"].filter(F.col("node").startswith("g:"))
            .select("node", "component"),
            ckpt, "hub_components", counters=counters)

    # triples already carry within-doc canonicals; the global rewrite
    # is two broadcast joins against the tiny alias-chain correction
    # table — no mention-table shuffle
    canon = canonicalize_triples_fused(triples_dc, graph["corrections"])
    if ckpt:
        canon = checkpoint_stage(spark, canon, ckpt, "canonical_triples",
                                 counters=counters)

    extra = {}
    if not ckpt:
        # persisted handles a long-lived caller can release once the
        # result DataFrames are consumed (unpersisting earlier would
        # force recompute from the docs cache — harmless but wasteful)
        extra["caches"] = [docs, graph_in]
    # rows_in per stage from the producing stage's rows_out (the
    # first stage is a per-row map, so its rows_in == rows_out)
    for st, c in counters.items():
        if "rows_out" not in c:
            # guard audit entries (e.g. lsh_bucket_guard) are not
            # stage tables — no rows_in/rows_out contract
            continue
        if st == "pages_clean":
            # the pre-filter stage drops rows; the raw-input count is
            # not observed (it would cost an extra pass), so rows_in
            # is deliberately left unset here
            continue
        src = _STAGE_INPUTS.get(st)
        if src is None or (src == "pages_clean" and src not in counters):
            # no producer stage (or pre-filters off): per-row map of
            # the pipeline input, rows_in == rows_out
            c["rows_in"] = c["rows_out"]
        elif src in counters:
            c["rows_in"] = counters[src]["rows_out"]
    return PipelineResult(
        tagged=tagged, tokens=tokens, mentions=mentions, triples=triples,
        links=links, entities=entities, mapping=mapping,
        canonical_triples=canon, extra=extra, counters=counters,
    )


def materialize(result: PipelineResult, out_dir: str,
                buckets: int = 64, fmt: str = "parquet") -> dict:
    return materialize_graph(result.entities, result.canonical_triples,
                             out_dir, buckets, fmt=fmt)
