"""Cross-document surface merging (minhash-LSH blocking + JW scoring
-> hub-hub edges -> CC), the north-star linking stage."""

from tildener_spark.config import EngineConfig
from tildener_spark.operators.graph import build_entity_graph
from tildener_spark.operators.linking import jaro_winkler_py


def _graph_inputs(spark):
    """Per-document surfaces and hub pairs as the fused pass emits
    them: no within-doc aliases, so every surface is its own
    doc-canonical and no alias chain yields a hub pair."""
    rows = [
        # same entity, diacritic/typo variants across documents
        ("u1", "PERS", "Janis Berzins", "Janis Berzins"),
        ("u2", "PERS", "Janis Berzinsh", "Janis Berzinsh"),
        # distinct people that must NOT merge
        ("u1", "PERS", "Anna Kalnina", "Anna Kalnina"),
        ("u3", "PERS", "Ilze Liepa", "Ilze Liepa"),
        # orgs: exact surface merges via hubs regardless of LSH
        ("u1", "ORG", "SIA Grauds", "SIA Grauds"),
        ("u2", "ORG", "SIA Grauds", "SIA Grauds"),
    ]
    surfaces = spark.createDataFrame(
        rows, "url string, ne_type string, surface string,"
              " doc_canonical string")
    hub_pairs = spark.createDataFrame([], "src string, dst string")
    return surfaces, hub_pairs


def test_thresholds_are_sane():
    near = jaro_winkler_py("janis berzins", "janis berzinsh")
    far = jaro_winkler_py("janis berzins", "anna kalnina")
    cfg = EngineConfig()
    assert near >= cfg.cross_doc_min_score
    assert far < cfg.cross_doc_min_score


def test_cross_doc_merges_typo_variants(spark):
    g = build_entity_graph(*_graph_inputs(spark), EngineConfig())
    ents = {r["canonical"]: r for r in g["entities"].collect()}
    # the two Janis variants collapse into ONE entity spanning 2 docs
    janis = [c for c in ents if c.startswith("Janis")]
    assert len(janis) == 1
    assert ents[janis[0]]["n_docs"] == 2
    assert ents[janis[0]]["n_surfaces"] == 2
    # unrelated people survive as their own entities
    assert "Anna Kalnina" in ents and "Ilze Liepa" in ents
    # exact-surface org merged by hubs
    assert ents["SIA Grauds"]["n_docs"] == 2
