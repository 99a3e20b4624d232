"""Entity linking: within-document containment rule (doc_links_py),
initialism handling, JW scores, minhash-LSH blocking."""

import pytest

from tildener_spark.config import EngineConfig
from tildener_spark.operators.document import Mention, doc_links_py
from tildener_spark.operators.linking import (
    jaro_winkler_py, lsh_candidate_pairs, with_minhash_bands)


def _mention(ne_type, surface, begin_tok):
    return Mention(0, 0, begin_tok, begin_tok, 0, 0, 0, 0, surface,
                   surface, ne_type, 0.97, len(surface.split(" ")))


def _links(rows, initialisms=frozenset()):
    """doc_links_py over one document's (ne_type, surface, begin_tok)
    mentions -> [(alias, canonical)]."""
    out = doc_links_py([_mention(*r) for r in rows],
                       frozenset(initialisms))
    return [(alias, canonical) for _t, alias, canonical, _s in out]


def test_jaro_winkler_values():
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("", "abc") == 0.0
    assert jaro_winkler_py("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler_py("dwayne", "duane") == pytest.approx(0.84, abs=1e-2)


def test_alias_containment():
    assert _links([
        ("PERS", "Jānis Bērziņš", 0),
        ("PERS", "Bērziņš", 10),
    ]) == [("Bērziņš", "Jānis Bērziņš")]


def test_alias_prefers_nearest_preceding():
    assert _links([
        ("PERS", "Jānis Bērziņš", 0),
        ("PERS", "Pēteris Bērziņš", 5),
        ("PERS", "Bērziņš", 10),
    ]) == [("Bērziņš", "Pēteris Bērziņš")]


def test_full_names_sharing_first_name_do_not_link():
    assert _links([
        ("PERS", "Elīna Rozīte", 0),
        ("PERS", "Elīna Balodis", 5),
    ]) == []


def test_initialisms_excluded_from_blocking():
    assert _links([
        ("ORG", "SIA Grauds", 0),
        ("ORG", "SIA Baltijas Banka", 5),
    ], {"SIA", "AS"}) == []


def test_initialism_variant_links():
    assert _links([
        ("ORG", "SIA Baltijas Banka", 0),
        ("ORG", "Baltijas Banka", 5),
    ], {"SIA", "AS"}) == [("Baltijas Banka", "SIA Baltijas Banka")]


def test_no_cross_document_links():
    # linking runs per document: each page sees only its own mentions
    assert _links([("PERS", "Jānis Bērziņš", 0)]) == []
    assert _links([("PERS", "Bērziņš", 10)]) == []


def test_single_token_typo_variants_do_not_link():
    # one-token surfaces that differ are disjoint token sets, so
    # neither contains the other: no within-document link (the
    # cross-document stage is what merges typo variants)
    assert _links([
        ("PERS", "Bērziņš", 0),
        ("PERS", "Berziņš", 5),
    ]) == []


def test_minhash_lsh_finds_near_duplicates(spark):
    ents = spark.createDataFrame(
        [("ORG", "Baltijas Banka"), ("ORG", "Baltijas Banke"),
         ("ORG", "Kurzemes Radio")],
        "ne_type string, surface string")
    pairs = lsh_candidate_pairs(ents)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert ("Baltijas Banka", "Baltijas Banke") in got
    assert ("Baltijas Banka", "Kurzemes Radio") not in got


def test_minhash_bands_deterministic(spark):
    df = spark.createDataFrame([("x", "abcdef")], "id string, s string")
    b1 = with_minhash_bands(df, "s").collect()[0]["bands"]
    b2 = with_minhash_bands(df, "s").collect()[0]["bands"]
    assert b1 == b2
    assert len(b1) == EngineConfig().minhash_bands


def test_banding_udf_not_duplicated_below_distinct(spark):
    """Plan-shape regression: Catalyst's InferFiltersFromGenerate +
    predicate pushdown used to clone the minhash-banding UDF below an
    upstream distinct, re-running it over every pre-distinct row
    (measured 26-40 s vs ~2 s at 200k docs).  lsh_candidate_pairs now
    persists the banded vocab as an optimizer barrier; this asserts
    the executed plan keeps exactly one banding UDF, above the
    aggregate."""
    import re

    base = spark.createDataFrame(
        [("ORG", "Baltijas Banka")] * 50 + [("ORG", "Kurzemes Radio")] * 50,
        "ne_type string, surface string")
    vocab = base.distinct()
    handles: list = []
    lsh_candidate_pairs(vocab, handles=handles)
    try:
        small = handles[0]
        plan = small._jdf.queryExecution().executedPlan().toString()
        # the banded-vocab cache child is where the UDF must live:
        # exactly one minhash ArrowEvalPython, and no aggregate above
        # it inside that child (i.e. the UDF consumes the distinct's
        # output, not its input)
        segments = plan.split("InMemoryRelation")
        for seg in segments:
            uses = seg.count("minhash_bands")
            if not uses:
                continue
            first_udf = seg.index("minhash_bands")
            first_agg = (seg.index("HashAggregate")
                         if "HashAggregate" in seg else len(seg))
            # plans print top-down: the UDF above the aggregate means
            # its line comes BEFORE the aggregate's
            assert first_udf < first_agg, (
                "banding UDF was pushed below the distinct:\n" + seg)
    finally:
        for h in handles:
            h.unpersist()
