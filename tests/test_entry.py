"""Driver-contract smoke: entry() + cheap queries() at sf0.001."""

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE

CHEAP = [
    "q01_pricing_summary", "q02_top_customers_per_nation",
    "q03_events_sessionize", "q04_token_explode", "q05_span_assembly",
    "q06_lemma_stats", "q07_doc_rating", "q08_top_docs_per_type",
    "q09_eval_tallies", "q12_simhash", "q14_lang_id", "q15_quality",
    "q16_token_counts", "q17_fingerprint", "q18_embedding_topk",
    "q20_events_hourly",
]


def test_oracle_keys_subset_of_queries():
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q
    assert len(o) >= 20


@pytest.mark.parametrize("name", CHEAP)
def test_query_runs_at_smoke_sf(spark, name):
    df = entry_mod.queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0
    assert df.columns


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "subj_canonical" in df.columns


def test_jw_translate_alphabet_guard():
    """The kg_links / kg_entities oracles map diacritics to unused ASCII so
    DuckDB's byte-level jaro_winkler_similarity computes over exactly
    our codepoints.  Guard the two assumptions: the map is injective,
    and the datagen corpus alphabet never grows a lowercase non-ASCII
    char outside the source map or a token char colliding with a
    target (digits are real token chars, so targets are punctuation)."""
    from __spark_entry__ import _JW_DST, _JW_SRC
    from tildener_spark.datagen import gen_doc

    assert len(_JW_SRC) == len(set(_JW_SRC)) == len(_JW_DST) \
        == len(set(_JW_DST))
    chars: set[str] = set()
    for i in range(500):
        chars.update(gen_doc(i)["text"].lower())
    assert {c for c in chars if ord(c) > 127} <= set(_JW_SRC)
    assert not set(_JW_DST) & chars


def test_cross_doc_stage_exercised(spark):
    """The kg_entities oracle mirrors the cross-document LSH arm.  On
    the registry's 120-page KG corpus that arm must accept at least
    one pair over the vocabulary the graph stage builds: if this ever
    stops holding, the datagen corpus no longer contains a >=8-char
    typo/diacritic surface pair above the 0.94 JW bar and the arm has
    gone vacuously green."""
    import pyspark.sql.functions as F

    from tildener_spark.datagen import corpus_df, gazetteer_df, split_gold
    from tildener_spark.operators.document import (
        explode_docs, make_process_document_udf)
    from tildener_spark.operators.graph import (
        cross_doc_vocab, lsh_candidate_pairs, score_cross_pairs)

    pages, *_ = split_gold(corpus_df(spark, 120))
    gaz = [(r["ne_type"], r["surface"])
           for r in gazetteer_df(spark).collect()]
    inits = {s for t, s in gaz if t == "ORG_INIT"}
    doc_udf = make_process_document_udf(
        gaz, initialisms=inits, emit_tokens=False, emit_mentions=False)
    docs = pages.select("url", doc_udf(F.col("text")).alias("doc"))
    vocab = cross_doc_vocab(explode_docs(docs, "surfaces"))
    handles: list = []
    accepted = score_cross_pairs(
        lsh_candidate_pairs(vocab, handles=handles)).count()
    for h in handles:
        h.unpersist()
    assert accepted >= 1
