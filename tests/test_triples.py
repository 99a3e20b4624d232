"""Triple extraction (the fused pass's doc_triples_py) + the
end-to-end parity gate (P/R >= 0.95)."""

from tildener_spark.config import EngineConfig
from tildener_spark.datagen import corpus_df, gazetteer_df, split_gold
from tildener_spark.operators.document import Mention, doc_triples_py
from tildener_spark.operators.tokenize import TokenTable
from tildener_spark.operators.triples import triple_prf
from tildener_spark.plans.pipeline import run_pipeline


def _mention(sent_id, begin, end, surface, ne_type, prob):
    return Mention(0, sent_id, begin, end, 0, 0, 0, 0, surface, surface,
                   ne_type, prob, end - begin + 1)


def _tokens(sent_ids, verbs=None):
    """TokenTable with one token per entry of ``sent_ids``; ``verbs``
    maps tok_id -> lemma of a VB token, every other token is a noun."""
    verbs = verbs or {}
    tt = TokenTable()
    for k, sent_id in enumerate(sent_ids):
        tt.sent_id.append(sent_id)
        tt.pos.append("VB" if k in verbs else "NN")
        tt.lemma.append(verbs.get(k, "x"))
    return tt


def _fields(triple):
    # TRIPLE_STRUCT order: sent_id, subj, subj_type, pred, obj,
    # obj_type, prob, kind, subj_dc, obj_dc
    return dict(zip(("sent_id", "subj", "subj_type", "pred", "obj",
                     "obj_type", "prob", "kind"), triple))


def test_pattern_triple_uses_first_verb_between():
    mentions = [
        _mention(0, 0, 1, "Jānis Bērziņš", "PERS", 0.97),
        _mention(0, 4, 4, "Rīga", "LOC", 0.97),
    ]
    tt = _tokens([0] * 5, {2: "dzīvot", 3: "strādāt"})
    out = doc_triples_py(mentions, tt)
    assert len(out) == 1
    t = _fields(out[0])
    assert (t["subj"], t["pred"], t["obj"], t["kind"]) == (
        "Jānis Bērziņš", "dzīvot", "Rīga", "pattern")
    assert abs(t["prob"] - 0.97) < 1e-12


def test_cooccurrence_without_verb():
    mentions = [
        _mention(0, 0, 0, "A", "PERS", 0.9),
        _mention(0, 2, 2, "B", "ORG", 0.8),
    ]
    tt = _tokens([0] * 6, {5: "vadīt"})  # verb after both mentions
    out = doc_triples_py(mentions, tt)
    assert len(out) == 1
    t = _fields(out[0])
    assert t["pred"] == "co_occurs" and t["kind"] == "cooc"
    assert abs(t["prob"] - 0.8) < 1e-12


def test_only_consecutive_pairs():
    mentions = [
        _mention(0, 0, 0, "A", "PERS", 0.9),
        _mention(0, 2, 2, "B", "ORG", 0.9),
        _mention(0, 4, 4, "C", "LOC", 0.9),
    ]
    out = doc_triples_py(mentions, _tokens([0] * 5))
    pairs = {(_fields(t)["subj"], _fields(t)["obj"]) for t in out}
    assert pairs == {("A", "B"), ("B", "C")}  # no (A, C)


def test_no_cross_sentence_pairs():
    mentions = [
        _mention(0, 0, 0, "A", "PERS", 0.9),
        _mention(1, 2, 2, "B", "ORG", 0.9),
    ]
    assert doc_triples_py(mentions, _tokens([0, 0, 1])) == []


def test_end_to_end_triple_parity_gate(spark):
    """The BASELINE.json metric: triple P/R >= 0.95 vs gold."""
    corpus = corpus_df(spark, 40).cache()
    pages, _gm, gt, _gl = split_gold(corpus)
    res = run_pipeline(spark, pages, gazetteer_df(spark), EngineConfig())
    m = triple_prf(res.triples, gt)
    for c in res.extra["caches"]:
        c.unpersist()
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m
