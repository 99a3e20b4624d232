"""Property-based tests (hypothesis) for the pure-Python hot paths.

Extends the reference's golden-corpus-only test strategy (SURVEY.md
§5) with generative coverage: the vectorized numpy implementations
must agree with their scalar reference forms on arbitrary inputs, and
the text transforms must satisfy their algebraic invariants.
"""

import tempfile

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from tildener_spark.config import EngineConfig
from tildener_spark.datagen import (
    FIRST_NAMES, LAST_NAMES, LOCATIONS, NOISE_CAPS, ORG_CORES,
    ORG_INITIALISMS, URL_TOKENS, world_gazetteer)
from tildener_spark.operators.classify import (
    build_gazetteer_index, make_tag_pages_udf)
from tildener_spark.operators.document import (
    explode_docs, make_process_document_udf, process_document_py)
from tildener_spark.operators.linking import (
    jaro_winkler_np, jaro_winkler_py)
from tildener_spark.operators.spans import assemble_spans
from tildener_spark.operators.tokenize import (
    explode_tokens, remove_empty_lines_py, tokenize_text_py)

# mixed-script text including Latvian diacritics, ASCII, punctuation
_CHARS = st.characters(
    whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
    whitelist_characters="āčēģīķļņšūžĀČĒĢĪĶĻŅŠŪŽ\n")
_TEXT = st.text(alphabet=_CHARS, max_size=200)
_WORD = st.text(alphabet=_CHARS.filter(lambda c: c != "\n"), max_size=24)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_WORD, _WORD), min_size=1, max_size=40))
def test_jaro_winkler_np_equals_scalar(pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    out = jaro_winkler_np(a, b)
    for (x, y), v in zip(pairs, out):
        assert abs(jaro_winkler_py(x, y) - v) < 1e-12, (x, y)


@settings(max_examples=200, deadline=None)
@given(_TEXT, st.integers(min_value=0, max_value=3))
def test_remove_empty_lines_invariants(text, mode):
    out = remove_empty_lines_py(text, mode)
    # idempotent for every mode (a second application is a no-op)
    assert remove_empty_lines_py(out, mode) == out
    # mode 1 keeps all lines (modulo CR/BOM normalization)
    norm = "\n".join(ln.lstrip("﻿").rstrip("\r")
                     for ln in text.split("\n"))
    assert remove_empty_lines_py(text, 1) == norm
    # non-1/2 modes leave no empty line
    if mode not in (1, 2):
        assert all(ln != "" for ln in out.split("\n")) or out == ""
    # non-blank content is preserved in order for every mode
    content = [ln for ln in norm.split("\n") if ln != ""]
    assert [ln for ln in out.split("\n") if ln != ""] == content


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_tokenizer_offsets_are_exact(text):
    """FindTokenPos invariant (NEPreprocess.pm:391-399): every token's
    recorded (line, col_from..col_to) slice reproduces the token."""
    lines = text.split("\n")
    for t in tokenize_text_py(text):
        assert t["line_from"] == t["line_to"]
        line = lines[t["line_from"]]
        assert line[t["col_from"]: t["col_to"] + 1] == t["token"]


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_tokenizer_ids_monotone(text):
    toks = tokenize_text_py(text)
    assert [t["tok_id"] for t in toks] == list(range(len(toks)))
    sents = [t["sent_id"] for t in toks]
    assert all(b - a in (0, 1) for a, b in zip(sents, sents[1:]))
    # offsets advance within a line
    by_line: dict[int, list] = {}
    for t in toks:
        by_line.setdefault(t["line_from"], []).append(t)
    for ts in by_line.values():
        for a, b in zip(ts, ts[1:]):
            assert b["col_from"] > a["col_to"]


# ------------------------------------------------------- fused parity
# VERDICT r02 next-round item 7: the fused one-Arrow-pass pipeline
# (operators/document.py) must equal its independent references on
# ADVERSARIAL documents, not just the synthetic corpus distribution —
# r2's ADVICE #2 (repeated-token surfaces) was exactly a divergence
# that distribution missed.  The generator below targets the known
# danger zones: repeated tokens inside surfaces, initialism-only
# surfaces, mixed blank-run paragraph structure, surfaces split
# across line breaks, ALL-CAPS lines, punctuation-glued mentions.

_GAZ_ROWS = world_gazetteer()
_GAZ = build_gazetteer_index(_GAZ_ROWS)
_INITS = frozenset(s for t, s in _GAZ_ROWS if t == "ORG_INIT")
_CFG = EngineConfig()

_FN = FIRST_NAMES[:6]
_LN = LAST_NAMES[:6]
_ORG = ORG_CORES[:6]

_FRAGMENTS = (
    # plain gazetteer surfaces
    [f"{f} {l}" for f in _FN[:3] for l in _LN[:3]]
    + _LN + LOCATIONS[:6] + _ORG
    + [f"{i} {c}" for i in ORG_INITIALISMS for c in _ORG[:3]]
    # repeated tokens INSIDE surfaces (ADVICE r2 #2 class)
    + [f"{l} {l}" for l in _LN[:4]]
    + [f"{f} {f} {l}" for f, l in zip(_FN[:3], _LN[:3])]
    + [f"{c} {c}" for c in _ORG[:2]]
    # initialism-only surfaces (no core after the cue)
    + list(ORG_INITIALISMS)
    + [f"{i} {i}" for i in ORG_INITIALISMS]
    + [f"{i}." for i in ORG_INITIALISMS]
    # cues / verbs / filler / noise
    + ["vadīja", "apmeklēja", "satika", "kungs", "kundze",
       "šodien", "tomēr", "arī", "gada", "projekta"]
    + NOISE_CAPS[:4] + URL_TOKENS
    # punctuation glue
    + [",", ".", "!", "?", "—", "\"", "(", ")", "«", "»", "…", ":"]
)

_FRAG = st.sampled_from(_FRAGMENTS)

# a physical line: fragments space-joined, sometimes ALL-CAPS,
# sometimes punctuation-glued to the previous fragment
_LINE = st.builds(
    lambda frags, caps, glue: (
        ("".join if glue else " ".join)(frags).upper()
        if caps else ("".join if glue else " ".join)(frags)),
    st.lists(_FRAG, min_size=0, max_size=7),
    st.sampled_from([False, False, False, True]),  # ALL-CAPS line
    st.sampled_from([False, False, False, True]),  # no-space glue
)

# a line unit: (text possibly spanning 2 lines, blank-run after it)
_UNIT = st.builds(
    lambda line, split_org, blanks: (
        (split_org.replace(" ", "\n", 1) + " " + line)
        if split_org else line,
        blanks),
    _LINE,
    st.sampled_from([None, None, None] + _ORG[:3]),  # multi-line span bait
    st.lists(st.sampled_from(["", " ", "\t", "  "]),
             min_size=0, max_size=3),
)

_ADV_DOC = st.lists(_UNIT, min_size=0, max_size=8).map(
    lambda units: "\n".join(
        part for line, blanks in units for part in [line, *blanks]))


@settings(max_examples=200, deadline=None)
@given(_ADV_DOC)
def test_fused_pass_invariants_adversarial(text):
    """Pure-Python level (200 examples): the fused per-document pass is
    deterministic and internally consistent on adversarial text."""
    d1 = process_document_py(text, _GAZ, _INITS, _CFG)
    d2 = process_document_py(text, _GAZ, _INITS, _CFG)
    assert d1 == d2  # determinism (memo cache must not change results)

    toks = d1["tokens"]
    lines = text.split("\n")
    # token offsets reproduce the source text exactly
    for t in toks:
        assert lines[t[6]][t[7]: t[9] + 1] == t[2]
    by_id = {t[0]: t for t in toks}
    surfaces = set()
    for m in d1["mentions"]:
        span_toks = [by_id[i] for i in range(m.begin_tok, m.end_tok + 1)]
        assert span_toks, m
        # mention surface is exactly its tokens space-joined
        assert m.surface == " ".join(t[2] for t in span_toks)
        assert m.n_tokens == len(span_toks)
        assert (m.line_from, m.col_from) == (span_toks[0][6],
                                             span_toks[0][7])
        assert (m.line_to, m.col_to) == (span_toks[-1][8],
                                         span_toks[-1][9])
        surfaces.add((m.ne_type, m.surface))
    for tr in d1["triples"]:
        assert (tr[2], tr[1]) in surfaces  # subj_type, subj
        assert (tr[5], tr[4]) in surfaces  # obj_type, obj
    for ne_type, alias, canonical, score in d1["links"]:
        assert (ne_type, alias) in surfaces
        assert (ne_type, canonical) in surfaces
        assert alias != canonical
        assert 0.0 <= score <= 1.0


def _sorted_rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@settings(max_examples=10, deadline=None)
@given(st.lists(_ADV_DOC, min_size=25, max_size=25))
def test_fused_equals_dataframe_adversarial(spark, texts):
    """Spark level, 250 adversarial documents per run (10 hypothesis
    examples x 25 docs, batched so each example is one set of Spark
    jobs instead of 250 separate ones): fused mentions equal
    operators/spans.assemble_spans over the same tagged tokens, and
    fused triples and links equal the DuckDB mirrors _kg_triples_sql /
    _kg_links_sql run over parquet of the mentions, tagged tokens and
    initialisms."""
    import duckdb

    from __spark_entry__ import _kg_links_sql, _kg_triples_sql

    pages = spark.createDataFrame(
        [(f"adv://{i}", "lv", t) for i, t in enumerate(texts)],
        "url string, lang string, text string")
    docs = pages.select(
        "url", "lang",
        make_process_document_udf(_GAZ_ROWS, _CFG, _INITS)(
            F.col("text")).alias("doc")).persist()
    tagged = pages.select(
        "url", "lang",
        make_tag_pages_udf(_GAZ_ROWS, _CFG)(F.col("text")).alias("tokens"))
    tokens = explode_tokens(tagged).persist()
    op_m = assemble_spans(tokens)

    m_cols = ["url", "span_id", "sent_id", "begin_tok", "end_tok",
              "line_from", "col_from", "line_to", "col_to",
              "surface", "lemmas", "ne_type", "n_tokens"]
    fused_m = explode_docs(docs, "mentions")
    assert _sorted_rows(fused_m, m_cols) == _sorted_rows(op_m, m_cols)
    # probs separately with rounding (float-sum order differs)
    p_cols = ["url", "begin_tok", "p"]
    assert (_sorted_rows(fused_m.withColumn(
                "p", F.round("avg_prob", 9)), p_cols)
            == _sorted_rows(op_m.withColumn(
                "p", F.round("avg_prob", 9)), p_cols))
    # same dtypes (the oracle harness's hash compare relies on them)
    assert (dict(fused_m.select(*m_cols, "avg_prob").dtypes)
            == dict(op_m.select(*m_cols, "avg_prob").dtypes))

    with tempfile.TemporaryDirectory() as base:
        fused_m.write.parquet(f"{base}/mentions.parquet")
        tokens.write.parquet(f"{base}/tagged_tokens.parquet")
        spark.createDataFrame(
            [("ORG_INIT", s) for s in sorted(_INITS)],
            "ne_type string, surface string",
        ).write.parquet(f"{base}/gaz_existing.parquet")
        want_t = sorted(duckdb.sql(_kg_triples_sql(base)).fetchall())
        want_l = sorted(duckdb.sql(_kg_links_sql(base)).fetchall())

    got_t = _sorted_rows(
        explode_docs(docs, "triples").withColumn(
            "prob", F.round("prob", 6)),
        ["url", "sent_id", "subj", "subj_type", "pred",
         "obj", "obj_type", "prob", "kind"])
    assert got_t == want_t
    got_l = _sorted_rows(
        explode_docs(docs, "links").withColumn(
            "score", F.round("score", 6)),
        ["url", "ne_type", "alias", "canonical", "score"])
    assert got_l == want_l
    docs.unpersist()
    tokens.unpersist()


def _repetition_ref(text):
    """Independent scalar implementation of the repetition metrics
    (operators/textstats.py), ASCII-whitespace semantics matching
    Spark's trim/\\s exactly: trim strips 0x20 only, \\s is the Java
    default class [ \\t\\n\\x0b\\f\\r]."""
    import re as _re
    from collections import Counter
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    n_lines = len(lines)
    dist = set(lines)
    total = sum(map(len, lines))
    distc = sum(map(len, dist))
    words = [w for w in _re.sub("[ \t\n\x0b\f\r]+", " ", text)
             .strip(" ").split(" ") if w]
    bigrams = Counter(zip(words, words[1:]))
    best = max((c * (len(a) + len(b))
                for (a, b), c in bigrams.items()), default=0)
    wc = sum(map(len, words))
    dlf = (n_lines - len(dist)) / max(n_lines, 1)
    dcf = (total - distc) / max(total, 1)
    tbf = best / max(wc, 1)
    return (n_lines, dlf, dcf, tbf,
            dlf > 0.30 or dcf > 0.20 or tbf > 0.18)


@settings(max_examples=10, deadline=None)
@given(st.lists(_TEXT, min_size=20, max_size=20))
def test_repetition_profile_equals_scalar_reference(spark, texts):
    """The array-fold repetition metrics equal an independent scalar
    implementation on arbitrary mixed-script text (incl. unicode Zs
    spaces, which are NOT \\s in Java/RE2 — both sides must treat
    them as word chars).  200 adversarial docs per run, batched."""
    from tildener_spark.operators.textstats import repetition_profile
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_profile(d).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        n_lines, dlf, dcf, tbf, flag = _repetition_ref(t)
        r = got[i]
        assert r["n_lines"] == n_lines, (i, t)
        assert abs(r["dup_line_frac"] - round(dlf, 6)) <= 2e-6, (i, t)
        assert abs(r["dup_line_char_frac"] - round(dcf, 6)) <= 2e-6, (i, t)
        assert abs(r["top_bigram_char_frac"] - round(tbf, 6)) <= 2e-6, (i, t)
        assert r["flagged"] == flag, (i, t)
