"""BIO span assembly — GetFullNETagsFromTokens as a pure DataFrame op.

Reference: NERefinements.pm:219-286 — consecutive ``B-X (I-X)*`` token
runs become one full-NE record ``[lineFrom, colFrom, lineTo, colTo,
lemmas, NEtype, avgProb]`` (record layout at :279); span probability is
the arithmetic mean of token probabilities (CalculateProbibility,
NERefinements.pm:130-152).

Spark shape (SURVEY.md §2.3): classic sessionization —
  span_grp = running count of B- starts (window cumsum),
  validity  = prefix-min of "is B or matching I-" (stray I- tokens,
              i.e. I-X not preceded by B-X/I-X of the same type, join
              no span — the reference simply never starts a span
              without a B, NERefinements.pm:237),
then one hash aggregate per (url, span_grp).  Entirely whole-stage
codegen; the only shuffle is the groupBy on (url, span_grp), and since
url is the leading key it co-partitions with every other doc-local
aggregate downstream.

Why a DataFrame form stays next to the fused pass
(operators/document.py doc_mentions_py, the production span
assembly): its callers feed tagged-token tables that never come from
text — gold BIO columns (tests/test_reference_fixtures.py,
scripts/refinement_ablation.py), the ablation's planted-noise tokens
and hand-built tag runs (tests/test_spans.py) — and
tests/test_properties.py checks the fused pass against it on
adversarial documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MENTION_COLUMNS = [
    "url", "span_id", "sent_id", "begin_tok", "end_tok",
    "line_from", "col_from", "line_to", "col_to",
    "surface", "lemmas", "ne_type", "avg_prob", "n_tokens",
]


def assemble_spans(tokens: DataFrame) -> DataFrame:
    """Flat tagged-token DataFrame -> mentions DataFrame.

    Input columns: url, tok_id, sent_id, token, lemma, line_from,
    col_from, line_to, col_to, ne_tag, ne_prob (see TAGGED_STRUCT).
    """
    w = Window.partitionBy("url").orderBy("tok_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    is_b = F.col("ne_tag").startswith("B-")
    t = (
        tokens
        .withColumn("span_grp", F.sum(is_b.cast("int")).over(run))
        .withColumn("ne_type", F.regexp_replace("ne_tag", "^[BI]-", ""))
    )
    # validity: B- row, or I- row whose every predecessor in the group
    # (after the B) is an I- of the same type as the group's B.
    wg = Window.partitionBy("url", "span_grp").orderBy("tok_id")
    rung = wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = (
        t.filter(F.col("span_grp") > 0)
        .withColumn("grp_type", F.first("ne_type").over(rung))
        .withColumn(
            "ok",
            (is_b | (F.col("ne_tag") == F.concat(F.lit("I-"), F.col("grp_type"))))
            .cast("int"),
        )
        .withColumn("ok", F.min("ok").over(rung))
        .filter(F.col("ok") == 1)
    )
    return (
        t.groupBy("url", "span_grp")
        .agg(
            F.min("sent_id").alias("sent_id"),
            F.min("tok_id").alias("begin_tok"),
            F.max("tok_id").alias("end_tok"),
            F.min_by("line_from", "tok_id").alias("line_from"),
            F.min_by("col_from", "tok_id").alias("col_from"),
            F.max_by("line_to", "tok_id").alias("line_to"),
            F.max_by("col_to", "tok_id").alias("col_to"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tok_id", "token"))),
                    lambda x: x["token"],
                ), " ",
            ).alias("surface"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tok_id", "lemma"))),
                    lambda x: x["lemma"],
                ), " ",
            ).alias("lemmas"),
            F.min("grp_type").alias("ne_type"),  # constant within group
            F.avg("ne_prob").alias("avg_prob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .withColumnRenamed("span_grp", "span_id")
        .select(*MENTION_COLUMNS)
    )
