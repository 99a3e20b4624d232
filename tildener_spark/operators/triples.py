"""Triple-extraction quality: set-based P/R/F1 against gold triples.

Triple extraction itself — the new-engine stage mandated by the north
rule (the reference stops at NE tagging) — runs inside the fused
per-document pass (operators/document.py doc_triples_py), with two
deterministic rules over consecutive mentions of a sentence:

  * pattern triple — at least one verb token strictly between the
    pair: pred = lemma of the first such verb;
  * co-occurrence triple — no verb between: pred = 'co_occurs'.

prob = min of the two mention probabilities (FIXTURES.md §6).  The
DuckDB mirror ``_kg_triples_sql`` in __spark_entry__.py re-derives the
same triples relationally from the mention and token tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def triple_prf(predicted: DataFrame, gold: DataFrame) -> dict:
    """Set-based triple P/R/F1 on distinct (url, subj, pred, obj).

    The parity gate of BASELINE.json: P/R >= 0.95 vs the
    reference-semantics gold."""
    key = ["url", "subj", "pred", "obj"]
    p = predicted.select(*key).distinct()
    g = gold.select(*key).distinct()
    n_pred = p.count()
    n_gold = g.count()
    n_hit = p.join(g, key, "inner").count()
    precision = n_hit / n_pred if n_pred else 0.0
    recall = n_hit / n_gold if n_gold else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall else 0.0
    )
    return {
        "precision": precision, "recall": recall, "f1": f1,
        "n_pred": n_pred, "n_gold": n_gold, "n_hit": n_hit,
    }
