"""Engine configuration.

The reference's config surface is the Stanford property file plus
positional CLI args of the RUN-* scripts (NEUtilities.pm:325-514).  We
keep the user-visible knobs — most importantly the refinement order
string, e.g. ``"L N S R_0.7 C T_0.90 A"`` (RUN-NEMuc7TagPlaintext.sh:8,
default ``"L N S R_0.7 C T_0.90"`` at NERefinements.pm:40) — in one
dataclass.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Short <-> MUC-7 type mapping, NEUtilities.pm:54-127.
SHORT_TO_MUC = {
    "PERS": ("PERSON", "ENAMEX"),
    "LOC": ("LOCATION", "ENAMEX"),
    "ORG": ("ORGANIZATION", "ENAMEX"),
    "PROD": ("PRODUCT", "ENAMEX"),
    "DATE": ("DATE", "TIMEX"),
    "TIME": ("TIME", "TIMEX"),
    "MON": ("MONEY", "NUMEX"),
}
MUC_TO_SHORT = {muc: short for short, (muc, _elem) in SHORT_TO_MUC.items()}
NE_TYPES = tuple(SHORT_TO_MUC)
# Types eligible for gazetteer extraction, NEUtilities.pm:26-45.
GAZETTEER_TYPES = ("PERS", "LOC", "ORG")
# Token-level label space: {B-,I-} x types + O  (NEEvaluation_v2.pl:40-55).
BIO_LABELS = tuple(
    f"{p}-{t}" for t in NE_TYPES for p in ("B", "I")
) + ("O",)


@dataclass
class EngineConfig:
    """All tunables of the pipeline, reference-compatible defaults."""

    # Refinement order string, parsed like NERefinements.pm:58-101.
    refinements: str = "L N S R_0.7 C T_0.90 A"
    # RemoveEmptyLines mode: 1 keep all, 2 keep runs>=2, else drop all
    # (NEPreprocess.pm:23-72).  Default 1: the flagship invocation
    # (RUN-NEMuc7TagPlaintext.sh:8) passes a falsy 5th arg, so
    # Tag.pm:290 calls RemoveEmptyLines with option 1.  Consumed by
    # operators.tokenize.remove_empty_lines_py (the literal text
    # transform) and by refinement A's paragraph-gap rule
    # (operators/refine.py): surviving blank runs are what count as
    # paragraph breaks.
    empty_line_mode: int = 1
    # Bootstrap thresholds (BASELINE.md).
    gazetteer_min_prob: float = 0.95   # BootstrapNEModel.pl:355
    gazetteer_max_tokens: int = 10     # BootstrapTools.pm:764
    sentence_min_other_prob: float = 0.8  # BootstrapTools.pm:549
    paragraph_break_prob: float = 0.8  # NEUtilities.pm:202
    morpho_fingerprint_cap: int = 3    # BootstrapTools.pm:549
    min_sentence_tokens: int = 3       # BootstrapTools.pm:549
    # Entity-linking knobs (new-engine; north_rule).
    minhash_rows: int = 4
    minhash_bands: int = 8             # 32 hashes total
    shingle_size: int = 3
    # Cross-document surface merging (always on): minhash-LSH blocking
    # over the global (type, doc-canonical surface) vocabulary +
    # Jaro-Winkler scoring; accepted pairs become hub-hub edges for CC.
    # High bar: merges typo/diacritic variants, not merely similar
    # names.  Banding is an Arrow-batched numpy UDF and scoring a
    # numpy-vectorized Jaro-Winkler, so the stage costs a small
    # fraction of the pipeline (BENCH/BASELINE.md).
    cross_doc_min_score: float = 0.94
    # surfaces shorter than this skip LSH (few shingles -> minhash
    # collides on everything; exact-surface hub merging covers them)
    cross_doc_min_len: int = 8
    cc_max_iterations: int = 20
    # Connected components runs driver-side union-find when the edge
    # set is below this (the broadcast-join size-adaptivity pattern);
    # the iterated self-join path handles anything larger.  Sized for
    # the Arrow-lean collect in components.py: 500k edges of two
    # ~40-char ids ≈ 40 MB of string bytes + ~50 B/str Python object
    # overhead ≈ 140 MB peak, comfortably inside a default 1 GB
    # driver (ADVICE r02 flagged the old 1M-edge default as
    # optimistic under Row-object overhead).
    cc_driver_threshold: int = 500_000
    # Skew handling: salt fan-out for connected-components joins.
    salt_buckets: int = 16
    # Deterministic seed for anything sampled.
    seed: int = 42
    # Crawl-hygiene pre-filters ahead of tagging (off by default: the
    # reference-parity corpora are already curated; a raw-crawl run
    # turns them on).  url_dedup keeps the earliest fetch per
    # canonical URL (operators/urls.py); repetition_filter drops
    # pages failing the Gopher repetition rules
    # (operators/textstats.py filter_repetitive).
    url_dedup: bool = False
    repetition_filter: bool = False
    # DataFrameWriter format for graph materialization ("parquet",
    # "orc", or "iceberg" when its runtime jar is on the classpath;
    # operators/graph.py materialize_graph).
    table_format: str = "parquet"
    # Where stage checkpoints go (per-stage parquet + _lineage rows).
    checkpoint_dir: str | None = None
    # >1: the expensive per-document UDF stage checkpoints as this
    # many independently-committed slices keyed by hash(url), so a
    # killed run resumes computing ONLY the missing slices
    # (plans/lineage.py; SURVEY.md §4.3.5).  1 = whole-stage commit.
    checkpoint_slices: int = 1
    extra: dict = field(default_factory=dict)

    def refinement_steps(self) -> list[tuple[str, float | None]]:
        """Parse ``"L N S R_0.7 C T_0.90 A"`` into [(letter, thr)].

        Mirrors the split/threshold parse at NERefinements.pm:58-80;
        unknown letters are ignored (reference warns and skips).
        """
        steps: list[tuple[str, float | None]] = []
        for part in self.refinements.split():
            if "_" in part:
                letter, _, thr = part.partition("_")
                try:
                    steps.append((letter.upper(), float(thr)))
                except ValueError:
                    continue
            else:
                steps.append((part.upper(), None))
        return steps
