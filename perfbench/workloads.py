"""The three workloads, each driven by one closed-loop client.

The client issues one operation, waits for it, checks its output and
only then issues the next, until ``--seconds`` have passed (at least
one operation always runs).

* ``batch_short`` / ``long_pages``: an operation is one full build,
  ``run_pipeline`` -> ``canonical_triples`` -> ``materialize``
  (nodes and edges written).  The two differ only in page length.
* ``recrawl_epochs``: an operation is one cycle: the base state is
  copied (untimed), ``RECRAWL_EPOCHS`` ``merge_batch`` epochs run (half
  new urls, half re-crawls), and one ``compact(rebuild=True)`` ends it.

Set-up (input generation, warm-up, the recrawl base state and the
reference digest) is everything before the first timed operation; it
is timed apart from the operations; see README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.datagen import gazetteer_df, world_gazetteer
from tildener_spark.operators.classify import build_gazetteer_index
from tildener_spark.operators.document import process_document_py
from tildener_spark.operators.graph import score_cross_pairs
from tildener_spark.operators.triples import triple_prf
from tildener_spark.plans import pipeline
from tildener_spark.streaming.kgstream import KGState

import inputs
from spans import Tracer, executor_totals, job_stats

# -- sizes ----------------------------------------------------------------
SHORT_PAGES = 24_000
LONG_PAGES = 80
WARMUP_PAGES = 200
RECRAWL_BASE = 900           # 90% of the recrawl corpus
RECRAWL_EPOCHS = 1
RECRAWL_EPOCH_PAGES = 100    # half new urls, half re-crawls
SETUP_ROUNDS = 3             # input generation repeats; median is used
GRAPH_BUCKETS = 8             # nodes/edges partitions (a few thousand rows)
PYTHON_SAMPLE = 48           # pages timed through process_document_py

# output checks: the generator's gold (BASELINE.json parity gate)
MIN_PRECISION = 0.95
MIN_RECALL = 0.95

CANON_COLS = ["url", "sent_id", "subj", "subj_canonical", "subj_type",
              "pred", "obj", "obj_canonical", "obj_type", "prob", "kind"]

BATCH_TARGETS = {
    "tildener_spark.plans.pipeline:run_pipeline": "pipeline.run_pipeline",
    "tildener_spark.plans.pipeline:build_entity_graph":
        "graph.build_entity_graph",
    "tildener_spark.operators.graph:lsh_candidate_pairs":
        "linking.lsh_candidate_pairs",
    "tildener_spark.operators.graph:connected_components":
        "components.connected_components",
    "tildener_spark.plans.pipeline:canonicalize_triples_fused":
        "graph.canonicalize_triples_fused",
    "tildener_spark.plans.pipeline:materialize_graph":
        "graph.materialize_graph",
}
RECRAWL_TARGETS = {
    "tildener_spark.streaming.kgstream:KGState.merge_batch":
        "kgstream.merge_batch",
    "tildener_spark.streaming.kgstream:KGState.read": "kgstream.read",
    "tildener_spark.streaming.kgstream:KGState.compact": "kgstream.compact",
    "tildener_spark.streaming.kgstream:run_pipeline_incremental":
        "incremental.run_pipeline_incremental",
    "tildener_spark.plans.incremental:lsh_candidate_pairs":
        "linking.lsh_candidate_pairs",
    "tildener_spark.plans.incremental:connected_components":
        "components.connected_components",
    "tildener_spark.plans.incremental:rebuild_graph_stage":
        "incremental.rebuild_graph_stage",
    "pyspark.sql.readwriter:DataFrameWriter.parquet": "kgstream.write",
}
# spans whose arguments/results feed the post-operation counts
KEEP_IO = frozenset({"linking.lsh_candidate_pairs",
                     "components.connected_components",
                     "incremental.run_pipeline_incremental"})


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    cores: int
    seed: int
    seconds: float
    trace: bool
    partitions: int


@dataclass
class Outcome:
    """What one run measured; run.py turns it into metrics."""
    setup_s: float                   # before the first timed operation
    op_walls: list[float]            # one per operation (build/epoch)
    cycle_walls: list[float]         # one per client cycle
    pages_per_op: int
    precision: float
    recall: float
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)   # printed, not gated
    layers: dict = field(default_factory=dict)  # --trace 1 only


# -- helpers --------------------------------------------------------------
def tail(values: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are ten samples or fewer."""
    s = sorted(values)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def digest(df: DataFrame) -> tuple[int, str]:
    """Order-independent digest of a canonical-triple table: row count
    and the sum of the rows' 64-bit hashes."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*CANON_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path, Spark's hidden files excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _setup_rounds(stage) -> list[float]:
    """Generate the inputs SETUP_ROUNDS times (round r into its own
    directories; round 0's are used)."""
    return [_timed(stage, r) for r in range(SETUP_ROUNDS)]


def _check_prf(prf: dict, where: str) -> None:
    if prf["precision"] < MIN_PRECISION or prf["recall"] < MIN_RECALL:
        raise AssertionError(f"{where}: triple P/R below gate: {prf}")


def report_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr, flush=True)


def _release(res) -> None:
    for c in res.extra.get("caches", []):
        c.unpersist()


def _python_ms_per_page(pages: DataFrame) -> float:
    """Mean in-process process_document_py time over a length-
    stratified sample (every k-th page by text length)."""
    texts = sorted((r["text"] or "" for r in pages.select("text").collect()),
                   key=len)
    step = max(1, len(texts) // PYTHON_SAMPLE)
    sample = texts[step // 2::step]
    cfg = EngineConfig()
    rows = world_gazetteer()
    gaz = build_gazetteer_index(rows)
    inits = frozenset(s for t, s in rows if t == "ORG_INIT")
    t0 = time.perf_counter()
    for t in sample:
        process_document_py(t, gaz, inits, cfg, emit_tokens=False,
                            emit_mentions=False)
    return (time.perf_counter() - t0) * 1000 / len(sample)


# -- per-layer metrics from one traced operation -----------------------------
def _sum(spans) -> float:
    return sum(s.duration for s in spans)


def _io_counts(tr: Tracer, root) -> dict:
    """Counts that need extra Spark actions, made after the timed
    operation from the kept arguments/results of its spans."""
    cfg = EngineConfig()
    out = {"vocab_rows": 0, "candidate_pairs": 0, "accepted_pairs": 0,
           "bucket_rows_dropped": 0, "edges_in": 0}
    for s in tr.named("linking.lsh_candidate_pairs", root):
        out["vocab_rows"] += s.args[0].count()
        out["candidate_pairs"] += s.result.count()
        out["accepted_pairs"] += score_cross_pairs(s.result, cfg).count()
        guard = (s.kwargs.get("counters") or {}).get("lsh_bucket_guard", {})
        out["bucket_rows_dropped"] += guard.get("rows_dropped", 0)
    for s in tr.named("components.connected_components", root):
        out["edges_in"] += s.args[0].count()
    return out


def _op_layers(tr: Tracer, root, exec_delta: dict, entry: str,
               first_cross: str) -> dict:
    """Layer metrics of one operation's span tree."""
    sc = tr.sc
    m = {f"pipeline.{k}": v
         for k, v in job_stats(sc, tr.jobs(root)).items()}
    m.update({f"pipeline.{k}": v for k, v in exec_delta.items()})
    starts = tr.named(entry, root)
    cross = tr.named(first_cross, root)
    m["document.self_s"] = (cross[0].start - starts[0].start
                            if starts and cross else 0.0)
    lsh = tr.named("linking.lsh_candidate_pairs", root)
    cc = tr.named("components.connected_components", root)
    m["linking.lsh_s"] = _sum(lsh)
    m["components.cc_s"] = _sum(cc)
    m["components.spark_jobs"] = sum(len(tr.jobs(s)) for s in cc)
    eg = tr.named("graph.build_entity_graph", root)
    m["graph.entity_graph_s"] = _sum(eg)
    m["graph.entity_graph_self_s"] = sum(tr.self_time(s) for s in eg)
    m["graph.canonicalize_s"] = _sum(
        tr.named("graph.canonicalize_triples_fused", root))
    m["graph.materialize_s"] = _sum(tr.named("graph.materialize_graph", root))
    m["incremental.merge_s"] = _sum(
        tr.named("incremental.run_pipeline_incremental", root))
    m["kgstream.read_s"] = _sum(tr.named("kgstream.read", root))
    m["kgstream.epoch_write_s"] = _sum(
        s for s in tr.named("kgstream.write", root)
        if tr.parent_name(s) == "kgstream.merge_batch")
    counts = _io_counts(tr, root)
    m.update({f"linking.{k}": counts[k] for k in
              ("vocab_rows", "candidate_pairs", "accepted_pairs",
               "bucket_rows_dropped")})
    m["linking.accept_ratio"] = (counts["accepted_pairs"]
                                 / counts["candidate_pairs"]
                                 if counts["candidate_pairs"] else 0.0)
    m["components.edges_in"] = counts["edges_in"]
    merges = tr.named("incremental.run_pipeline_incremental", root)
    m["incremental.vocab_delta"] = sum(
        s.result["counters"]["vocab_delta"]["rows_out"] for s in merges)
    m["trace.unspanned_s"] = tr.self_time(root)
    return m


def _mean_layers(per_op: list[dict]) -> dict:
    return {k: statistics.fmean(d[k] for d in per_op) for k in per_op[0]}


# -- batch workloads ---------------------------------------------------------
def _batch_op(spark, pages, gaz, out_dir):
    res = pipeline.run_pipeline(spark, pages, gaz, EngineConfig())
    pipeline.materialize(res, out_dir, buckets=GRAPH_BUCKETS)
    return res


def run_batch(ctx: Ctx, long: bool) -> Outcome:
    spark, work = ctx.spark, ctx.work

    def stage(r: int) -> str:
        path = os.path.join(work, f"corpus{r}")
        if long:
            inputs.write_long(path, LONG_PAGES, ctx.seed, ctx.partitions)
        else:
            inputs.write_short(path, SHORT_PAGES, ctx.seed, ctx.partitions)
        return path

    # one untimed build over a small corpus warms JVM code generation
    # and Spark's Python workers, so every timed build runs warm (a
    # warm-up over the workload's own pages costs more and left the
    # timed builds no faster or steadier)
    warm = os.path.join(work, "warm")
    inputs.write_short(warm, WARMUP_PAGES, ctx.seed + 1, ctx.partitions)
    rounds = _setup_rounds(stage)
    gaz = gazetteer_df(spark)
    t0 = time.perf_counter()
    _release(_batch_op(spark, inputs.pages_of(spark.read.parquet(warm)),
                       gaz, os.path.join(work, "warm_out")))
    warmup_s = time.perf_counter() - t0
    corpus = spark.read.parquet(os.path.join(work, "corpus0"))
    pages, gold = inputs.pages_of(corpus), inputs.gold_of(corpus)
    n_pages = pages.count()

    out = Outcome(statistics.median(rounds) + warmup_s, [], [], n_pages,
                  0.0, 0.0)
    out.extra.update(warmup_s=warmup_s, setup_rounds_s=rounds)
    want: list = []             # digest of the first build

    def build() -> float:
        """One checked build; returns its wall time."""
        out_dir = os.path.join(work, "graph")
        t = time.perf_counter()
        res = _batch_op(spark, pages, gaz, out_dir)
        wall = time.perf_counter() - t
        try:
            got = digest(res.canonical_triples)
            if not want:
                prf = triple_prf(res.canonical_triples, gold)
                _check_prf(prf, "canonical triples")
                out.precision, out.recall = prf["precision"], prf["recall"]
                want.append(got)
            elif got != want[0]:
                raise AssertionError(f"digest {got} != first build {want}")
        finally:
            _release(res)
            shutil.rmtree(out_dir, ignore_errors=True)
        return wall

    t_start = time.perf_counter()
    while out.attempted == 0 or time.perf_counter() - t_start < ctx.seconds:
        out.attempted += 1
        try:
            wall = build()
        except Exception:
            out.failed += 1
            report_failure("batch build")
            continue
        out.op_walls.append(wall)
        out.cycle_walls.append(wall)

    if ctx.trace and out.op_walls:
        out.attempted += 1
        try:
            out.layers, out.extra["span_names"] = _trace_batch(
                ctx, pages, gaz, want[0])
        except Exception:
            out.failed += 1
            report_failure("traced build")
        else:
            # compared with the untraced build just before it
            _finish_trace(out.layers, out.op_walls[-1], warmup_s)
            out.layers["document.python_ms_per_page"] = \
                _python_ms_per_page(pages)
            _finish_doc_layers(out.layers, n_pages, ctx.cores)
    return out


def _trace_batch(ctx: Ctx, pages, gaz, want) -> tuple[dict, list[str]]:
    spark = ctx.spark
    out_dir = os.path.join(ctx.work, "graph_traced")
    with Tracer(spark.sparkContext, KEEP_IO).patch(BATCH_TARGETS) as tr:
        before = executor_totals(spark.sparkContext)
        t = time.perf_counter()
        res = tr.call("bench.op", _batch_op, spark, pages, gaz, out_dir)
        wall = time.perf_counter() - t
        delta = {k: v - before[k]
                 for k, v in executor_totals(spark.sparkContext).items()}
    try:
        root = tr.named("bench.op")[0]
        layers = _op_layers(tr, root, delta, "pipeline.run_pipeline",
                            "graph.build_entity_graph")
        if digest(res.canonical_triples) != want:
            raise AssertionError("traced run changed the output digest")
    finally:
        _release(res)
    layers["graph.bytes_written"], layers["graph.files_written"] = \
        dir_bytes(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    layers["trace.traced_wall_s"] = wall
    return layers, sorted({s.name for s in tr.spans})


def _finish_trace(layers: dict, untraced_s: float, warmup_s: float) -> None:
    layers["trace.untraced_wall_s"] = untraced_s
    layers["trace.overhead_s"] = layers["trace.traced_wall_s"] - untraced_s
    layers["session.warmup_s"] = warmup_s


def _finish_doc_layers(layers: dict, n_pages: int, cores: int) -> None:
    python_s = layers["document.python_ms_per_page"] * n_pages / 1000
    layers["document.overhead_ratio"] = (
        layers["document.self_s"] * cores / python_s if python_s else 0.0)


# -- recrawl workload --------------------------------------------------------

def run_recrawl(ctx: Ctx) -> Outcome:
    spark, work = ctx.spark, ctx.work
    half = RECRAWL_EPOCH_PAGES // 2
    n_docs = RECRAWL_BASE + RECRAWL_EPOCHS * half
    n_recrawled = RECRAWL_EPOCHS * half
    num = F.col("doc_id")

    def stage(r: int) -> tuple[str, str]:
        v1 = os.path.join(work, f"v1_{r}")
        v2 = os.path.join(work, f"v2_{r}")
        # half a file per core and version: an epoch unions the two
        # versions, so it reads one partition per core
        inputs.write_recrawl(v1, v2, n_docs, n_recrawled, ctx.seed,
                             max(1, ctx.cores // 2))
        return v1, v2

    rounds = _setup_rounds(stage)
    gaz = gazetteer_df(spark)
    # the reference batch doubles as the warm-up (JVM code generation,
    # Spark's Python worker pool)
    v1 = spark.read.parquet(os.path.join(work, "v1_0"))
    v2 = spark.read.parquet(os.path.join(work, "v2_0"))
    latest = v1.filter(num >= n_recrawled).unionByName(v2)
    t0 = time.perf_counter()
    ref = pipeline.run_pipeline(spark, inputs.pages_of(latest), gaz,
                                EngineConfig())
    try:
        want = digest(ref.canonical_triples)
        # every cycle must reproduce these triples exactly (same
        # digest), so their P/R against gold is the compacted state's
        prf = triple_prf(ref.canonical_triples, inputs.gold_of(latest))
        _check_prf(prf, "full batch over the latest versions")
    finally:
        _release(ref)
    warmup_s = time.perf_counter() - t0

    base_dir = os.path.join(work, "base")
    t0 = time.perf_counter()
    KGState(spark, base_dir).merge_batch(
        inputs.pages_of(v1.filter(num < RECRAWL_BASE)), gaz)
    base_s = time.perf_counter() - t0

    def epoch_pages(e: int) -> DataFrame:
        lo = RECRAWL_BASE + e * half
        new = v1.filter((num >= lo) & (num < lo + half))
        again = v2.filter((num >= e * half) & (num < (e + 1) * half))
        return inputs.pages_of(new.unionByName(again))

    out = Outcome(statistics.median(rounds) + warmup_s + base_s, [], [],
                  RECRAWL_EPOCH_PAGES, prf["precision"], prf["recall"])
    out.extra.update(warmup_s=warmup_s, setup_rounds_s=rounds,
                     base_state_s=base_s, compact_rebuild_s=[])
    def cycle() -> tuple[list[float], float]:
        """One checked cycle from a copy of the base state; returns the
        epoch walls and the compaction wall."""
        state_dir = os.path.join(work, "state")
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.copytree(base_dir, state_dir)
        state = KGState(spark, state_dir)
        walls = [_timed(state.merge_batch, epoch_pages(e), gaz)
                 for e in range(RECRAWL_EPOCHS)]
        compact_s = _timed(state.compact, True)
        got = digest(state.canonical_triples())
        if got != want:
            raise AssertionError(
                f"compacted state digest {got} != full batch {want}")
        return walls, compact_s

    t_start = time.perf_counter()
    while out.attempted == 0 or time.perf_counter() - t_start < ctx.seconds:
        out.attempted += 1
        try:
            walls, compact_s = cycle()
        except Exception:
            out.failed += 1
            report_failure("recrawl cycle")
            continue
        out.op_walls += walls
        out.cycle_walls.append(sum(walls) + compact_s)
        out.extra["compact_rebuild_s"].append(compact_s)

    if ctx.trace and out.cycle_walls:
        out.attempted += 1
        try:
            out.layers, out.extra["span_names"] = _trace_recrawl(
                ctx, base_dir, epoch_pages, gaz, want)
        except Exception:
            out.failed += 1
            report_failure("traced cycle")
        else:
            # compared with the untraced cycle just before it
            _finish_trace(out.layers, out.cycle_walls[-1], warmup_s)
            out.layers["document.python_ms_per_page"] = \
                _python_ms_per_page(epoch_pages(0))
            _finish_doc_layers(out.layers, RECRAWL_EPOCH_PAGES, ctx.cores)
    return out


def _trace_recrawl(ctx: Ctx, base_dir, epoch_pages, gaz,
                   want) -> tuple[dict, list[str]]:
    spark = ctx.spark
    sc = spark.sparkContext
    state_dir = os.path.join(ctx.work, "state_traced")
    shutil.copytree(base_dir, state_dir)
    state = KGState(spark, state_dir)
    per_epoch = []
    wall = 0.0
    with Tracer(sc, KEEP_IO).patch(RECRAWL_TARGETS) as tr:
        for e in range(RECRAWL_EPOCHS):
            before = executor_totals(sc)
            pages = epoch_pages(e)
            t = time.perf_counter()
            tr.call("bench.op", state.merge_batch, pages, gaz)
            wall += time.perf_counter() - t
            delta = {k: v - before[k] for k, v in executor_totals(sc).items()}
            root = tr.named("bench.op")[-1]
            layers = _op_layers(tr, root, delta,
                                "incremental.run_pipeline_incremental",
                                "linking.lsh_candidate_pairs")
            layers["kgstream.epoch_bytes_written"] = dir_bytes(
                state.epochs()[-1])[0]
            per_epoch.append(layers)
        t = time.perf_counter()
        tr.call("bench.compact", state.compact, True)
        wall += time.perf_counter() - t
    if digest(state.canonical_triples()) != want:
        raise AssertionError("traced cycle changed the compacted digest")
    shutil.rmtree(state_dir, ignore_errors=True)
    layers = _mean_layers(per_epoch)
    compact = tr.named("kgstream.compact")[0]
    layers["kgstream.compact_rebuild_s"] = compact.duration
    layers["incremental.rebuild_graph_stage_s"] = _sum(
        tr.named("incremental.rebuild_graph_stage", compact))
    layers["trace.traced_wall_s"] = wall
    return layers, sorted({s.name for s in tr.spans})
