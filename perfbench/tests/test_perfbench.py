"""Tests for the benchmark's own code: seeded inputs, the long-page
length mix, the tracer's spans and wrappers, and the reaping of every
process a run starts.

    python3 -m pytest perfbench/tests -q
"""

import importlib
import os
import subprocess
import sys
import textwrap
import time

import pytest

import inputs
import workloads
from spans import Tracer, _resolve


BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeSc:
    """Just the SparkContext calls the tracer makes."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_long_page_mix_is_seeded():
    a, b = inputs.long_page_mix(240, 7), inputs.long_page_mix(240, 8)
    assert a == inputs.long_page_mix(240, 7)
    # seeds change the order, never the cost: the multiset is fixed
    assert a != b and sorted(a) == sorted(b)


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_long_page_mix_hits_targets(seed):
    n = 240
    ks = inputs.long_page_mix(n, seed)
    tail = [k for k in ks if k >= inputs.LONG_TAIL_K[0]]
    body = [k for k in ks if k < inputs.LONG_TAIL_K[0]]
    assert len(ks) == n
    assert len(tail) == round(n * inputs.LONG_TAIL_SHARE)
    assert all(inputs.LONG_TAIL_K[0] <= k <= inputs.LONG_TAIL_K[1]
               for k in tail)
    assert all(inputs.LONG_BODY_K[0] <= k <= inputs.LONG_BODY_K[1]
               for k in body)
    # evenly spread over 4..16 and 90..110
    assert abs(sum(body) / len(body) - 10) < 0.1
    assert abs(sum(tail) / len(tail) - 100) < 1


def test_short_corpus_is_seeded(spark, tmp_path):
    paths = [str(tmp_path / n) for n in ("a", "b", "c")]
    for path, seed in zip(paths, (3, 3, 4)):
        inputs.write_short(path, 30, seed, 2)
    a, b, c = (inputs.pages_of(spark.read.parquet(p)) for p in paths)
    assert _rows(a) == _rows(b)
    assert _rows(a) != _rows(c)


def test_generator_matches_pages_df(spark, tmp_path):
    from tildener_spark.datagen import pages_df
    path = str(tmp_path / "p")
    inputs.write_short(path, 25, 6, 3)
    assert _rows(inputs.pages_of(spark.read.parquet(path))) \
        == _rows(pages_df(spark, 25, 6))


def test_long_pages_join_their_constituents(spark, tmp_path):
    path = str(tmp_path / "long")
    ks = inputs.write_long(path, 20, 5, 2)
    again = str(tmp_path / "again")
    inputs.write_long(again, 20, 5, 2)
    df = spark.read.parquet(path)
    assert _rows(inputs.pages_of(df)) == _rows(
        inputs.pages_of(spark.read.parquet(again)))
    assert df.count() == 20
    lens = {r["doc_id"]: len(r["text"]) for r in df.collect()}
    # ~600 characters per generated page: the ~100-page tail page is
    # ~60 KB, a body page a few KB
    tail_page = ks.index(max(ks))
    assert lens[tail_page] > 40_000
    assert max(v for k, v in lens.items() if k != tail_page) < 15_000
    gold = inputs.gold_of(df)
    assert gold.filter(~gold.url.startswith(
        "https://crawl.example.long/page/")).count() == 0


def test_tail_percentile():
    assert workloads.tail([3.0, 1.0, 2.0]) == 3.0
    vals = [float(i) for i in range(1, 101)]
    # 90 has exactly ten samples beyond it
    assert workloads.tail(vals) == 90.0


def test_tracer_nests_spans_and_always_unpatches():
    mod = importlib.import_module("inputs")
    orig = mod.long_page_mix
    sc = FakeSc()
    with pytest.raises(ZeroDivisionError):
        with Tracer(sc).patch({"inputs:long_page_mix": "mix"}) as tr:
            assert mod.long_page_mix is not orig
            tr.call("outer", lambda: mod.long_page_mix(10, 1))
            tr.call("boom", lambda: 1 / 0)
    assert mod.long_page_mix is orig
    outer, = tr.named("outer")
    mix, = tr.named("mix")
    assert mix.parent == outer.sid
    assert 0 <= tr.self_time(outer) <= outer.duration - mix.duration + 1e-9
    # each span ran under its own job group, restored on exit
    assert sc.groups[:3] == [outer.group, mix.group, outer.group]
    assert sc.groups[-1] is None


def _ctx(spark, tmp_path):
    return workloads.Ctx(spark, str(tmp_path), 2, 9, 0.0, True, 4)


def _originals(targets):
    out = {}
    for t in targets:
        owner, attr = _resolve(t)
        out[t] = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
    return out


def _check_spans_and_unpatch(out, targets, before):
    assert out.failed == 0 and out.op_walls
    names = set(out.extra["span_names"])
    missing = set(targets.values()) - names
    assert not missing, f"wrapped functions without spans: {missing}"
    assert _originals(targets) == before


def test_batch_trace_spans_every_target(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "SHORT_PAGES", 60)
    monkeypatch.setattr(workloads, "SETUP_ROUNDS", 1)
    before = _originals(workloads.BATCH_TARGETS)
    out = workloads.run_batch(_ctx(spark, tmp_path), long=False)
    _check_spans_and_unpatch(out, workloads.BATCH_TARGETS, before)
    assert out.precision >= workloads.MIN_PRECISION
    assert out.layers["graph.files_written"] > 0


def test_recrawl_trace_spans_every_target(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "RECRAWL_BASE", 40)
    monkeypatch.setattr(workloads, "RECRAWL_EPOCH_PAGES", 20)
    monkeypatch.setattr(workloads, "SETUP_ROUNDS", 1)
    before = _originals(workloads.RECRAWL_TARGETS)
    out = workloads.run_recrawl(_ctx(spark, tmp_path))
    _check_spans_and_unpatch(out, workloads.RECRAWL_TARGETS, before)
    assert out.layers["kgstream.epoch_bytes_written"] > 0
    assert out.layers["kgstream.compact_rebuild_s"] > 0


def test_reap_waits_for_orphaned_grandchildren():
    # a child that exits at once, leaving a grandchild behind: the way
    # the JVM leaves Spark's Python worker daemon when it exits
    script = textwrap.dedent("""
        import subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        import run
        run._become_subreaper()
        subprocess.run(["sh", "-c", "sleep 0.5 &"], check=True)
        t = time.monotonic()
        run._reap_children()
        assert time.monotonic() - t > 0.3, "returned before the orphan ended"
        assert run._children() == []
        print("reaped")
    """)
    p = subprocess.run([sys.executable, "-c", script, BENCH],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "reaped"


def test_peak_rss_counts_child_processes():
    import run
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time; b = b'x' * (100 << 20); print(flush=True); "
         "time.sleep(30)"], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()         # its 100 MB are resident
        sampler = run.PeakRss()
        sampler.start()
        time.sleep(3 * run.RSS_PERIOD_S)
        peak = sampler.stop()
    finally:
        child.kill()
        child.wait()
    own = run.tree_rss_kb()[os.getpid()] / 1024
    assert peak > own + 90
