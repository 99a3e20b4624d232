"""Seeded inputs for the benchmark workloads.

Every corpus is a pure function of the workload seed: pages come from
``tildener_spark.datagen.gen_doc`` (the engine's own generator, the
function ``pages_df`` maps over ``spark.range``), whose gold triples
fall out of generation.  The benchmark generates them in its own
process (~0.6 ms a page, no helper processes) and writes parquet with
pyarrow, so set-up does not pay Spark's cold job path; the engine then
reads the five page columns and nothing else, and the gold column
stays with the checker.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from tildener_spark.datagen import PAGES_COLUMNS, gen_doc

# long_pages length mix: k generated pages joined per long page.  The
# multiset of k is the same for every seed (only the order and the
# pages vary), so seeds differ in content, not in cost: 95% of pages
# are 4-16 generated pages long (~2.5-10 KB, spread evenly), a fixed 5%
# tail is 90-110 long (~60 KB), where the per-document pass costs most.
LONG_BODY_K = (4, 16)
LONG_TAIL_K = (90, 110)
LONG_TAIL_SHARE = 0.05
LONG_SEP = "\n\n"
LONG_URL = "https://crawl.example.long/page/"

# second generator seed for re-crawled versions of a url
RECRAWL_SEED_OFFSET = 1_000_003

_TRIPLE = pa.struct([
    ("subj", pa.string()), ("subj_type", pa.string()),
    ("pred", pa.string()), ("obj", pa.string()),
    ("obj_type", pa.string()), ("kind", pa.string()),
    ("line", pa.int32()),
])
SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("gold_triples", pa.list_(_TRIPLE)), ("doc_id", pa.int32()),
])


def long_page_mix(n_pages: int, seed: int) -> list[int]:
    """k (generated pages per long page) for each long page, in page
    order: the fixed mix above, shuffled by the seed."""
    n_tail = round(n_pages * LONG_TAIL_SHARE)

    def spread(lo: int, hi: int, n: int) -> list[int]:
        return [lo + (i * (hi - lo + 1)) // n for i in range(n)]

    ks = (spread(*LONG_TAIL_K, n_tail)
          + spread(*LONG_BODY_K, n_pages - n_tail))
    random.Random(f"long_pages:{seed}").shuffle(ks)
    return ks


def docs(n_docs: int, seed: int) -> list[dict]:
    """gen_doc(i, seed) for i in [0, n_docs), in id order."""
    return [dict(gen_doc(i, seed), doc_id=i) for i in range(n_docs)]


def _write(path: str, files: list[list[dict]]) -> None:
    """One parquet file per list: each becomes one input partition."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(files):
        pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _deal(rows: list, n_files: int) -> list[list]:
    return [rows[i::n_files] for i in range(n_files)]


def write_short(path: str, n_docs: int, seed: int, n_files: int) -> None:
    """n_docs generated pages (~600 characters each) with gold."""
    _write(path, _deal(docs(n_docs, seed), n_files))


def write_long(path: str, n_pages: int, seed: int,
               n_files: int) -> list[int]:
    """n_pages long pages, each the blank-line join of k consecutive
    generated pages (k from :func:`long_page_mix`).  Gold triples are
    the constituents' gold moved to the long page's url.  Returns the
    k mix."""
    ks = long_page_mix(n_pages, seed)
    made = docs(sum(ks), seed)
    pages, at = [], 0
    for page, k in enumerate(ks):
        parts, at = made[at:at + k], at + k
        url = f"{LONG_URL}{page}"
        text = LONG_SEP.join(d["text"] for d in parts)
        pages.append({
            "url": url, "warc_ts": parts[0]["warc_ts"],
            "html": text.encode("utf-8"), "text": text,
            "lang": parts[0]["lang"],
            "gold_triples": [t for d in parts for t in d["gold_triples"]],
            "doc_id": page,
        })
    # deal pages to files longest first, so every file (and so every
    # input partition of the engine) gets the same share of tail
    # pages: stragglers then come from the engine, not the layout
    by_len = sorted(pages, key=lambda p: (-len(p["text"]), p["doc_id"]))
    _write(path, _deal(by_len, n_files))
    return ks


def write_recrawl(path_v1: str, path_v2: str, n_docs: int,
                  n_recrawled: int, seed: int, n_files: int) -> None:
    """First-crawl versions of doc ids [0, n_docs) and re-crawled
    versions of ids [0, n_recrawled): the same urls, pages generated
    under another seed."""
    write_short(path_v1, n_docs, seed, n_files)
    write_short(path_v2, n_recrawled, seed + RECRAWL_SEED_OFFSET, n_files)


def pages_of(corpus: DataFrame) -> DataFrame:
    """The engine's view of a corpus: the page columns only."""
    return corpus.select(*PAGES_COLUMNS)


def gold_of(corpus: DataFrame) -> DataFrame:
    """(url, subj, pred, obj, ...) gold triples of a corpus."""
    return (corpus.select("url", F.explode("gold_triples").alias("t"))
            .select("url", "t.*"))
