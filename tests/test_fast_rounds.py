"""Driver fast-round path (CrawlEngine._run_round_fast) equivalence.

The fast path must be OBSERVABLY IDENTICAL to the distributed round plan:
same dequeue order, same seq/item numbering, same seen-set, same metrics —
because the gate (fast_round_rows) is a physical-plan switch, exactly like
seq.SMALL_SEQ_ROWS. Scenarios here run every crawl twice — gate forced on
everywhere vs gate disabled — and diff every observable. The xxh64 driver
twin is additionally fuzz-checked against the JVM expression, and the
bloom bitmap updated by fast rounds must be BIT-identical to the one
distributed rounds produce (guaranteeing later distributed probes see the
same filter state).
"""

from __future__ import annotations

import random
import string

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_c__spark.functions import xxh64 as XX
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
    CrawlEngine,
)
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

SPEC = sitegen.SiteSpec(n_books=60, n_categories=5, books_per_page=15)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=8).cache()
    df.count()
    return df


_CRAWL_CACHE: dict = {}


def _crawl(spark, pages, fast, _cache=True, **kw):
    """One crawl per (gate, scenario) — memoized module-wide because the
    engines are only READ after run() (tests that mutate an engine
    afterwards pass _cache=False). Halves the file's distributed crawls."""
    key = (fast, tuple(sorted(kw.items())))
    if _cache and key in _CRAWL_CACHE:
        return _CRAWL_CACHE[key]
    eng = CrawlEngine(
        spark, pages, num_partitions=8, fast_round_rows=fast, **kw
    )
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    if _cache:
        _CRAWL_CACHE[key] = eng
    return eng


def _observables(eng):
    return {
        "log": list(eng.dequeue_log),
        "items": [tuple(r) for r in eng.items.orderBy("item_seq").collect()],
        "seen": sorted(tuple(r) for r in eng.seen.collect()),
        "frontier": sorted(tuple(r) for r in eng.frontier.collect())
        if eng.frontier is not None
        else None,
        "rounds": eng.round_num,
        "pages": eng.pages_crawled,
        "next_seq": eng.next_seq,
        "metrics": [
            (
                m.round, m.urls_dequeued, m.urls_fetched, m.fetch_misses,
                m.books_found, m.links_extracted, m.links_new, m.links_dup,
                m.links_ignored, dict(m.partition_fetch_counts),
                m.bloom_checked,
            )
            for m in eng.metrics
        ],
    }


SCENARIOS = {
    "plain": {},
    # budgets multiply round counts (that per-round fixed cost is the very
    # thing the fast path removes) — cap pages so the DISTRIBUTED baseline
    # stays minutes, not tens of minutes; budget-bound slices, leftover
    # frontier, deferral idle rounds and truncation all still occur
    "budget": {"host_budget": 3, "max_pages": 18},
    "max_pages": {"max_pages": 23},
    "min_delay_budget": {"min_delay": 2, "host_budget": 2, "max_pages": 12},
    "no_bloom": {"use_bloom": False},
    "cuckoo": {"seen_filter": "cuckoo"},
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_fast_path_matches_distributed(spark, pages, name):
    kw = SCENARIOS[name]
    dist = _crawl(spark, pages, fast=0, **kw)
    fast = _crawl(spark, pages, fast=1 << 30, **kw)
    a, b = _observables(dist), _observables(fast)
    for k in a:
        assert a[k] == b[k], f"{name}: {k} differs"


def test_mixed_gate_transition(spark, pages):
    """A mid-size gate makes big rounds distributed and small rounds fast
    WITHIN the same crawl (both path-transition directions); observables
    still match the all-distributed run."""
    dist = _crawl(spark, pages, fast=0)
    mixed = _crawl(spark, pages, fast=6)
    a, b = _observables(dist), _observables(mixed)
    for k in a:
        assert a[k] == b[k], f"mixed-gate: {k} differs"
    # the gate actually switched paths at least once each way
    sizes = [m.urls_dequeued for m in dist.metrics]
    assert any(s > 6 for s in sizes) and any(s <= 6 for s in sizes)


def test_bloom_bitmap_bit_identical(spark, pages):
    dist = _crawl(spark, pages, fast=0)
    fast = _crawl(spark, pages, fast=1 << 30)
    assert dist._bloom_m == fast._bloom_m
    assert dist._bloom_bm.tobytes() == fast._bloom_bm.tobytes()


def test_priority_frontier_stays_distributed(spark, pages):
    eng = CrawlEngine(
        spark, pages, num_partitions=8,
        priority_expr=F.when(F.col("path").contains("category"), 0).otherwise(1),
    )
    assert not eng._fast_eligible()


def test_add_seed_requeue_through_fast_rounds(spark, pages):
    """Q6 force-requeue composed with fast rounds: the re-crawl after
    add_seed must behave identically on both paths."""

    def run(fast):
        eng = _crawl(spark, pages, fast=fast, _cache=False)
        eng.record_dequeues = True
        eng.add_seed("/catalogue/page-1.html")
        eng.run("/catalogue/page-1.html")
        return eng

    a, b = _observables(run(0)), _observables(run(1 << 30))
    for k in a:
        assert a[k] == b[k], f"add_seed: {k} differs"


def test_checkpoint_cross_path_resume(spark, pages, tmp_path):
    """A checkpoint written by fast rounds resumes on the distributed
    path and vice versa — increments are path-agnostic tables."""
    for first, second in ((1 << 30, 0), (0, 1 << 30)):
        d = str(tmp_path / f"ck_{first}_{second}")
        eng = CrawlEngine(
            spark, pages, num_partitions=8, checkpoint_dir=d,
            fast_round_rows=first,
        )
        eng.seed(["/catalogue/page-1.html"])
        for _ in range(3):
            eng.run_round()
        res = CrawlEngine.resume(
            spark, pages, d, num_partitions=8, fast_round_rows=second
        )
        res.run("/catalogue/page-1.html")
        full = _crawl(spark, pages, fast=0)
        assert res.pages_crawled == full.pages_crawled
        assert res.items_count == full.items_count
        assert sorted(
            tuple(r) for r in res.seen.collect()
        ) == sorted(tuple(r) for r in full.seen.collect())


# --------------------------------------------------------------------- xxh64


def test_xxh64_matches_spark_expression(spark):
    """The driver twin must be bit-equal to F.xxhash64 for every form the
    seen-filters use: bare string (bloom h1), string+int-literal chains
    (bloom h2 seed 1, cuckoo FP_SEED 3 / IX_SEED 4) — both the scalar
    reference and the batch form. Byte lengths cross XXH64's 4-, 8- and
    32-byte steps in 1- to 4-byte UTF-8, and the batch spans more than
    one block."""
    rng = random.Random(20260818)
    strs = ["", "a", "é中文", "x" * 31, "y" * 32, "z" * 100]
    for ch in ("a", "é", "中", "😀"):
        strs += [ch * n for n in range(1, 72 // len(ch.encode()))]
    for _ in range(300):
        n = rng.randrange(0, 90)
        strs.append(
            "".join(rng.choice(string.printable) for _ in range(n))
        )
    for _ in range(60):
        strs.append(
            "".join(
                chr(rng.randrange(1, 0xD7FF))
                for _ in range(rng.randrange(0, 40))
            )
        )
    while len(strs) <= XX._BLOCK:
        strs.append(f"http://h/{len(strs)}/" + "p" * (len(strs) % 50))
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    rows = df.select(
        F.xxhash64("s").alias("h0"),
        F.xxhash64("s", F.lit(1)).alias("h1"),
        F.xxhash64("s", F.lit(3)).alias("h3"),
        F.xxhash64("s", F.lit(4)).alias("h4"),
    ).collect()
    mask = (1 << 64) - 1
    for s, r in zip(strs, rows):
        assert XX.spark_xxhash64_str(s) == r["h0"] & mask
        assert XX.spark_xxhash64_str(s, 1) == r["h1"] & mask
        assert XX.spark_xxhash64_str(s, 3) == r["h3"] & mask
        assert XX.spark_xxhash64_str(s, 4) == r["h4"] & mask
    for children, col in (((), "h0"), ((1,), "h1"), ((3,), "h3"), ((4,), "h4")):
        batch = XX.hash_str_array(strs, *children)
        assert batch.dtype == np.uint64
        assert [int(h) for h in batch] == [r[col] & mask for r in rows], col
        assert XX.hash_str_array([], *children).shape == (0,)


# URL pieces the fetch's SQL string literals must quote: quotes,
# backslashes, line breaks, %-escapes, ${...} (the parser's variable
# substitution; spark.app.name is always set), non-ASCII and NUL
_URL_PIECES = st.sampled_from(
    ["'", "\\", "\\'", "\n", "\r\n", "%27", "%5C", "${a}",
     "${spark.app.name}", "$", "{", "é", "中文", "😀", "\x00", "/", "?q=1",
     "--", "/*", " "]
)
_URL_TEXT = st.lists(
    _URL_PIECES | st.text(st.characters(blacklist_categories=("Cs",)),
                          max_size=4),
    max_size=6,
).map("".join)


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
@settings(max_examples=30, deadline=None)
@given(
    stored=st.lists(_URL_TEXT, min_size=1, max_size=8, unique=True),
    picks=st.lists(st.integers(0, 7), max_size=8),
    absent=st.lists(_URL_TEXT, max_size=3),
)
@example(stored=["${spark.app.name}", "a'b\\"], picks=[0, 1], absent=["x"])
def test_fetch_selects_what_isin_selects(
    spark, escaped_literals, stored, picks, absent
):
    """The fast round's one-call fetch (an SQL IN-list of quoted literals)
    selects exactly the page-store rows ``Column.isin`` selects, also when
    the session parses string literals verbatim."""
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped_literals)
    urls = ["http://h/" + u for u in stored]
    store = spark.createDataFrame(
        [(u, u.encode("utf-8")) for u in urls], "url string, html binary"
    )
    eng = CrawlEngine(spark, store, num_partitions=2)
    wanted = [urls[i % len(urls)] for i in picks] + [
        "http://h/" + u for u in absent
    ]
    try:
        got = eng._fetch_pages(wanted)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    want = {r["url"] for r in store.filter(F.col("url").isin(wanted)).collect()}
    assert set(got) == want
    for u, (html, _pid) in got.items():
        assert bytes(html) == u.encode("utf-8")
