"""Round-4 features (VERDICT r3 tasks): min_delay revisit spacing — the
rounds-between-visits half of SURVEY §2.5 Q8 (reference pacing: 50 ms
dispatch sleep server.cpp:869, 3-10 s worker backoff worker.cpp:432-443) —
plus the Iceberg adapter write/read mapping against a stubbed catalog and
the small guard/param fixes from ADVICE."""

from __future__ import annotations

import duckdb
import pytest

from distributed_web_scrapper_and_crawler_c__spark.operators import dedup as DD
from distributed_web_scrapper_and_crawler_c__spark.operators import (
    similarity as SIM,
)
from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
from distributed_web_scrapper_and_crawler_c__spark.sources import (
    table_format as TF,
)

SPEC = sitegen.SiteSpec(n_books=40, n_categories=4, books_per_page=10)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_map():
    return sitegen.pages_dict(SPEC)


def _run(spark, pages, **kw):
    eng = CrawlEngine(spark, pages, **kw)
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    return eng


def _assert_round_exact(eng: CrawlEngine, res: crawl_oracle.OracleResult):
    """Byte-exact parity INCLUDING the per-dequeue round number — min_delay
    changes which round each dequeue lands in, so the plain order check is
    not enough here."""
    assert [(r, s, p, f) for (r, s, p, f) in eng.dequeue_log] == [
        (d.round, d.seq, d.path, d.fetched) for d in res.dequeues
    ]
    eng_books = [
        (r["title"], r["price"], r["rating"], r["url"])
        for r in eng.items.orderBy("item_seq").collect()
    ]
    assert eng_books == [(b.title, b.price, b.rating, b.url) for b in res.books]
    assert {r["canonical"] for r in eng.seen.collect()} == res.processed
    assert eng.pages_crawled == res.pages_crawled
    assert eng.round_num == res.rounds


# --------------------------------------------------------------- min_delay


def test_min_delay_with_budget_golden(spark, pages, pages_map):
    eng = _run(spark, pages, host_budget=5, min_delay=3)
    res = crawl_oracle.crawl(pages_map, host_budget=5, min_delay=3)
    _assert_round_exact(eng, res)
    # the spacing really inserted idle rounds: same dequeue order as the
    # budget-only crawl, strictly more rounds
    plain = crawl_oracle.crawl(pages_map, host_budget=5)
    assert res.crawl_order == plain.crawl_order
    assert res.rounds > plain.rounds
    idle = [m for m in eng.metrics if m.urls_dequeued == 0]
    assert len(idle) == res.rounds - plain.rounds


def test_min_delay_without_budget_golden(spark, pages, pages_map):
    # whole-frontier drain with spacing: single host ⇒ fetch round, d-1
    # idle rounds, fetch round, ... — same order as plain BFS
    eng = _run(spark, pages, min_delay=2)
    res = crawl_oracle.crawl(pages_map, min_delay=2)
    _assert_round_exact(eng, res)
    plain = crawl_oracle.crawl(pages_map)
    assert res.crawl_order == plain.crawl_order
    assert res.rounds == 2 * plain.rounds - 1  # d-1=1 idle between fetches


def test_min_delay_off_is_identity(spark, pages_map):
    # min_delay<=1 must not change anything (0 and 1 both mean "every round")
    base = crawl_oracle.crawl(pages_map, host_budget=4)
    for d in (0, 1):
        r = crawl_oracle.crawl(pages_map, host_budget=4, min_delay=d)
        assert [(x.round, x.seq, x.path) for x in r.dequeues] == [
            (x.round, x.seq, x.path) for x in base.dequeues
        ]


def test_min_delay_with_max_pages_golden(spark, pages, pages_map):
    # truncation + spacing: host_last stamps only ACTUALLY popped rows
    eng = _run(spark, pages, host_budget=5, min_delay=2, max_pages=12)
    res = crawl_oracle.crawl(pages_map, host_budget=5, min_delay=2, max_pages=12)
    _assert_round_exact(eng, res)


def test_min_delay_resume(spark, pages, pages_map, tmp_path_factory):
    """host_last_round survives the checkpoint: a resumed spaced crawl ends
    byte-identical to the uninterrupted one."""
    full_dir = str(tmp_path_factory.mktemp("md_full"))
    part_dir = str(tmp_path_factory.mktemp("md_part"))
    kw = dict(host_budget=5, min_delay=3)

    full = CrawlEngine(spark, pages, checkpoint_dir=full_dir, **kw)
    full.run("/catalogue/page-1.html")

    part = CrawlEngine(spark, pages, checkpoint_dir=part_dir, **kw)
    part.run("/catalogue/page-1.html", max_rounds=4)
    resumed = CrawlEngine.resume(spark, pages, part_dir, **kw)
    assert resumed._host_last_round == part._host_last_round
    resumed.run("/catalogue/page-1.html")

    def state(e):
        return (
            sorted(r["canonical"] for r in e.seen.collect()),
            [
                (r["item_seq"], r["title"], r["url"])
                for r in e.items.orderBy("item_seq").collect()
            ],
            e.next_seq, e.pages_crawled, e.round_num,
        )

    assert state(resumed) == state(full)
    # and the whole thing still matches the oracle
    res = crawl_oracle.crawl(pages_map, **kw)
    assert resumed.round_num == res.rounds
    assert resumed.pages_crawled == res.pages_crawled


# ------------------------------------------------- iceberg adapter mapping


def test_iceberg_adapter_write_read_mapping(spark, monkeypatch):
    """The seam's write/read translation, exercised without the jar: writeTo
    → createOrReplace per location, read → unionByName over read.table."""
    ad = TF.IcebergAdapter(catalog="crawl")
    spark.conf.set(
        "spark.sql.catalog.crawl", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        calls: list[tuple] = []

        class FakeWriter:
            def __init__(self, loc):
                self.loc = loc

            def createOrReplace(self):
                calls.append(("createOrReplace", self.loc))

        df = spark.range(3)
        # patch the CONCRETE class (pyspark.sql.classic.DataFrame) — the
        # abstract pyspark.sql.DataFrame's writeTo is overridden by it
        monkeypatch.setattr(
            type(df), "writeTo", lambda self, loc: FakeWriter(loc)
        )
        ad.write(df, "crawl.db.frontier_r1")
        assert calls == [("createOrReplace", "crawl.db.frontier_r1")]

        frames = {
            "crawl.db.seen_r0": spark.createDataFrame([(1,)], "x int"),
            "crawl.db.seen_r1": spark.createDataFrame([(2,)], "x int"),
        }
        monkeypatch.setattr(
            type(spark.read), "table", lambda self, name: frames[name]
        )
        out = ad.read(spark, "x int", ["crawl.db.seen_r0", "crawl.db.seen_r1"])
        assert sorted(r["x"] for r in out.collect()) == [1, 2]
    finally:
        spark.conf.unset("spark.sql.catalog.crawl")


def test_iceberg_adapter_still_raises_without_catalog(spark):
    ad = TF.IcebergAdapter(catalog="nope")
    with pytest.raises(RuntimeError, match="not configured"):
        ad.write(spark.range(1), "nope.db.t")


# -------------------------------------------------- bucketed seq (no sample)


def test_bucketed_seq_matches_window_seq(spark):
    """with_global_seq_bucketed assigns the identical sequence for any
    valid (order-aligned) bucketing — balanced, coarse, or fully skewed —
    and returns the exact row total."""
    import random

    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_c__spark.plans.seq import (
        range_bucket_expr,
        with_global_seq,
        with_global_seq_bucketed,
    )

    rng = random.Random(7)
    rows = list({(rng.randrange(50), rng.randrange(400)) for _ in range(3000)})
    df = spark.createDataFrame(
        [(a, b, f"v{a}_{b}") for a, b in rows], "a long, b long, v string"
    )
    want = {
        (r["a"], r["b"]): r["seq"]
        for r in with_global_seq(
            df, ["a", "b"], start=100, approx_rows=1
        ).collect()
    }

    variants = [
        (range_bucket_expr("a", 0, 49, 13), 13, 5),   # balanced
        (range_bucket_expr("a", 0, 49, 96), 96, 8),   # more buckets than parts
        (F.lit(0), 4, 4),                             # fully skewed: 1 bucket
    ]
    for bexpr, nb, np_ in variants:
        got_df, total = with_global_seq_bucketed(
            df, ["a", "b"], bexpr, n_buckets=nb, n_partitions=np_, start=100
        )
        got = {(r["a"], r["b"]): r["seq"] for r in got_df.collect()}
        assert got == want
        assert total == len(rows)


# ------------------------------------------------------------ small fixes


def test_ngram_guard_uses_caller_count(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    # caller-supplied count is trusted — no Spark count job decides the gate
    out = DD.ngram_jaccard_pairs(docs, threshold=0.1, max_docs=3, n_docs=2)
    assert out.count() == 10
    with pytest.raises(ValueError, match="near_dup_pipeline"):
        DD.ngram_jaccard_pairs(docs, threshold=0.1, max_docs=3, n_docs=4)


def test_literal_select_empty_rows_is_valid_sql():
    import __spark_entry__ as E

    sql = E._literal_select([], [("a", "BIGINT"), ("b", "VARCHAR")])
    out = duckdb.sql(sql)
    assert out.columns == ["a", "b"]
    assert out.fetchall() == []


def test_embedding_near_dup_dim_param(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with_dim = SIM.embedding_cosine_near_dups(emb, threshold=0.5, dim=8)
    without = SIM.embedding_cosine_near_dups(emb, threshold=0.5)
    key = lambda df: sorted(
        (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
    )
    assert key(with_dim) == key(without)


# --------------------------------------------- books one-shuffle scale plan


def test_known_counts_seq_matches_window_seq(spark):
    """with_global_seq_known_counts (the zero-materialization stamp fed by
    externally derived per-bucket counts) assigns the identical sequence as
    with_global_seq for any valid bucketing, balanced or fully skewed."""
    import random

    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_c__spark.plans.seq import (
        range_bucket_expr,
        with_global_seq,
        with_global_seq_known_counts,
    )

    rng = random.Random(11)
    rows = list({(rng.randrange(50), rng.randrange(400)) for _ in range(3000)})
    df = spark.createDataFrame(
        [(a, b, f"v{a}_{b}") for a, b in rows], "a long, b long, v string"
    )
    want = {
        (r["a"], r["b"]): r["seq"]
        for r in with_global_seq(
            df, ["a", "b"], start=7, approx_rows=1
        ).collect()
    }

    def counts_for(bexpr):
        return {
            r["_b"]: r["c"]
            for r in df.groupBy(bexpr.cast("int").alias("_b"))
            .agg(F.count("*").alias("c"))
            .collect()
        }

    variants = [
        (range_bucket_expr("a", 0, 49, 13), 5),   # balanced
        (range_bucket_expr("a", 0, 49, 96), 8),   # buckets >> parts
        (F.lit(0), 4),                            # fully skewed: one bucket
    ]
    for bexpr, np_ in variants:
        got = {
            (r["a"], r["b"]): r["seq"]
            for r in with_global_seq_known_counts(
                df, ["a", "b"], bexpr, counts_for(bexpr), start=7,
                n_partitions=np_,
            ).collect()
        }
        assert got == want


def _assert_books_match_oracle(eng, res):
    assert eng.crawl_order() == res.crawl_order
    assert {r["canonical"] for r in eng.seen.collect()} == res.processed
    got = [
        (r["item_seq"], r["title"], r["price"], r["rating"], r["url"])
        for r in eng.items.orderBy("item_seq").collect()
    ]
    assert got == [
        (i, b.title, b.price, b.rating, b.url) for i, b in enumerate(res.books)
    ]
    assert eng.items_count == len(res.books)


def test_books_scale_path_matches_oracle(spark, pages, pages_map):
    """Forcing every seq gate onto the scale path routes books through the
    narrow-stats one-shuffle plan (the fixture has cross-round seen hits:
    category pages re-list books found on listing pages — so the broadcast
    kill list is exercised, not just the no-trouble fast path). Byte-exact
    item order against the oracle."""
    from distributed_web_scrapper_and_crawler_c__spark.plans import seq as seq_mod

    old = seq_mod.SMALL_SEQ_ROWS
    seq_mod.SMALL_SEQ_ROWS = 0
    try:
        eng = _run(spark, pages)
    finally:
        seq_mod.SMALL_SEQ_ROWS = old
    _assert_books_match_oracle(eng, crawl_oracle.crawl(pages_map))


def test_books_scale_path_trouble_fallback(spark, pages, pages_map, monkeypatch):
    """With the kill-list gate forced to zero, the two-shuffle wide
    anti-join + window fallback runs instead — values identical."""
    from distributed_web_scrapper_and_crawler_c__spark.plans import frontier as fr
    from distributed_web_scrapper_and_crawler_c__spark.plans import seq as seq_mod

    monkeypatch.setattr(fr, "TROUBLE_BROADCAST_MAX", 0)
    old = seq_mod.SMALL_SEQ_ROWS
    seq_mod.SMALL_SEQ_ROWS = 0
    try:
        eng = _run(spark, pages)
    finally:
        seq_mod.SMALL_SEQ_ROWS = old
    _assert_books_match_oracle(eng, crawl_oracle.crawl(pages_map))


def test_books_flow_phase_marks_on_own_clock(spark, pages, monkeypatch):
    """The books flow runs on a pool thread. Its SPARK_PHASE_DETAIL marks
    go to that thread's own clock and are merged after the flow is joined,
    so they never move the main thread's clock. With the narrow-stats
    branch forced, every b.* mark is recorded and no phase wall is
    negative."""
    from distributed_web_scrapper_and_crawler_c__spark.plans import seq as seq_mod

    monkeypatch.setenv("SPARK_PHASE_DETAIL", "1")
    monkeypatch.setattr(seq_mod, "SMALL_SEQ_ROWS", 1)
    eng = CrawlEngine(spark, pages, fast_round_rows=0)
    eng.run("/catalogue/page-1.html", max_rounds=2)
    main = {"dequeue_fetch", "extract_links", "dedup_seq", "parse_books",
            "state_update", "d.parse_pin", "d.stats_agg", "s.seq_pin"}
    books = {"b.narrow_stats", "b.final_pin"}
    assert eng.round_num == 2
    for m in eng.metrics:
        assert not m.fast_path
        assert main <= set(m.phase_ms), m.phase_ms
        assert all(v >= 0 for v in m.phase_ms.values()), m.phase_ms
    assert books <= set(eng.metrics[0].phase_ms), eng.metrics[0].phase_ms


def test_pin_storage_level_serialized(spark, pages, pages_map, monkeypatch):
    """pin_storage_level reroutes every _pin through the requested level
    (serialized pins for memory-tight executors) with identical results.
    df.storageLevel doesn't surface localCheckpoint levels (it asks the
    cache manager), so a spy records what each pin actually requested."""
    from pyspark import StorageLevel
    # the abstract pyspark.sql.DataFrame's localCheckpoint is overridden by
    # the classic concrete class — patch where the call lands
    from pyspark.sql.classic.dataframe import DataFrame

    levels = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        levels.append(storageLevel)
        return orig(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    # distributed rounds: driver-built fast-round state is never pinned,
    # so an all-fast crawl of this site would record no pin at all
    eng = _run(spark, pages, fast_round_rows=0,
               pin_storage_level=StorageLevel.MEMORY_AND_DISK)
    res = crawl_oracle.crawl(pages_map)
    assert eng.crawl_order() == res.crawl_order
    _assert_books_match_oracle(eng, res)
    assert levels and all(lv == StorageLevel.MEMORY_AND_DISK for lv in levels)


def test_sharded_bloom_long_crawl_golden(spark, pages, pages_map):
    """Many-round regression for the inherited-stats explosion: a tight
    host budget stretches the crawl past ~25 rounds, which is where the
    sharded filter state's Catalyst size estimate used to compound
    exponentially (product stats surviving localCheckpoint) until the
    driver OOMed analyzing a later round — see _pin_shards. The bloom
    family shared the latent defect with cuckoo; this pins the fix on the
    bloom side, byte-exact against the oracle."""
    eng = _run(
        spark, pages, use_bloom=True, bloom_shard_threshold=1, host_budget=2
    )
    res = crawl_oracle.crawl(pages_map, host_budget=2)
    assert res.rounds > 20, "fixture must exercise the many-round regime"
    assert eng.crawl_order() == res.crawl_order
    assert {r["canonical"] for r in eng.seen.collect()} == res.processed
    assert eng.round_num == res.rounds
    assert eng._bloom_shards is not None  # sharded path actually ran
