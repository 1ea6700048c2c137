"""Driver-known round state: frames the engine builds from driver rows
(``plans.parallelize.local_df``) are checkpointed in-process, folded on the
driver and rebuilt on resume, all without Spark jobs below MIRROR_MAX_ROWS.

These tests pin the three things that must not change when that happens:
what a checkpoint location reads back as (against a Spark-written twin),
the crawl's final state (against ``oracle.crawl_oracle``), and the job
count of a checkpointed fast round (no write job). The mirror cap is
exercised past a small monkeypatched cap on fast rounds.
"""

from __future__ import annotations

import pytest

from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans import frontier as FR
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
    FRONTIER_SCHEMA,
    ITEMS_SCHEMA,
    SEEN_SCHEMA,
    CrawlEngine,
)
from distributed_web_scrapper_and_crawler_c__spark.plans.parallelize import (
    driver_rows,
    local_df,
)
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
from distributed_web_scrapper_and_crawler_c__spark.sources.table_format import (
    ParquetAdapter,
)

START = "/catalogue/page-1.html"
# a host budget keeps every round under the fast-round gate: 17 rounds
SPEC = sitegen.SiteSpec(n_books=40, n_categories=4, books_per_page=10)
BUDGET = 12


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle():
    return crawl_oracle.crawl(
        sitegen.pages_dict(SPEC), start_path=START, host_budget=BUDGET
    )


def _matches_oracle(eng: CrawlEngine, res) -> None:
    seen = sorted(r["canonical"] for r in eng.seen.collect())
    assert seen == sorted(res.processed)
    items = [
        tuple(r)
        for r in eng.items.orderBy("item_seq")
        .select("title", "price", "rating", "url")
        .collect()
    ]
    assert items == [(b.title, b.price, b.rating, b.url) for b in res.books]
    assert eng.pages_crawled == res.pages_crawled
    assert eng.round_num == res.rounds


def _read_frame(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _read(spark, schema: str, loc: str) -> list[tuple]:
    return _read_frame(ParquetAdapter().read(spark, schema, [loc]))


ROWS = {
    "frontier": (FRONTIER_SCHEMA, [
        (0, "/a.html", "http://h/a.html", "h/a.html", "h", -1, 0, 0, 0),
        (7, "/b?q=1", "http://h/b?q=1", "h/b?q=1", "h", 0, 3, 1, 0),
    ]),
    "seen": (SEEN_SCHEMA, [("h/a.html", 0, 0), ("h/é.html", 1 << 40, 2)]),
    # NULL price/rating/item_type, and their derived values
    "items": (ITEMS_SCHEMA, [
        (0, 3, 1, "http://h/x", "h/x", "X", "£51.77", "Three", 51.77, 3,
         "book", 1),
        (1, 3, 2, None, None, "Y", None, None, None, None, None, 1),
    ]),
}


@pytest.mark.parametrize("table", sorted(ROWS))
@pytest.mark.parametrize("empty", [False, True])
def test_driver_write_reads_back_like_spark_write(spark, tmp_path, table, empty):
    schema, rows = ROWS[table]
    rows = [] if empty else rows
    driver_df = local_df(spark, rows, schema)
    spark_df = driver_df.select("*")  # same rows, not driver-known
    assert driver_rows(driver_df) is not None
    assert driver_rows(spark_df) is None
    tf = ParquetAdapter()
    tf.write(driver_df, str(tmp_path / "driver"))
    tf.write(spark_df, str(tmp_path / "spark"))
    got = _read(spark, schema, str(tmp_path / "driver"))
    assert got == _read(spark, schema, str(tmp_path / "spark"))
    assert got == sorted((tuple(r) for r in rows), key=repr)
    assert (tmp_path / "driver" / "_SUCCESS").exists()
    assert len(list((tmp_path / "driver").glob("part-*.parquet"))) == 1


@pytest.mark.parametrize("first_known,second_known", [
    (True, True), (False, True), (True, False),
])
def test_second_write_replaces_first(spark, tmp_path, first_known, second_known):
    def frame(rows, known):
        df = local_df(spark, rows, SEEN_SCHEMA)
        return df if known else df.select("*")

    loc = str(tmp_path / "seen_inc")
    tf = ParquetAdapter()
    tf.write(frame([("a", 0, 0), ("b", 1, 0), ("c", 2, 0)], first_known), loc)
    tf.write(frame([("z", 9, 4)], second_known), loc)
    assert _read(spark, SEEN_SCHEMA, loc) == [("z", 9, 4)]


def test_local_df_keeps_its_own_copy(spark):
    rows = [("a", 0, 0)]
    df = local_df(spark, rows, SEEN_SCHEMA)
    rows.append(("b", 1, 0))
    assert driver_rows(df) == ((("a", 0, 0),), SEEN_SCHEMA)
    assert [tuple(r) for r in df.collect()] == [("a", 0, 0)]


def test_compact_every_full_write_is_driver_known(spark, pages, tmp_path, oracle):
    """compact_every full writes and the seed/fast-round increments are all
    written in-process; each round's full snapshot reads back as the
    engine's state at that round, and a resume from it drains to the
    oracle's state."""
    d = tmp_path / "ck"
    eng = CrawlEngine(spark, pages, checkpoint_dir=str(d), num_partitions=4,
                      host_budget=BUDGET, compact_every=2)
    eng.seed([START])
    while eng.run_round():
        assert all(driver_rows(p) is not None for p in eng._seen_parts)
        r = eng.round_num  # the snapshot the round just wrote
        if r % 2 == 0:
            full = _read(spark, SEEN_SCHEMA, str(d / f"r{r}" / "seen_inc"))
            assert full == _read_frame(eng.seen)
            items = _read(spark, ITEMS_SCHEMA, str(d / f"r{r}" / "items_inc"))
            assert items == _read_frame(eng.items)
    assert all(m.fast_path for m in eng.metrics)
    _matches_oracle(eng, oracle)
    # no Spark write left its per-file checksums behind
    assert not list(d.rglob("*.crc"))
    (d / f"r{eng.round_num // 2}" / "_COMMIT").unlink()
    res = CrawlEngine.resume(spark, pages, str(d), num_partitions=4,
                             host_budget=BUDGET, compact_every=2)
    while res.run_round():
        pass
    _matches_oracle(res, oracle)


def test_torn_commit_fast_path_resume_matches_oracle(spark, pages, tmp_path, oracle):
    d = tmp_path / "ck"
    eng = CrawlEngine(spark, pages, checkpoint_dir=str(d), num_partitions=4,
                      host_budget=BUDGET)
    eng.run(START)
    assert all(m.fast_path for m in eng.metrics)
    _matches_oracle(eng, oracle)
    torn = eng.round_num // 2
    (d / f"r{torn}" / "_COMMIT").unlink()
    res = CrawlEngine.resume(spark, pages, str(d), num_partitions=4,
                             host_budget=BUDGET)
    assert res.round_num == torn - 1
    # below the cap the resumed state is driver-known and mirrored
    assert driver_rows(res.frontier) is not None
    assert driver_rows(res.seen) is not None
    assert driver_rows(res.items) is not None
    assert res._seen_mirror == {r["canonical"] for r in res.seen.collect()}
    assert len(res._items_mirror) == res.items_count
    while res.run_round():
        pass
    _matches_oracle(res, oracle)


def _next_job_id(sc) -> int:
    """The scheduler numbers jobs densely from 0 in submission order."""
    return int(sc._jsc.sc().dagScheduler().numTotalJobs())


def _stage_names(sc, first: int, end: int) -> list[str]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(sid).name
        for jid in range(first, end)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]


def test_checkpointed_fast_round_launches_no_write_job(spark, pages, tmp_path):
    sc = spark.sparkContext
    counts, names = {}, {}
    for label, ck in (("plain", None), ("checkpointed", str(tmp_path / "ck"))):
        eng = CrawlEngine(spark, pages, checkpoint_dir=ck, num_partitions=4,
                          host_budget=BUDGET)
        start = first = _next_job_id(sc)
        eng.seed([START])
        per_round = [_next_job_id(sc) - first]
        for _ in range(4):
            first = _next_job_id(sc)
            assert eng.run_round()
            assert eng.metrics[-1].fast_path
            per_round.append(_next_job_id(sc) - first)
        counts[label] = per_round
        names[label] = _stage_names(sc, start, _next_job_id(sc))
    assert counts["checkpointed"] == counts["plain"]
    # seed: none; each fast round: the fetch collect only
    assert counts["plain"] == [0, 1, 1, 1, 1]
    # a Spark parquet write shows up as a "parquet at ..." stage
    assert not [n for n in names["checkpointed"] if n.startswith("parquet")]
    assert (tmp_path / "ck" / "r4" / "_COMMIT").exists()


def test_mirror_cap_holds_on_fast_rounds(spark, pages, tmp_path, oracle,
                                         monkeypatch):
    """Past a small cap the fast rounds kill the mirrors and stop keeping
    driver row copies, then keep crawling (and checkpointing) through
    Spark to the oracle's state."""
    monkeypatch.setattr(FR, "MIRROR_MAX_ROWS", 40)
    eng = CrawlEngine(spark, pages, checkpoint_dir=str(tmp_path / "ck"),
                      num_partitions=4, host_budget=BUDGET)
    eng.seed([START])
    crossed = None
    while eng.run_round():
        over = eng.seen_count + eng.items_count > 40
        if over and crossed is None:
            crossed = eng.round_num
        if over:
            assert eng._seen_mirror is None and eng._items_mirror is None
            assert all(
                driver_rows(p) is None
                for p in eng._seen_parts + eng._item_parts
            )
        else:
            assert eng._seen_mirror is not None
    assert crossed is not None and crossed < eng.round_num
    assert all(m.fast_path for m in eng.metrics)
    _matches_oracle(eng, oracle)
    res = CrawlEngine.resume(spark, pages, str(tmp_path / "ck"),
                             num_partitions=4, host_budget=BUDGET)
    assert res._seen_mirror is None
    assert driver_rows(res.seen) is None
    _matches_oracle(res, oracle)
