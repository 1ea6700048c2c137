"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver bench — bench.py stays frozen. This file exists so A/Bs can
run a subset of queries, capture `.explain("formatted")` plans, and emit
per-phase crawl tables without re-running the whole suite.

Usage:
  python bench_extra.py --queries dedup_minhash_lsh,near_dup_pipeline \
      [--sf-dir /root/testdata/sf1.0] [--repeats 3] [--explain-dir plans/r06] \
      [--suffix _before]
  python bench_extra.py --crawl [--books 3000] [--phase-detail]
  python bench_extra.py --crossover [--gate 1000000]

Prints one JSON line with per-query min/median walls (noop sink, same
methodology as bench.py).

``--crossover`` measures the driver fast round against the distributed
round, the trade-off behind ``CrawlEngine(fast_round_rows=...)``: it drains
each sweep site twice on ``local[nproc]`` (or ``SPARK_GRAFT_CPUS``), once
with ``fast_round_rows=0`` (every round distributed) and once with
``--gate`` above every round (every round on the driver, the priority,
sharded-filter and past-the-mirror-cap exclusions aside). It prints each
round's size, wall and path plus the driver's peak RSS (VmHWM) after each
drain, and asserts that both drains give the same crawl order and items.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--crawl", action="store_true")
    ap.add_argument("--books", type=int, default=3000)
    ap.add_argument("--phase-detail", action="store_true")
    ap.add_argument("--crossover", action="store_true")
    ap.add_argument("--gate", type=int, default=1_000_000)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import bench
    import __spark_entry__ as entry

    if args.crossover:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
        spark = bench.build_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(crossover(spark, cpus, args.gate)))
        spark.stop()
        return

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    bench.warmup(spark, args.sf_dir)

    out: dict = {"sf_dir": args.sf_dir, "repeats": args.repeats}

    if args.queries:
        qmap = entry.queries()
        names = [n for n in args.queries.split(",") if n]
        timings, samples = {}, {}
        for name in names:
            fn = qmap[name]
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
            walls = []
            for i in range(args.repeats):
                spark.sparkContext.setJobDescription(f"{name}#{i}")
                t0 = time.time()
                _force(fn(spark, args.sf_dir))
                walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = min(walls)
            samples[name] = walls
            if args.explain_dir:
                p = os.path.join(
                    args.explain_dir, f"{name}{args.suffix}.txt")
                df = fn(spark, args.sf_dir)
                txt = spark._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(p, "w") as f:
                    f.write(txt)
        out["queries"] = timings
        out["samples"] = samples

    if args.crawl:
        if args.phase_detail:
            os.environ["SPARK_PHASE_DETAIL"] = "1"
        from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
            CrawlEngine,
        )
        from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

        spec = sitegen.SiteSpec(
            n_books=args.books, n_categories=14, books_per_page=250)
        pages = sitegen.pages_dataframe(spark, spec, slices=cpus).persist()
        pages.count()
        walls = []
        rounds = None
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"crawl#{i}")
            t0 = time.time()
            eng = CrawlEngine(spark, pages, use_bloom=True,
                              num_partitions=cpus)
            eng.run("/catalogue/page-1.html")
            walls.append(round(time.time() - t0, 3))
            rounds = [
                {
                    "round": m.round, "fast": m.fast_path,
                    "wall_ms": round(m.wall_ms, 1),
                    "dequeued": m.urls_dequeued, "fetched": m.urls_fetched,
                    "links": m.links_extracted, "books": m.books_found,
                    "phase_ms": m.phase_ms,
                }
                for m in eng.metrics
            ]
        pages.unpersist()
        out["crawl_walls"] = walls
        out["crawl_rounds_last_run"] = rounds

    print(json.dumps(out))
    spark.stop()


# the crossover sweep's sites: many small book pages, and few category
# pages that each list 2000 books (~800 KB of HTML a page)
CROSSOVER_SITES = {
    "books": dict(n_books=8000, n_categories=14, books_per_page=250),
    "heavy_categories": dict(n_books=8000, n_categories=4, books_per_page=250),
}


def _vm_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def crossover(spark, cpus: int, gate: int) -> dict:
    """Drain every CROSSOVER_SITES site all-distributed, then all-driver;
    returns the per-round table of both drains per site."""
    from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
        CrawlEngine,
    )
    from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

    def drain(pages, fast_round_rows):
        eng = CrawlEngine(spark, pages, num_partitions=cpus,
                          fast_round_rows=fast_round_rows)
        t0 = time.time()
        eng.run("/catalogue/page-1.html")
        wall = time.time() - t0
        rounds = [
            {"round": m.round, "size": m.urls_dequeued,
             "fetched": m.urls_fetched, "wall_s": round(m.wall_ms / 1000, 3),
             "path": "fast" if m.fast_path else "dist"}
            for m in eng.metrics
        ]
        items = [tuple(r) for r in eng.items.orderBy("item_seq").collect()]
        return eng.crawl_order(), items, {
            "wall_s": round(wall, 3), "rounds": rounds,
            "pages": eng.pages_crawled, "items": eng.items_count,
            "driver_vm_hwm_mb": round(_vm_hwm_mb(), 1),
        }

    # warm-up on a small site, both paths: JIT, codegen, Python workers
    pages = sitegen.pages_dataframe(
        spark, sitegen.SiteSpec(n_books=200), slices=cpus).persist()
    drain(pages, 0)
    drain(pages, gate)
    pages.unpersist()

    # VmHWM only grows: a fast drain's reading above the dist drain's
    # before it is the driver round's extra peak
    out: dict = {"cpus": cpus, "gate": gate, "sites": {}}
    for name, kw in CROSSOVER_SITES.items():
        spec = sitegen.SiteSpec(**kw)
        pages = sitegen.pages_dataframe(spark, spec, slices=cpus).persist()
        pages.count()
        order, items, dist = drain(pages, 0)
        fast_order, fast_items, fast = drain(pages, gate)
        assert fast_order == order, f"{name}: crawl order diverged"
        assert fast_items == items, f"{name}: items diverged"
        pages.unpersist()
        out["sites"][name] = {"spec": kw, "dist": dist, "fast": fast}
        print(f"=== {name} {kw}: identical crawl order and items", file=sys.stderr)
        for label, d in (("dist", dist), ("fast", fast)):
            print(f"  {label}: total {d['wall_s']:.2f}s, VmHWM "
                  f"{d['driver_vm_hwm_mb']:.1f} MB", file=sys.stderr)
        for a, b in zip(dist["rounds"], fast["rounds"]):
            print(f"  round {a['round']:2d} size {a['size']:6d}  "
                  f"dist {a['wall_s']:7.3f}s  {b['path']} {b['wall_s']:7.3f}s",
                  file=sys.stderr)
    return out


if __name__ == "__main__":
    main()
