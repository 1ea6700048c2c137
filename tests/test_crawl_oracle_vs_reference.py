"""Golden test: the Python crawl oracle vs the compiled UNMODIFIED reference
crawl loop (Crawler.cpp's crawl_website_queue linked against a stub http_get
serving the synthetic site). Crawl order (every http_get, in dequeue order)
and the collected book list must match exactly."""

from __future__ import annotations

import base64
import shutil
import subprocess
from pathlib import Path

import pytest

from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

WORK = Path(__file__).resolve().parent.parent / ".work"
SRC = WORK / "ref_crawl_harness.cpp"
BIN = WORK / "ref_crawl_harness"
# the unmodified reference checkout, a sibling of this repository; the
# harness is compiled against its sources
REF_SRC = Path(__file__).resolve().parent.parent.parent / "reference" / "src"

pytestmark = pytest.mark.skipif(
    shutil.which("g++") is None
    or not SRC.exists()
    or not any(REF_SRC.glob("*.cpp")),
    reason="needs g++, the harness source and the reference sources",
)


@pytest.fixture(scope="module")
def harness() -> Path:
    if not BIN.exists() or BIN.stat().st_mtime < SRC.stat().st_mtime:
        subprocess.run(
            ["g++", "-std=c++17", "-O1", "-o", str(BIN), str(SRC),
             str(REF_SRC / "Crawler.cpp"), str(REF_SRC / "HtmlParser.cpp")],
            check=True,
        )
    return BIN


def run_reference(harness: Path, pages: dict[str, bytes], start: str,
                  max_pages: int, tmp_path: Path):
    site = tmp_path / "site.tsv"
    out = tmp_path / "out.tsv"
    with open(site, "w") as f:
        for url, html in pages.items():
            f.write(url + "\t" + base64.b64encode(html).decode() + "\n")
    proc = subprocess.Popen(
        [str(harness), str(site), "books.toscrape.com", start,
         str(max_pages), str(out)],
        stdin=subprocess.PIPE, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # keep stdin OPEN and empty: the loop's _kbhit() treats EOF as a keypress
    proc.wait(timeout=120)
    proc.stdin.close()
    assert proc.returncode == 0
    pops, books = [], []
    for line in out.read_text().splitlines():
        parts = line.split("\t")
        if parts[0] == "POP":
            pops.append(base64.b64decode(parts[1]).decode())
        elif parts[0] == "BOOK":
            books.append(tuple(base64.b64decode(p).decode() for p in parts[1:]))
    return pops, books


CASES = [
    (30, 0, "/catalogue/page-1.html"),
    (60, 0, "/catalogue/page-1.html"),
    (60, 25, "/catalogue/page-1.html"),   # max_pages mid-crawl truncation
    (60, 1, "/catalogue/page-1.html"),
    (60, 0, "/index.html"),
    (13, 7, "/catalogue/category/books/travel_2/index.html"),
]


@pytest.mark.parametrize("n_books,max_pages,start", CASES)
def test_oracle_matches_reference_crawl(harness, tmp_path, n_books, max_pages, start):
    spec = sitegen.SiteSpec(n_books=n_books, n_categories=4, books_per_page=10)
    pages = sitegen.pages_dict(spec)
    ref_pops, ref_books = run_reference(harness, pages, start, max_pages, tmp_path)
    res = crawl_oracle.crawl(pages, "books.toscrape.com", start, max_pages)
    assert res.crawl_order == ref_pops
    assert [(b.title, b.price, b.rating, b.url) for b in res.books] == ref_books
    assert res.pages_crawled == sum(1 for d in res.dequeues if d.fetched)
