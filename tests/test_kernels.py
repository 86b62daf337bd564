"""Unit tests for the four Arrow kernels (SURVEY §2.8) — the pytest rewrite
of scrapy-redis's test_dupefilter.py canonicalization/fingerprint cases."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from crawlspark.kernels import (
    canonicalize_url,
    canonicalize_urls,
    extract_page,
    extract_records_and_links,
    extract_text,
    fingerprint_col,
    host_col,
    url_fingerprint,
)
from crawlspark.synth import SiteSpec, generate_site


# ---- pure cores -------------------------------------------------------------

@pytest.mark.parametrize(
    "a,b",
    [
        ("https://Example.COM/x", "https://example.com/x"),
        ("https://example.com:443/x", "https://example.com/x"),
        ("http://example.com:80/x", "http://example.com/x"),
        ("https://example.com/x#frag", "https://example.com/x"),
        ("https://example.com/x?b=2&a=1", "https://example.com/x?a=1&b=2"),
        ("https://example.com", "https://example.com/"),
    ],
)
def test_canonicalize_equivalences(a, b):
    assert canonicalize_url(a) == canonicalize_url(b) == b


def test_same_fp_for_surface_variants():
    # RFPDupeFilter contract: one fingerprint for all surface forms
    variants = [
        "https://h.com/item/1?b=2&a=1",
        "https://h.com/item/1?a=1&b=2#frag",
        "https://H.COM:443/item/1?a=1&b=2",
    ]
    fps = {url_fingerprint(u) for u in variants}
    assert len(fps) == 1
    assert url_fingerprint("https://h.com/item/2") not in fps


def test_non_default_port_kept():
    assert canonicalize_url("https://h.com:8443/x") == "https://h.com:8443/x"


def test_extract_page_detail_fields():
    spec = SiteSpec(n_hosts=1, lists_per_host=1, per_list=3)
    data = generate_site(spec)
    detail = next(p for p in data["pages"] if "/item/1" == p["url"][-7:])
    page = extract_page(detail["url"], detail["html"])
    assert page["kind"] == "detail"
    assert page["rank"] == 1
    assert page["name"].startswith("Item 1")
    assert isinstance(page["rate"], float)
    assert isinstance(page["num"], int)
    assert page["genres"] and all(isinstance(g, str) for g in page["genres"])
    assert page["text"] == detail["text"]  # byte identity


# ---- Spark-side kernels ------------------------------------------------------

def test_spark_canonicalize_and_fp_match_pure(spark):
    urls = [
        "https://Example.COM:443/item/9?b=2&a=1#f",
        "http://h.com:80/",
        "https://h.com/list?start=25",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = df.select(
        canonicalize_urls("url").alias("canon"),
        # fingerprint_col takes the canonical column, as every engine
        # caller passes it
        fingerprint_col(canonicalize_urls("url")).alias("fp"),
        host_col(F.col("url")).alias("host"),
    ).collect()
    for u, r in zip(urls, rows):
        assert r["canon"] == canonicalize_url(u)
        assert r["fp"] == url_fingerprint(u)


def test_extract_text_byte_identity_whole_corpus(spark):
    """The driver's per-row invariant: extract_text(html) == pages.text for
    EVERY url (input_hint)."""
    data = generate_site(SiteSpec(n_hosts=3, lists_per_host=2, per_list=5))
    from crawlspark.schema import PAGES

    pages = spark.createDataFrame(data["pages"], schema=PAGES)
    mismatches = pages.select(
        (extract_text(F.col("html")) == F.col("text")).alias("ok")
    ).filter(~F.col("ok")).count()
    assert mismatches == 0


def test_inflated_pages_keep_byte_identity(spark):
    """inflate_pages pads html AND text consistently: the extract_text
    invariant must survive inflation (bench runs on inflated pages)."""
    from crawlspark.schema import PAGES
    from crawlspark.synth import inflate_pages

    data = generate_site(SiteSpec(n_hosts=2, lists_per_host=1, per_list=3))
    pages = inflate_pages(
        spark.createDataFrame(data["pages"], schema=PAGES), n_pad_words=50
    )
    rows = pages.select(
        "url",
        (extract_text(F.col("html")) == F.col("text")).alias("ok"),
        F.length("text").alias("n"),
    ).collect()
    assert all(r["ok"] for r in rows), [r["url"] for r in rows if not r["ok"]]
    assert all(r["n"] > 300 for r in rows)  # actually inflated


def test_extract_records_and_links_spark_matches_pure(spark):
    data = generate_site(SiteSpec(n_hosts=2, lists_per_host=2, per_list=4))
    from crawlspark.schema import PAGES

    pages = spark.createDataFrame(data["pages"], schema=PAGES)
    got = {
        r["url"]: r.asDict()
        for r in extract_records_and_links(pages.select("url", "html")).collect()
    }
    for p in data["pages"]:
        want = extract_page(p["url"], p["html"])
        g = got[p["url"]]
        assert g["kind"] == want["kind"]
        assert g["rank"] == want["rank"]
        assert g["name"] == want["name"]
        assert g["rate"] == want["rate"]
        assert g["num"] == want["num"]
        assert (g["links"] or []) == (want["links"] or [])
        assert g["text"] == want["text"]
