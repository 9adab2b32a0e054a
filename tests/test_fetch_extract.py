"""The crawl's link extractor (urlnorm.extract_links, run inside the
fetch stage) against the oracle's extractor and against the Column
pipeline it replaced (explode → trim → junk filter → urljoin UDF →
onion filter → canonicalize UDF → distinct)."""
from __future__ import annotations

from pyspark.sql import functions as F

from sparkharvester.frontier import FETCHED_SCHEMA, _make_fetch_extract
from sparkharvester.oracle import extract_links_py
from sparkharvester.synth import (
    SynthConfig,
    make_fetch_stage,
    page_url,
    synth_fetch_page,
)
from sparkharvester.urlnorm import (
    canonicalize_udf,
    extract_links,
    is_junk_href,
    is_valid_onion,
    urljoin_udf,
)

SYNTH = SynthConfig(n_hosts=4, pages_per_host=12, fanout=10)
PADDINGS = {
    "none": lambda h: h,
    "spaces": lambda h: f"  {h} ",
    "control": lambda h: f"\t{h}\n ",
}


def _pages() -> list[tuple[str, list[str]]]:
    """(url, hrefs) of every ok synth page."""
    out = []
    for host in range(SYNTH.n_hosts):
        for page in range(SYNTH.pages_per_host):
            url = page_url(host, page, SYNTH.seed)
            f = synth_fetch_page(url, SYNTH)
            if f["ok"]:
                out.append((url, f["hrefs"]))
    return out


def _padded() -> list[tuple[str, str, list[str]]]:
    return [(name, url, [pad(h) for h in hrefs])
            for name, pad in PADDINGS.items() for url, hrefs in _pages()]


def test_pages_cover_every_href_kind():
    hrefs = [h for _, hs in _pages() for h in hs]
    assert any(h.startswith("#") for h in hrefs)                 # junk
    assert any(h.startswith("javascript:") for h in hrefs)
    assert any(h.startswith("mailto:") for h in hrefs)
    assert any(h.startswith("/p") for h in hrefs)                # relative
    assert any(".example.com" in h for h in hrefs)               # clearweb
    assert any(h.endswith("/login") for h in hrefs)              # blacklisted
    assert any(".onion/" in h and "#s" in h for h in hrefs)      # fragment


def test_extractor_matches_oracle():
    for _, url, hrefs in _padded():
        assert extract_links(url, hrefs) == extract_links_py(url, hrefs)


def test_extractor_strips_tabs_and_newlines():
    """str.strip(), as the oracle: tab/newline padding changes nothing
    (Spark's trim, used by the old Column pipeline, strips spaces
    only)."""
    for url, hrefs in _pages():
        assert extract_links(url, [PADDINGS["control"](h) for h in hrefs]) \
            == extract_links(url, hrefs)


def test_extractor_matches_column_pipeline(spark):
    rows = [(name, url, hrefs) for name, url, hrefs in _padded()
            if name != "control"]
    df = spark.createDataFrame(
        rows, "pad string, canon_url string, hrefs array<string>")
    old = (
        df.select("pad", "canon_url", F.explode("hrefs").alias("href"))
        .withColumn("href", F.trim("href"))
        .filter(~is_junk_href(F.col("href")))
        .withColumn("resolved", urljoin_udf(F.col("canon_url"), F.col("href")))
        .filter(is_valid_onion(F.col("resolved")))
        .withColumn("link", canonicalize_udf(F.col("resolved")))
        .select("pad", "canon_url", "link")
        .distinct()
    )
    got: dict = {}
    for r in old.collect():
        got.setdefault((r["pad"], r["canon_url"]), set()).add(r["link"])
    for name, url, hrefs in rows:
        links = extract_links(url, hrefs)
        assert len(links) == len(set(links))
        assert set(links) == got.get((name, url), set()), (name, url)


def test_fetch_stage_rows(spark):
    """The fused stage: blacklisted rows are skipped unfetched, failed
    rows carry no links, ok rows carry the oracle's links."""
    cands = [(page_url(h, p, SYNTH.seed), h, 1, 0, p % 5 == 0)
             for h in range(SYNTH.n_hosts) for p in range(SYNTH.pages_per_host)]
    df = spark.createDataFrame(
        cands, "canon_url string, seed_id int, depth int, retry_no int, "
               "blacklisted boolean").repartition(3)
    out = df.mapInPandas(_make_fetch_extract(make_fetch_stage(SYNTH)),
                         FETCHED_SCHEMA).collect()
    assert len(out) == len(cands)
    assert any(r["ok"] for r in out) and any(
        not r["ok"] and not r["blacklisted"] for r in out)
    for r in out:
        assert r["links_found"] == len(r["links"])
        if r["blacklisted"]:
            assert (r["ok"], r["attempts"], r["fetch_partition"],
                    r["links"]) == (False, 0, -1, [])
            continue
        f = synth_fetch_page(r["canon_url"], SYNTH)
        assert r["ok"] == f["ok"] and r["text"] == f["text"]
        assert r["fetch_partition"] >= 0
        assert r["links"] == (extract_links_py(r["canon_url"], f["hrefs"])
                              if f["ok"] else [])
