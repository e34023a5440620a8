"""End-to-end incremental crawl curation: WARC batches -> canonical-URL
frontier dedup -> content-fingerprint dedup -> exactly-once pool commits.

The composite a recrawling pipeline runs forever: batch N's pages are
admitted only if (a) their CANONICAL URL is not already in the pool
(frontier dedup — tracking-param/case variants of a crawled page are
re-fetches, not new pages) and (b) their content fingerprint is new
(mirror/duplicate content under a different URL).  Both decisions are
left-anti joins against the pool; commits go through the Delta-format
txlog, and a replayed batch admits nothing (idempotent re-run).

Composes sources/warc.py, functions/net.canonical_url,
functions/text.fingerprint, datamodel.wrap_envelope, and the txlog
Pool — every piece individually oracle- or golden-checked; this test
pins the COMPOSITION's semantics."""

from pyspark.sql import Window, functions as F

from zinger_spark.datamodel import wrap_envelope
from zinger_spark.functions.net import canonical_url
from zinger_spark.functions.text import fingerprint
from zinger_spark.sources import warc as W
from zinger_spark.sources.pool import Pool, PoolError


def _page(url: str, text: str) -> dict:
    html = f"<html><body><p>{text}</p></body></html>"
    return {"uri": url, "body": html.encode()}


def _extract(spark, paths):
    raw = W.read_warc(spark, paths)
    return raw.select(
        F.col("target_uri").alias("url"),
        W.html_to_text(F.col("body").cast("string")).alias("text"),
    ).select(
        "url",
        "text",
        canonical_url(F.col("url")).alias("canon_url"),
        fingerprint(F.col("text")).alias("content_fp"),
    )


def _admit(docs, pool):
    """Frontier + content dedup against the pool's crawled state."""
    try:
        seen = pool.df().select(
            F.col("key").alias("canon_url"),
            F.col("value.content_fp").alias("content_fp"),
        )
    except PoolError:  # brand-new pool: everything is new
        return docs
    new_urls = docs.join(
        seen.select("canon_url").distinct(), "canon_url", "left_anti"
    )
    return new_urls.join(
        seen.select("content_fp").distinct(), "content_fp", "left_anti"
    )


def _commit(pool, docs, start_offset: int) -> None:
    w = Window.orderBy("canon_url")
    enum = docs.withColumn(
        "__off", F.row_number().over(w) + F.lit(start_offset - 1)
    )
    staged = wrap_envelope(
        enum,
        topic="crawl",
        offset=F.col("__off"),
        key=F.col("canon_url"),
        value=F.struct("url", "text", "content_fp"),
    )
    pool.load_batch(staged)


def test_incremental_crawl_curation(spark, tmp_path):
    b1 = str(tmp_path / "b1.warc.gz")
    W.write_warc_gz(b1, [
        _page("https://www.siteA.com/home?b=2&a=1", "alpha content one"),
        _page("https://www.siteB.com/post", "beta content two"),
        _page("https://www.siteC.com/page/", "gamma content three"),
    ])
    pool = Pool.create(spark, str(tmp_path / "pool"))
    batch1 = _admit(_extract(spark, [b1]), pool)
    assert batch1.count() == 3  # empty pool: everything admitted
    _commit(pool, batch1, start_offset=0)

    # batch 2: a re-fetch of siteA under a tracking-param/case variant
    # (same canonical URL), a mirror of siteB's content under a NEW url
    # (same fingerprint), and one genuinely new page
    b2 = str(tmp_path / "b2.warc.gz")
    W.write_warc_gz(b2, [
        _page("HTTPS://WWW.SITEA.COM:443/home?a=1&utm_source=feed&b=2#top",
              "alpha content one CHANGED"),
        _page("https://mirror.example.org/copy-of-b", "beta content two"),
        _page("https://www.siteE.com/fresh", "epsilon content five"),
    ])
    batch2 = _admit(_extract(spark, [b2]), pool)
    got = {r.canon_url for r in batch2.select("canon_url").collect()}
    # siteA variant collapses to the crawled canonical form -> rejected
    # even though its CONTENT changed (recrawl policy: same page);
    # the mirror has a new URL but known content -> rejected
    assert got == {"https://www.sitee.com/fresh"}
    _commit(pool, batch2, start_offset=3)

    rows = pool.df().select(
        "kafka.offset", "key", F.col("value.content_fp").alias("fp")
    ).collect()
    assert len(rows) == 4
    assert sorted(r.offset for r in rows) == [0, 1, 2, 3]
    assert len({r.key for r in rows}) == 4
    assert len({r.fp for r in rows}) == 4

    # exactly-once: replaying batch 2 admits nothing, pool unchanged
    replay = _admit(_extract(spark, [b2]), pool)
    assert replay.count() == 0
    assert pool.df().count() == 4
