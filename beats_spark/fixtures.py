"""Deterministic synthetic fixtures: the Common-Crawl-style ``pages``
table mandated by BASELINE.json ``input_hint`` —
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` — plus the host and lang lookup tables (FIXTURES.md §1-2),
local relations that the pipeline folds into its plan as map literals.

Generated **with Spark itself** (``spark.range`` + column expressions,
seed-free determinism via id arithmetic): the same code paints 10³ rows
for unit tests and 10⁹ for a cluster bench without touching the driver.
Host draw is Zipf-skewed through a 100-slot lookup array so hot domains
exercise salting/AQE exactly like the north_star demands.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .lookup import local_frame

__all__ = ["pages", "host_meta", "lang_meta", "HOSTS", "LANGS"]

# 20 hosts; slot allocation below gives host 0 ≈ 26% of rows (hot),
# tail hosts <1% each — a realistic web-crawl skew.
HOSTS: List[str] = [
    "news.example.com", "blog.example.org", "shop.acme.co.uk", "docs.spark.dev",
    "forum.beats.io", "wiki.data.net", "mail.corp.example", "cdn.assets.org",
    "api.service.io", "store.retail.com", "video.stream.tv", "img.pics.net",
    "code.repo.dev", "chat.social.app", "maps.geo.org", "search.find.com",
    "weather.sky.net", "music.tunes.fm", "games.play.gg", "books.read.org",
]

# Zipf-ish slot counts over 100 slots (1/k scaled): host k gets ~26/(k+1)
_SLOT_COUNTS = [26, 13, 9, 7, 5, 4, 4, 3, 3, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 5]
assert sum(_SLOT_COUNTS) == 100 and len(_SLOT_COUNTS) == len(HOSTS)

LANGS: List[Tuple[str, int]] = [
    ("en", 40), ("de", 15), ("fr", 15), ("es", 10), ("zh", 10), ("zz", 10)]

_BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def _slot_array(pairs: List[Tuple[str, int]]) -> Column:
    slots: List[str] = []
    for value, n in pairs:
        slots.extend([value] * n)
    return F.array(*[F.lit(s) for s in slots])


def _pick(idx: Column, pairs: List[Tuple[str, int]]) -> Column:
    return F.element_at(_slot_array(pairs), (idx % 100).cast("int") + 1)


def pages(spark: SparkSession, n_rows: int = 10_000,
          partitions: int | None = None) -> DataFrame:
    """The synthetic pages table. ``text`` embeds per-page log-like
    lines: two dissect-able event lines, each followed by indented
    continuation lines (exercises the multiline joiner and greedy
    dissect padding); ~2% of pages carry a corrupt second event line
    (dead-letter path). Fully deterministic in ``id``."""
    df = spark.range(0, n_rows, numPartitions=partitions)
    i = F.col("id")

    host = _pick(F.pmod(F.xxhash64(i, F.lit(1)), 100),
                 list(zip(HOSTS, _SLOT_COUNTS)))
    lang = _pick(F.pmod(F.xxhash64(i, F.lit(2)), 100), LANGS)
    ts = F.timestamp_seconds(F.lit(_BASE_EPOCH) + (i % 86_400) * 7)
    url = F.concat(F.lit("https://"), host, F.lit("/page/"), i.cast("string"))
    level = F.element_at(
        F.array(F.lit("info"), F.lit("info"), F.lit("warn"), F.lit("error")),
        F.pmod(F.xxhash64(i, F.lit(3)), 4).cast("int") + 1)
    nbytes = F.pmod(F.xxhash64(i, F.lit(4)), 100_000)
    latency_ms = F.pmod(F.xxhash64(i, F.lit(5)), 5_000)
    corrupt = F.pmod(F.xxhash64(i, F.lit(6)), 100) < 2

    ts_str = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    line1 = F.format_string(
        "ts=%s level=%s host=%s bytes=%s msg=\"request /page/%s served\"",
        ts_str, level, host, nbytes.cast("string"), i.cast("string"))
    cont1 = F.lit("  at handler.serve(handler.go:42)")
    cont2 = F.lit("  at mux.route(mux.go:17)")
    line2_ok = F.format_string(
        "ts=%s level=%s host=%s bytes=%s msg=\"render took %sms\"",
        F.date_format(ts + F.expr("INTERVAL 1 SECOND"),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        level, host, (nbytes / 2).cast("long").cast("string"),
        latency_ms.cast("string"))
    line2 = F.when(corrupt, F.lit("!!corrupt line with no key=value shape"))\
             .otherwise(line2_ok)
    cont3 = F.lit("  at render.paint(render.go:99)")
    text = F.concat_ws("\n", line1, cont1, cont2, line2, cont3)

    html = F.encode(F.format_string(
        "<html><head><title>page %s</title></head><body>%s</body></html>",
        i.cast("string"), F.repeat(F.lit("lorem ipsum "), 5)), "utf-8")

    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def host_meta(spark: SparkSession) -> DataFrame:
    """Geo/dns lookup on host (FIXTURES.md §2): the last two hosts are
    deliberately absent, so the lookup-miss branch exercises
    ``tag_on_failure``."""
    rows = []
    countries = ["US", "DE", "GB", "FR", "JP", "BR", "IN", "AU", "CA", "NL"]
    cities = ["nyc", "berlin", "london", "paris", "tokyo", "sao-paulo",
              "mumbai", "sydney", "toronto", "amsterdam"]
    for k, h in enumerate(HOSTS[:-2]):
        parts = h.split(".")
        rows.append((
            h,
            countries[k % len(countries)],
            cities[k % len(cities)],
            64500 + k,
            f"203.0.{k}.{10 + k}",
            ".".join(parts[-2:]),
        ))
    return local_frame(spark, rows,
                       "host string, geo_country string, geo_city string, "
                       "asn bigint, resolved_ip string, "
                       "registered_domain string")


def lang_meta(spark: SparkSession) -> DataFrame:
    rows = [
        ("en", "English", "sink_es"),
        ("de", "German", "sink_es"),
        ("fr", "French", "sink_ls"),
        ("es", "Spanish", "sink_ls"),
        ("zh", "Chinese", "sink_ls"),
        # zz intentionally absent → router default handles it
    ]
    return local_frame(
        spark, rows, "lang string, lang_label string, sink_hint string")
