"""Parse routing — the shunt pattern (tika/RedirectionBolt.java:54,43-53
plus SiteMapParserBolt/FeedParserBolt pass-through): classify each fetched
page by sniffing, route to the right parse branch, union the statuses.

Branches: sitemap → sitemap parser; feed → feed parser; html → HTML
parser; text/plain → trivial text doc; PDF → the rich-document branch
(Tika in the reference — parse/richdoc.py extracts text/title/outlinks
natively); remaining binary types → a clear error row, the pluggable slot
for further extractors.

Classification runs in ONE Arrow pass over the head bytes; each branch
then processes only its rows (filter pushdown keeps bytes out of branches
that don't need them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .feed import parse_feeds, sniff_feed
from .html import looks_like_html, parse_pages
from .sitemap import parse_sitemaps, sniff_sitemap


def classify_pages(pages: DataFrame) -> DataFrame:
    """Adds a ``kind`` column: sitemap | feed | html | text | other.

    The column is appended in the same Arrow pass that sniffs the bytes,
    so the output keeps ``pages``' rows and partitioning. Do not join
    the kinds back on ``url``: AQE picks that join's strategy at run
    time from whichever side's stage finishes first, so the output is
    sometimes ``pages``' width and sometimes
    ``spark.sql.shuffle.partitions`` wide, and a cache of it keeps
    whichever width won."""
    from pyspark.sql.types import StringType, StructField, StructType

    def run(batches):
        for pdf in batches:
            kinds = []
            for raw in pdf["content"]:
                content = bytes(raw) if raw is not None else b""
                head = content[:512].lstrip()
                if sniff_sitemap(content):
                    kinds.append("sitemap")
                elif sniff_feed(content):
                    kinds.append("feed")
                elif looks_like_html(content):
                    kinds.append("html")
                elif head.startswith(b"%PDF"):
                    kinds.append("richdoc")  # PDF → rich-document branch
                elif (
                    content[:4] == b"PK\x03\x04"
                    and b"word/document.xml" in content
                ):
                    kinds.append("richdoc")  # DOCX (OOXML zip)
                elif content[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
                    kinds.append("richdoc")  # OLE2 (.doc legacy Word)
                elif head.startswith(
                    (b"PK\x03\x04", b"\x89PNG", b"GIF8", b"\xff\xd8",
                     b"\x1f\x8b")
                ):
                    kinds.append("other")  # binary magic without an extractor
                elif not content[:512].translate(
                    None, bytes(range(32, 127)) + b"\t\r\n"
                ):
                    kinds.append("text")
                else:
                    kinds.append("other")
            yield pdf.assign(kind=kinds)

    schema = StructType(
        pages.schema.fields + [StructField("kind", StringType())]
    )
    return pages.mapInPandas(run, schema=schema)


def parse_routed(pages: DataFrame, max_outlinks: int = 100):
    """Returns dict of branch outputs:
    {"html": parsed-html DF, "sitemaps": sitemap results, "feeds": feed
    results, "texts": plain-text docs, "richdocs": PDF extractions,
    "other": unparsed rows}."""
    from .richdoc import parse_richdocs

    classified = classify_pages(pages).cache()
    html = parse_pages(
        classified.where(F.col("kind") == "html"), max_outlinks=max_outlinks
    )
    sitemaps = parse_sitemaps(classified.where(F.col("kind") == "sitemap"))
    feeds = parse_feeds(classified.where(F.col("kind") == "feed"))
    texts = classified.where(F.col("kind") == "text").select(
        "url",
        F.col("content").cast("string").alias("text"),
    )
    richdocs = parse_richdocs(classified.where(F.col("kind") == "richdoc"))
    other = classified.where(F.col("kind") == "other").select(
        "url", F.lit("unsupported content type (rich-document branch)").alias("error")
    )
    return {
        "html": html,
        "sitemaps": sitemaps,
        "feeds": feeds,
        "texts": texts,
        "richdocs": richdocs,
        "other": other,
    }
