"""Fetch + extract (SURVEY.md §2.4 G3/G4/G5, §2.2 P1-P3).

Two fetch paths share one output contract:

1. ``fetch_closed_world`` — the graft's deterministic "web": a fetch is
   an equi hash join ``dispatch ⋈ web_pages`` on ``url_hash`` (G4).
   Failure is modeled by the page's ``fail_attempts`` column: a try
   succeeds iff prior ``attempts >= fail_attempts`` (so a page with
   fail_attempts=3 succeeds on the 4th try), mirroring the reference's
   5-attempt retry budget (RetryAttempts, otodom/commons/extensions.go:25-47,
   invoked with 5 at flat_crawler/handler.go:53).  A URL absent from
   web_pages is a permanent 404.

2. ``fetch_http_map`` — the real-web shape: ``mapInPandas`` over the
   politeness-salted dispatch partitions, retrying a pluggable fetcher
   inside the batch (G3+G5).  The sandbox has no network, so the engine
   uses path 1; path 2 is unit-tested with an injected fake fetcher and
   is the drop-in for a live deployment.

Extraction (P1/P2): per fetched page, explode the zipped listing
arrays → project the 7-ish result columns, applying the reference's
scalar extractors (ExtractNumber → price_digits, TakeChractersBefore
'.html' → canonical link), then join the image payload table by
image_id.  Bytes are joined LAST so image payloads never pass through
the explode/extract shuffles (project early, join late).  The payload
gate (``verify_rows``) runs on the image side, before that join: once
per distinct image, not once per listing that shows it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import extract_number, take_before

MAX_ATTEMPTS = 5  # reference: RetryAttempts(5, ...)

PAGE_CONTENT_COLS = [
    "last_page",
    "listing_ids",
    "listing_prices",
    "listing_links",
    "listing_rooms",
    "listing_areas",
    "listing_totals",
    "fail_attempts",
]


def fetch_closed_world(dispatch: DataFrame, web_pages: DataFrame) -> DataFrame:
    """dispatch ⋈ web on url_hash; adds ``found`` and ``ok`` status cols."""
    web = web_pages.select("url_hash", *PAGE_CONTENT_COLS)
    fetched = dispatch.join(web, "url_hash", "left")
    return fetched.withColumn("found", F.col("fail_attempts").isNotNull()).withColumn(
        "ok", F.col("found") & (F.col("attempts") >= F.col("fail_attempts"))
    )


def split_fetch_outcomes(
    fetched: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (ok, retry, dead).

    retry: found-but-failed tries with budget left (attempts+1 < 5) —
    re-enqueued next round with attempts+1.  dead: permanent 404 or
    retry budget exhausted (the reference panics here; we dead-letter).
    """
    ok = fetched.filter(F.col("ok"))
    failed = fetched.filter(~F.col("ok")).withColumn("attempts", F.col("attempts") + 1)
    retry = failed.filter(F.col("found") & (F.col("attempts") < MAX_ATTEMPTS))
    dead = failed.filter(~F.col("found") | (F.col("attempts") >= MAX_ATTEMPTS))
    return ok, retry, dead


def extract_results(ok_pages: DataFrame, web_images: DataFrame, round_no: int) -> DataFrame:
    """P1/P2 dual projection: page → one row per listing, + image join.

    The reference ships TWO extract projections over the same page
    source, selected by crawler function (= our ``schema_name``):

    - flat (flat_crawler/handler.go:93-104): price = full price, plus a
      ``rooms`` selector (handler.go:98);
    - office (office_crawler/handler.go:92-102): price = per-m² price
      (selector ``li.offer-item-price-per-m``, handler.go:97), plus a
      ``total_price`` selector (handler.go:96) — and NO rooms.

    One result table carries the superset schema with variant-specific
    columns NULL for the other variant (idiomatic Spark: one table,
    partitioned by schema_name, instead of two sinks).  All scalar
    extraction is the shared ExtractNumber / TakeChractersBefore pair.

    When ``web_images`` carries the payload verdict (``verify_rows``
    applied image-side), ``psnr_db`` / ``phash_ok`` ride the image_id
    left join into the last two columns; a listing whose image is
    missing gets NULL/NULL, as a NULL payload does.
    """
    z = F.arrays_zip(
        F.col("listing_ids").alias("lid"),
        F.col("listing_prices").alias("price_raw"),
        F.col("listing_links").alias("link_raw"),
        F.col("listing_rooms").alias("rooms_raw"),
        F.col("listing_areas").alias("area_raw"),
        F.col("listing_totals").alias("total_raw"),
    )
    is_flat = F.col("schema_name") == "flat"
    is_office = F.col("schema_name") == "office"
    listings = ok_pages.select(
        F.col("url_hash").alias("page_url_hash"),
        "domain",
        "schema_name",
        "schema_version",
        F.explode(z).alias("_l"),
    ).select(
        "page_url_hash",
        "domain",
        "schema_name",
        "schema_version",
        F.format_string("img-%012d", F.col("_l.lid")).alias("image_id"),
        extract_number(F.col("_l.price_raw")).alias("price_digits"),
        extract_number(F.col("_l.area_raw")).alias("area_digits"),
        F.when(is_flat, extract_number(F.col("_l.rooms_raw"))).alias("rooms_digits"),
        F.when(is_office, extract_number(F.col("_l.total_raw"))).alias(
            "total_price_digits"
        ),
        take_before(F.col("_l.link_raw"), ".html").alias("link"),
    )
    return (
        listings.join(web_images, "image_id", "left")
        .withColumn("round", F.lit(round_no))
        .select(
            "round",
            "schema_name",
            "schema_version",
            "domain",
            "page_url_hash",
            "image_id",
            "caption",
            "bytes",
            "w",
            "h",
            "fmt",
            "phash",
            "price_digits",
            "area_digits",
            "rooms_digits",
            "total_price_digits",
            "link",
            *[c for c in ("psnr_db", "phash_ok") if c in web_images.columns],
        )
    )


def verify_rows(images: DataFrame, image_seed: int = 42) -> DataFrame:
    """Payload invariant gate (BASELINE.json input_hint): decode each
    image payload, recompute the perceptual hash against the row's
    ``phash`` column, and measure decoded-pixel PSNR vs the reference
    pixels (regenerated from image_id — the closed-world analogue of
    'reference extractions').

    Appends ``psnr_db`` / ``phash_ok``; never drops rows — failed
    invariants are data for the curation layer, not exceptions.  A NULL
    payload gets NULL/NULL.  Only the codec contract becomes data:
    ``ValueError`` / ``NotImplementedError`` from decoding or comparing
    the payload give ``phash_ok=False``.  Anything else — including a
    payload row whose image_id, w, h or phash cannot be read — fails
    the task, so a bug never turns into a verdict.

    The verdict is a pure function of one image row plus
    ``image_seed``, so the engine applies this to its cached
    ``web_images`` frame, once per distinct payload, and lets the
    columns reach ``results`` through the image_id join
    (``extract_results``).  It works on any frame carrying image_id,
    bytes, fmt, w, h and phash.

    Implemented as a SCALAR pandas UDF returning a (psnr, ok) struct —
    not ``mapInPandas`` — so only its six input columns travel through
    Arrow into Python, and 12 bytes/row come back.  Narrow: no shuffle.
    """
    from .. import images as I

    @F.pandas_udf("struct<psnr_db: double, phash_ok: boolean>")
    def verify(
        data_s: pd.Series,
        fmt_s: pd.Series,
        id_s: pd.Series,
        w_s: pd.Series,
        h_s: pd.Series,
        phash_s: pd.Series,
    ) -> pd.DataFrame:
        n = len(data_s)
        psnr = [None] * n
        ok = [None] * n
        for i, (data, fmt, iid, w, h, ph) in enumerate(
            zip(data_s, fmt_s, id_s, w_s, h_s, phash_s)
        ):
            if data is None:
                continue
            # row metadata, outside the codec guard: pandas hands a NULL
            # int column over as NaN, and int(NaN) must fail the task
            k = int(str(iid).rsplit("-", 1)[1])
            w, h, ph = int(w), int(h), int(ph)
            try:
                dec = I.decode_image(bytes(data), str(fmt))
                ref = I.gen_pixels(image_seed, k, w, h)
                psnr[i] = I.psnr(dec, ref)
                ok[i] = I.phash64(dec) == ph
            except (ValueError, NotImplementedError):
                ok[i] = False
        return pd.DataFrame(
            {"psnr_db": pd.Series(psnr, dtype="float64"),
             "phash_ok": pd.Series(ok, dtype="object")}
        )

    # phash travels as a string: pandas turns an int column with a NULL
    # anywhere in the Arrow batch into float64, which rounds a 64-bit
    # hash (w and h are small enough to survive that)
    v = verify(
        F.col("bytes"), F.col("fmt"), F.col("image_id"),
        F.col("w"), F.col("h"), F.col("phash").cast("string"),
    )
    return (
        images.withColumn("_v", v)
        .withColumn("psnr_db", F.col("_v.psnr_db"))
        .withColumn("phash_ok", F.col("_v.phash_ok"))
        .drop("_v")
    )


# --------------------------------------------------------------- live-web path
def fetch_http_map(
    dispatch: DataFrame,
    fetcher: Callable[[str], dict | None],
    result_schema,
    max_attempts: int = MAX_ATTEMPTS,
) -> DataFrame:
    """G3/G5: partition-parallel fetch with in-batch retry.

    ``fetcher(url) -> dict | None`` is the page loader (HTTP in a real
    deployment; a deterministic fake in tests).  Exceptions are retried
    up to ``max_attempts`` per URL within the batch; rows that still
    fail are emitted with ok=False for re-enqueue by the engine.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, attempts in zip(pdf["url"], pdf["attempts"]):
                content, tries, err = None, int(attempts), None
                while tries < max_attempts:
                    tries += 1
                    try:
                        content = fetcher(url)
                        break
                    except Exception as e:  # retry (G5)
                        err = str(e)
                out.append(
                    {
                        "url": url,
                        "attempts": tries,
                        "ok": content is not None,
                        "error": err if content is None else None,
                        **(content or {}),
                    }
                )
            yield pd.DataFrame(out)

    return dispatch.mapInPandas(run, schema=result_schema)
