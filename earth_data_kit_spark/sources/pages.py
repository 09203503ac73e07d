"""Deterministic synthetic Common-Crawl-style pages table.

BASELINE.json input_hint fixes the shape: ``pages(url string,
warc_ts timestamp, html binary, text string, lang string)``.  No
external data: pages are derived deterministically from the driver's
``documents`` parquet (TESTDATA.md) by pure integer arithmetic, so
the *same rows* can be produced by Spark SQL, DuckDB (the driver's
oracle) and numpy — ``pages_cte_sql`` is written once in the shared
dialect subset (arithmetic, CASE, concat only).

Skew is built in: ``DENSE_PCT`` % of pages geocode into one dense
urban cell (Tirana — also inside the Albania fixture bbox the
reference tests use, tests/fixtures/country_bboxes.py:6), which is
what exercises the salting / AQE-skew paths at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DENSE_PCT = 20  # % of pages in the dense cell
DENSE_LAT, DENSE_LON = 41.0, 19.6  # inside Albania bbox
EPOCH_2017 = 1483228800  # 2017-01-01T00:00:00Z

TLDS = ["al", "in", "de", "fr", "it", "gr", "es", "uk", "us", "br"]
TLD_LANG = {
    "al": "sq", "in": "hi", "de": "de", "fr": "fr", "it": "it",
    "gr": "el", "es": "es", "uk": "en", "us": "en", "br": "pt",
}


def pages_cte_sql(documents: str = "documents", reps: int = 1) -> str:
    """Pages metadata as ONE SQL text valid in Spark SQL *and* DuckDB.

    Columns: page_id, doc_id, h (derivation hash), url, tld, lang,
    lat, lon, ts_s (warc_ts as epoch seconds — timestamp conversion
    is dialect-specific, so callers convert).  LCG constants are the
    classic glibc rand() ones (public).

    ``reps`` fans each document out into that many pages (pages =
    |documents| × reps) so bench can run at realistic row counts; the
    fan-out is a dialect-neutral UNION-ALL series, and every derived
    column depends only on page_id, so any two engines agree row for
    row at any reps.

    NB: float literals are written in e-notation (``1e4``) on purpose
    — Spark parses ``10000.0`` as DECIMAL and its decimal division
    rounds differently from DuckDB's; ``1e4`` is DOUBLE in both.
    """
    tld_case = "CASE (h % 10) " + " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(TLDS)
    ) + " END"
    lang_case = "CASE (h % 10) " + " ".join(
        f"WHEN {i} THEN '{TLD_LANG[t]}'" for i, t in enumerate(TLDS)
    ) + " END"
    if reps == 1:
        base = (
            f"SELECT doc_id AS page_id, doc_id,"
            f" (doc_id * 1103515245 + 12345) % 2147483648 AS h FROM {documents}"
        )
    else:
        # factor the fan-out: a single UNION-ALL chain of thousands of
        # SELECTs breaks SQL parsers; two crossed series of ≤64 terms
        # cover reps = s1 × s2 (reps must stay a product of chunks)
        def _series(n: int, alias: str) -> str:
            return "(" + " UNION ALL ".join(f"SELECT {i} AS {alias}" for i in range(n)) + ")"

        if reps <= 64:
            rr = f"{_series(reps, 'r')} rr"
            r_expr = "rr.r"
        else:
            s2 = 64
            if reps % s2 != 0:
                raise ValueError(f"reps > 64 must be a multiple of 64, got {reps}")
            s1 = reps // s2
            if s1 > 4096:
                raise ValueError(f"reps too large: {reps}")
            rr = f"{_series(s1, 'ra')} ra CROSS JOIN {_series(s2, 'rb')} rb"
            r_expr = f"(ra.ra * {s2} + rb.rb)"
        base = (
            f"SELECT d.doc_id * {reps} + {r_expr} AS page_id, d.doc_id,"
            f" ((d.doc_id * {reps} + {r_expr}) * 1103515245 + 12345) % 2147483648 AS h"
            f" FROM {documents} d CROSS JOIN {rr}"
        )
    return f"""
SELECT
  page_id,
  doc_id,
  h,
  concat('https://site', CAST(page_id % 997 AS STRING), '.', {tld_case},
         '/doc/', CAST(page_id AS STRING)) AS url,
  {tld_case} AS tld,
  {lang_case} AS lang,
  CASE WHEN (h % 100) < {DENSE_PCT}
       THEN {DENSE_LAT} + (h % 3000) / 1e4
       ELSE -58.0 + ((h * 7919) % 1300000) / 1e4 END AS lat,
  CASE WHEN (h % 100) < {DENSE_PCT}
       THEN {DENSE_LON} + (CAST(floor(h / 3e3) AS BIGINT) % 3000) / 1e4
       ELSE -180.0 + ((h * 104729) % 3600000) / 1e4 END AS lon,
  {EPOCH_2017} + (h % 86400) AS ts_s
FROM ({base}) base
""".strip()


def pages_meta_df(spark: SparkSession, sf_dir: str, reps: int = 1) -> DataFrame:
    """Pages metadata (no html payload) as a DataFrame."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return spark.sql(pages_cte_sql(reps=reps))


def mutate_url(url: str, lat: float, lon: float, h: int) -> str:
    """h%7==0 pages embed coordinates in the URL (url-geocode path).
    Pure python (python round/str): the oracle for the JVM render in
    ``synth_pages_df`` and the golden generator's twin."""
    if h % 7 == 0:
        return f"{url}/@{round(lat, 4)},{round(lon, 4)}"
    return url


def mutate_text(text: str, lat: float, lon: float, h: int) -> str:
    """h%7==1 pages carry a ``geo:`` marker (content-geocode path).
    Oracle for the JVM render in ``synth_pages_df``."""
    if h % 7 == 1:
        return f"{text}\ngeo: {round(lat, 4)}, {round(lon, 4)}"
    return text


def render_html(text: str, doc_id: int) -> bytes:
    """Deterministic HTML wrapper whose extraction round-trips through
    text/extract.py (the golden invariant); includes tag/entity/
    whitespace noise the extractor must strip.  Oracle for the JVM
    render in ``synth_pages_df``."""
    body = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    ).replace("\n", "</p>\n<p>")
    return (
        f"<html><!-- synthetic page {doc_id} --><head><title>doc {doc_id}</title>"
        f"<style>p {{margin: 0}}</style></head>\n"
        f"<body>\n<h1>Document   {doc_id}</h1>\n<p>{body}</p>\n"
        f"<script>var x = {doc_id};</script></body></html>"
    ).encode("utf-8")


def expected_text(text: str, doc_id: int) -> str:
    """What the pinned extractor recovers from render_html (single-
    node oracle; tests assert extract_text(render_html(t)) == this)."""
    from earth_data_kit_spark.text.extract import extract_text

    return extract_text(render_html(text, doc_id))


def round4_str(x: Column) -> Column:
    """Python's ``str(round(x, 4))`` for a double on the 1e-4 grid (every
    lat/lon of ``pages_cte_sql``), as a Column: four fixed decimals,
    trailing zeros stripped, a bare trailing point printed as ``.0``.
    (``cast(x as string)`` prints ``1.0E-4`` where Python prints
    ``0.0001``.)"""
    fixed = F.regexp_replace(F.format_string("%.4f", x), "0+$", "")
    return F.regexp_replace(fixed, "\\.$", ".0")


def synth_pages_df(
    spark: SparkSession, sf_dir: str, reps: int = 1, partitions: int | None = None
) -> DataFrame:
    """Full pages table (url, warc_ts, html, text, lang, + derivation
    columns).  Geocoding markers: h%7==0 rows embed coords in the URL
    (``/@lat,lon``), h%7==1 rows carry a ``geo:`` marker in text, the
    rest geocode via ccTLD — exercising all three geocode paths.

    The url/text mutation and the html render are Column expressions,
    row for row equal to ``mutate_url``/``mutate_text``/``render_html``
    (their oracle), so building the table runs no Python.

    ``partitions``: round-robin the rendered rows into that many
    partitions (and split the single-file documents scan before the
    fan-out).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if partitions:
        # split the single-file scan BEFORE the fan-out so the whole
        # synth (crossJoin + arithmetic + render) parallelizes —
        # repartitioning after leaves a serial first stage (Amdahl)
        docs = docs.repartition(max(8, partitions // 8))
    docs.createOrReplaceTempView("documents")
    meta = spark.sql(pages_cte_sql(reps=reps)).join(
        F.broadcast(docs.select("doc_id", "text")), "doc_id"
    )
    if partitions:
        meta = meta.repartition(partitions)

    h7 = F.pmod(F.col("h"), F.lit(7))
    lat, lon = round4_str(F.col("lat")), round4_str(F.col("lon"))
    url = F.when(h7 == 0, F.concat(F.col("url"), F.lit("/@"), lat, F.lit(","), lon)).otherwise(
        F.col("url")
    )
    text = F.when(
        h7 == 1, F.concat(F.col("text"), F.lit("\ngeo: "), lat, F.lit(", "), lon)
    ).otherwise(F.col("text"))
    body = text
    for old, new in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ("\n", "</p>\n<p>")):
        body = F.replace(body, F.lit(old), F.lit(new))
    # render_html(text, page_id)
    pid = F.col("page_id").cast("string")
    html = F.concat(
        F.lit("<html><!-- synthetic page "), pid, F.lit(" --><head><title>doc "), pid,
        F.lit("</title><style>p {margin: 0}</style></head>\n<body>\n<h1>Document   "), pid,
        F.lit("</h1>\n<p>"), body, F.lit("</p>\n<script>var x = "), pid,
        F.lit(";</script></body></html>"),
    )
    return meta.select(
        "page_id", "doc_id",
        url.alias("url"),
        F.timestamp_seconds(F.col("ts_s")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        "lang", "lat", "lon", "h",
    )
