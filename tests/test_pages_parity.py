"""The oracle-parity linchpin: the shared pages CTE must produce
bit-identical rows in Spark SQL, DuckDB, and the numpy twins."""

import duckdb
import numpy as np
import pytest
from conftest import SF_MED

from earth_data_kit_spark.functions.columns import cell_id_sql, haversine_m_sql
from earth_data_kit_spark.grid import cells, geom
from earth_data_kit_spark.sources.pages import (
    mutate_text,
    mutate_url,
    pages_cte_sql,
    pages_meta_df,
    render_html,
    synth_pages_df,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def frames(spark):
    q = (
        f"WITH pages AS ({pages_cte_sql(reps=2)}) "
        f"SELECT page_id, url, tld, lang, lat, lon, ts_s, "
        f"{cell_id_sql('lon', 'lat', 7)} AS cell, "
        f"{haversine_m_sql('lat', 'lon', '41.33', '19.82')} AS d "
        f"FROM pages ORDER BY page_id"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    ddf = con.execute(q).fetchdf()
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("documents")
    sdf = spark.sql(q).toPandas()
    return ddf, sdf


def test_spark_duckdb_bit_identical(frames):
    ddf, sdf = frames
    assert len(ddf) == len(sdf) > 0
    for col in ["page_id", "url", "tld", "lang", "lat", "lon", "ts_s", "cell"]:
        assert np.array_equal(ddf[col].values, sdf[col].values), col
    # trig differs by ulps across libms — must stay within rounding slack
    assert np.abs(ddf["d"].values - sdf["d"].values).max() < 1e-6


def test_numpy_twins_match(frames):
    ddf, _ = frames
    np_cell = cells.cell_id(ddf["lon"].values, ddf["lat"].values, 7)
    assert np.array_equal(np_cell, ddf["cell"].values)
    np_d = geom.haversine_m(ddf["lat"].values, ddf["lon"].values, 41.33, 19.82)
    assert np.abs(np_d - ddf["d"].values).max() < 1e-6


def test_extractor_invariant_through_udf(spark):
    """Per-row invariant (input_hint): text extracted from the html
    the JVM renders is byte-identical to the single-node oracle."""
    from earth_data_kit_spark.sources.pages import expected_text
    from earth_data_kit_spark.text.extract import extract_text, text_sha256

    pages = synth_pages_df(spark, SF)
    rows = pages.select("page_id", "text", "html").orderBy("page_id").limit(200).collect()
    assert len(rows) == 200
    for r in rows:
        extracted = extract_text(r.html)
        exp = expected_text(r.text, r.page_id)
        assert extracted == exp, r.page_id
        assert text_sha256(extracted) == text_sha256(exp)


def test_round4_str_matches_python_str_round(spark):
    """The JVM float formatter prints a 1e-4-grid double exactly as
    Python's ``str(round(x, 4))`` (which the Python twins use)."""
    from pyspark.sql import functions as F

    from earth_data_kit_spark.sources.pages import round4_str

    xs = [0.0, 1e-4, -1e-4, 41.0, -180.0, 19.600099999999998, 72.9999]
    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", round4_str(F.col("x")).alias("s")
    ).collect()
    assert {r.x: r.s for r in got} == {x: str(round(x, 4)) for x in xs}


def test_jvm_render_matches_python_twins(spark):
    """synth_pages_df's Column render equals mutate_url / mutate_text /
    render_html row for row (html bytes included) at sf0.01 × 2 reps."""
    got = synth_pages_df(spark, SF_MED, reps=2).toPandas().set_index("page_id").sort_index()
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select("doc_id", "text")
    meta = pages_meta_df(spark, SF_MED, reps=2).join(docs, "doc_id").toPandas()
    assert len(meta) == len(got) == 1000
    for m in meta.itertuples(index=False):
        row = got.loc[m.page_id]
        text = mutate_text(m.text, m.lat, m.lon, int(m.h))
        assert row.url == mutate_url(m.url, m.lat, m.lon, int(m.h)), m.page_id
        assert row.text == text, m.page_id
        assert bytes(row.html) == render_html(text, int(m.page_id)), m.page_id
