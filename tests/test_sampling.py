"""Deterministic sampling/splitting: reproducible, append-stable."""

import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators import sampling

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


def test_stratified_sample_reproducible_and_sized(spark, docs):
    s1 = {(r.doc_id, r.sample_rank) for r in sampling.stratified_sample(docs, "lang", 5, "doc_id").collect()}
    s2 = {(r.doc_id, r.sample_rank) for r in sampling.stratified_sample(docs, "lang", 5, "doc_id").collect()}
    assert s1 == s2
    per = (
        sampling.stratified_sample(docs, "lang", 5, "doc_id")
        .groupBy("lang").count().collect()
    )
    assert all(r["count"] <= 5 for r in per) and len(per) >= 2
    # a different salt draws a different sample
    s3 = {r.doc_id for r in sampling.stratified_sample(docs, "lang", 5, "doc_id", salt="v2").collect()}
    assert s3 != {d for d, _ in s1}


def test_split_proportions_and_append_stability(spark, docs):
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    split = sampling.deterministic_split(docs, "doc_id", fr)
    counts = {r.split: r["count"] for r in split.groupBy("split").count().collect()}
    n = docs.count()
    assert 0.7 * n <= counts.get("train", 0) <= 0.9 * n
    assert set(counts) <= {"train", "val", "test"}
    # append stability: adding rows must not move existing rows
    before = {r.doc_id: r.split for r in split.select("doc_id", "split").collect()}
    extra = docs.limit(50).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    after_df = sampling.deterministic_split(docs.unionByName(extra), "doc_id", fr)
    after = {r.doc_id: r.split for r in after_df.select("doc_id", "split").collect()}
    assert all(after[d] == s for d, s in before.items())
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.deterministic_split(docs, "doc_id", {"a": 0.5, "b": 0.4})


def test_temperature_mixture_math():
    """Closed-form: α=1 → proportional; α=0 → uniform targets; small
    sources upweighted at α=0.5; repeat factors for over-budget."""
    from earth_data_kit_spark.operators.sampling import temperature_mixture

    counts = {"big": 9000, "small": 1000}
    m1 = temperature_mixture(counts, 1000, alpha=1.0)
    assert abs(m1["big"]["target"] - 900) < 1e-9
    assert abs(m1["small"]["target"] - 100) < 1e-9
    m0 = temperature_mixture(counts, 1000, alpha=0.0)
    assert abs(m0["big"]["target"] - 500) < 1e-9 and abs(m0["small"]["target"] - 500) < 1e-9
    mh = temperature_mixture(counts, 1000, alpha=0.5)
    assert 100 < mh["small"]["target"] < 500  # between proportional and uniform
    # upsampling: target beyond the source size → repeats
    mu = temperature_mixture({"tiny": 100, "big": 10000}, 5000, alpha=0.0)
    assert mu["tiny"]["n_repeats"] == 25 and abs(mu["tiny"]["keep_frac"] - 1.0) < 1e-9
    assert temperature_mixture({}, 100) == {}


def test_mixture_sample_deterministic_and_python_oracle(spark):
    """The kept id set must equal a pure-python md5 replay (engine
    independence) and be identical across invocations."""
    import hashlib

    from earth_data_kit_spark.operators.sampling import (
        mixture_sample,
        temperature_mixture,
    )

    rows = [(i, "big" if i % 10 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out, mix = mixture_sample(df, "source", "doc_id", total_rows=600, alpha=0.5, salt="s1")
    got = {r.doc_id for r in out.collect()}
    out2, _ = mixture_sample(df, "source", "doc_id", total_rows=600, alpha=0.5, salt="s1")
    assert got == {r.doc_id for r in out2.collect()}

    counts = {"big": 1800, "small": 200}
    pm = temperature_mixture(counts, 600, alpha=0.5)
    exp = set()
    for i, src in rows:
        u = int(hashlib.md5(f"s1{i}".encode()).hexdigest()[:6], 16) / float(0xFFFFFF + 1)
        if pm[src]["n_repeats"] > 1 or u < pm[src]["keep_frac"]:
            exp.add(i)
    assert got == exp
    # realized proportions near targets (binomial noise)
    n_small = sum(1 for i in got if i % 10 == 0)
    assert abs(n_small - pm["small"]["target"]) < 60
    n_big = len(got) - n_small
    assert abs(n_big - pm["big"]["target"]) < 80


def test_temperature_mixture_fractional_target_rounds_up():
    """target fractionally above an exact multiple of n must bump
    n_repeats (ADVICE r4: int-truncating target before the ceil lost
    the fractional remainder and clamped keep_frac to 1.0)."""
    from earth_data_kit_spark.operators.sampling import temperature_mixture

    # single source, alpha irrelevant: target == total_rows exactly
    m = temperature_mixture({"s": 100}, 201, alpha=1.0)["s"]
    assert m["n_repeats"] == 3  # ceil(201/100), NOT ceil(int(201.0)/100)=3 trivially
    # the regression shape: target = 200.3 via two sources
    # w = n^1 → targets proportional to counts; craft target just over 2n
    m = temperature_mixture({"a": 100, "b": 899}, 999 * 2 + 1, alpha=1.0)
    ta = m["a"]["target"]
    assert ta > 200.0 and ta < 201.0  # fractionally above 2*100
    assert m["a"]["n_repeats"] == 3
    assert 0.0 < m["a"]["keep_frac"] < 1.0
    # consistency: realized expectation == target for every source
    for s in m:
        got = (m[s]["n_repeats"] - 1 + m[s]["keep_frac"]) * {"a": 100, "b": 899}[s]
        assert abs(got - m[s]["target"]) < 1e-6


def test_mixture_sample_missing_source_raises(spark):
    """Externally supplied counts that omit a source present in df
    must fail loudly, not silently drop the source (ADVICE r4)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from earth_data_kit_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("ghost", 3)], "source string, doc_id bigint"
    )
    out, _ = mixture_sample(
        df, "source", "doc_id", total_rows=2, counts={"a": 2}
    )
    with pytest.raises(Exception, match="absent from counts"):
        out.collect()
    # complete counts still work (and ghost source present in counts)
    out2, _ = mixture_sample(
        df, "source", "doc_id", total_rows=3, counts={"a": 2, "ghost": 1}
    )
    assert out2.count() >= 1
