"""DSIR importance resampling (operators/dsir.py) vs numpy oracle.

Pins: the fitted bucket counts equal an exact python recount, the
log-weight UDF equals the closed-form Σ count·λ, the selection is
deterministic and actually PREFERS target-like documents on a planted
two-style corpus, and the plan stays Arrow-batched (no row Python)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from earth_data_kit_spark.operators import dsir

B = 1 << 12


def _py_hash_ngrams(text, n_buckets=B):
    import re
    import zlib

    toks = re.findall(r"[a-z0-9']+", (text or "").lower())
    grams = toks + [a + " " + b for a, b in zip(toks, toks[1:])]
    return [zlib.crc32(g.encode()) % n_buckets for g in grams]


@pytest.fixture(scope="module")
def corpus(spark):
    # two planted styles: 'sci' docs share a science vocabulary,
    # 'spam' docs a promo vocabulary; deterministic composition
    sci = ["quantum", "tensor", "protein", "orbital", "theorem", "lattice"]
    spam = ["buy", "cheap", "click", "winner", "offer", "deal"]
    rng = np.random.default_rng(11)
    rows = []
    for i in range(400):
        style = "sci" if i % 2 == 0 else "spam"
        vocab = sci if style == "sci" else spam
        words = [vocab[j % len(vocab)] for j in rng.integers(0, 60, 30)]
        rows.append((i, style, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, style string, text string").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def target(spark, corpus):
    # target domain = a held-out sci sample (ids ≥ 300, even)
    return corpus.where((F.col("style") == "sci") & (F.col("doc_id") >= 300))


class TestFitAndWeights:
    def test_fit_counts_match_python_recount(self, spark, corpus):
        got = dsir.fit_hashed_counts(corpus, "text", B)
        pdf = corpus.toPandas()
        want = np.zeros(B)
        for t in pdf["text"]:
            for b in _py_hash_ngrams(t):
                want[b] += 1
        assert np.array_equal(got, want)

    def test_log_weight_matches_closed_form(self, spark, corpus, target):
        tc = dsir.fit_hashed_counts(target, "text", B)
        qc = dsir.fit_hashed_counts(corpus, "text", B)
        w = dsir.dsir_log_weight_udf(tc, qc, smoothing=1.0)
        got = {
            r["doc_id"]: r["w"]
            for r in corpus.select("doc_id", w(F.col("text")).alias("w")).collect()
        }
        p = (tc + 1.0) / (tc.sum() + B)
        q = (qc + 1.0) / (qc.sum() + B)
        lam = np.log(p) - np.log(q)
        pdf = corpus.toPandas()
        for _, row in pdf.iterrows():
            want = float(sum(lam[b] for b in _py_hash_ngrams(row["text"])))
            assert got[row["doc_id"]] == pytest.approx(want, rel=1e-12)


class TestResample:
    def test_selects_target_like_docs(self, spark, corpus, target):
        sel = dsir.dsir_resample(
            corpus, target, n=100, text_col="text", id_col="doc_id",
            n_buckets=B,
        )
        rows = sel.collect()
        assert len(rows) == 100
        frac_sci = sum(r["style"] == "sci" for r in rows) / 100
        assert frac_sci >= 0.95  # planted separation is wide
        # weights carried through, ranks are 1..100
        assert sorted(r["dsir_rank"] for r in rows) == list(range(1, 101))

    def test_deterministic_across_runs(self, spark, corpus, target):
        a = dsir.dsir_resample(corpus, target, 50, id_col="doc_id", n_buckets=B)
        b = dsir.dsir_resample(corpus, target, 50, id_col="doc_id", n_buckets=B)
        ids_a = sorted(r["doc_id"] for r in a.collect())
        ids_b = sorted(r["doc_id"] for r in b.collect())
        assert ids_a == ids_b

    def test_salt_changes_gumbel_but_weights_dominate(self, spark, corpus, target):
        """With temperature → 0 the Gumbel noise is negligible and
        two different salts select the same set (pure argmax of the
        weights); this pins that the noise enters through the salt
        and ONLY the noise does."""
        a = dsir.dsir_resample(
            corpus, target, 50, id_col="doc_id", n_buckets=B,
            temperature=1e-9, salt="s1",
        )
        b = dsir.dsir_resample(
            corpus, target, 50, id_col="doc_id", n_buckets=B,
            temperature=1e-9, salt="s2",
        )
        assert sorted(r["doc_id"] for r in a.collect()) == sorted(
            r["doc_id"] for r in b.collect()
        )

    def test_plan_is_arrow_batched(self, spark, corpus, target):
        sel = dsir.dsir_resample(corpus, target, 10, id_col="doc_id", n_buckets=B)
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python


class TestCrossEntropy:
    def test_matches_closed_form_and_orders_styles(self, spark, corpus, target):
        tc = dsir.fit_hashed_counts(target, "text", B)
        ce = dsir.cross_entropy_udf(tc, smoothing=1.0)
        got = {
            r["doc_id"]: (r["style"], r["ce"])
            for r in corpus.select(
                "doc_id", "style", ce(F.col("text")).alias("ce")
            ).collect()
        }
        p = (tc + 1.0) / (tc.sum() + B)
        logp = np.log(p)
        pdf = corpus.toPandas()
        for _, row in pdf.iterrows():
            ids = _py_hash_ngrams(row["text"])
            want = float(-np.mean([logp[b] for b in ids]))
            assert got[row["doc_id"]][1] == pytest.approx(want, rel=1e-12)
        # CCNet-style separation: every sci doc scores lower CE under
        # the sci target model than every spam doc
        sci = [v for s, v in got.values() if s == "sci"]
        spam = [v for s, v in got.values() if s == "spam"]
        assert max(sci) < min(spam)

    def test_empty_doc_scores_uniform_entropy(self, spark, target):
        tc = dsir.fit_hashed_counts(target, "text", B)
        ce = dsir.cross_entropy_udf(tc)
        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        got = df.select(ce(F.col("text")).alias("ce")).first()["ce"]
        assert got == pytest.approx(float(np.log(B)))
