"""Trained quality classifier (fasttext-style HashingTF + logistic
regression): separability on a real-text vs corrupted-text corpus,
score range/composition, bigram feature construction, and model
save/load round-trip. No driver key by design (L-BFGS coefficients
have no SQL oracle) — the gate is these properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from giraph_spark.functions.classifier import (
    QualityClassifier,
    _tokens,
    score_quality_classifier,
    train_quality_classifier,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def labeled(spark):
    """Positives: the real documents corpus. Negatives: the same rows
    with words shredded into repeated junk tokens — the separable
    seed-set construction (trusted sample vs raw-crawl-like noise)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    )
    good = docs.select("doc_id", "text", F.lit(1.0).alias("label"))
    bad = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"\w", "z").alias("text"),
        F.lit(0.0).alias("label"),
    )
    return good.unionByName(bad)


def test_separable_corpus_high_holdout_accuracy(spark, labeled):
    train = labeled.where(F.pmod(F.col("doc_id"), 5) != 0)
    hold = labeled.where(F.pmod(F.col("doc_id"), 5) == 0)
    clf = train_quality_classifier(train, num_features=1 << 14)
    scored = score_quality_classifier(hold, clf)
    agg = scored.agg(
        F.avg(
            (
                (F.col("quality_prob") >= 0.5).cast("int")
                == F.col("label").cast("int")
            ).cast("double")
        ).alias("acc"),
        F.min("quality_prob").alias("lo"),
        F.max("quality_prob").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    assert agg["n"] > 100
    assert agg["acc"] >= 0.95, f"holdout accuracy {agg['acc']}"
    assert 0.0 <= agg["lo"] <= agg["hi"] <= 1.0
    # every input column survives scoring; no ml temp columns leak
    assert set(scored.columns) == {"doc_id", "text", "label", "quality_prob"}


def test_bigram_tokens_expression(spark):
    row = spark.range(1).select(
        _tokens(F.lit("The quick  Brown fox"), bigrams=True).alias("t"),
        _tokens(F.lit("solo"), bigrams=True).alias("one"),
    ).first()
    assert row["t"] == [
        "the", "quick", "brown", "fox",
        "the_quick", "quick_brown", "brown_fox",
    ]
    assert row["one"] == ["solo"]


def test_save_load_scores_identical(spark, labeled, tmp_path):
    clf = train_quality_classifier(labeled, num_features=1 << 12, max_iter=10)
    clf.save(str(tmp_path / "m"))
    back = QualityClassifier.load(str(tmp_path / "m"))
    assert (back.num_features, back.bigrams) == (1 << 12, True)
    a = score_quality_classifier(labeled, clf).select("doc_id", "quality_prob")
    b = score_quality_classifier(labeled, back).select("doc_id", "quality_prob")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_threshold_calibration_composes(spark, labeled):
    """The scored frame feeds text.threshold_metrics for PR-curve
    threshold selection — the calibrate step of the CCNet recipe."""
    from giraph_spark.functions.profile import threshold_metrics

    clf = train_quality_classifier(labeled, num_features=1 << 14, max_iter=20)
    scored = score_quality_classifier(labeled, clf)
    pr = threshold_metrics(
        scored, score_col="quality_prob", label_col="label",
        lo=0.0, hi=1.0, n_bins=20,
    ).collect()
    assert len(pr) > 0
    # on its own training set a separable model must reach a bin with
    # both precision and recall near 1
    assert any(r["precision"] > 0.98 and r["recall"] > 0.98 for r in pr)


def test_null_text_scores_null_never_crashes(spark, labeled):
    """NULL text is the package's undecodable marker: training drops
    those rows, scoring emits NULL probability — neither NPEs inside
    HashingTF."""
    from pyspark.sql import functions as F

    with_null = labeled.unionByName(
        labeled.limit(1).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"),
            F.lit(None).cast("string").alias("text"),
            F.col("label"),
        )
    )
    clf = train_quality_classifier(with_null, num_features=1 << 12, max_iter=5)
    scored = score_quality_classifier(with_null, clf)
    nulls = scored.where(F.col("text").isNull()).collect()
    assert len(nulls) == 1 and nulls[0]["quality_prob"] is None
    assert scored.where(F.col("quality_prob").isNotNull()).count() == (
        with_null.count() - 1
    )


def test_empty_text_tokens_are_empty_and_intercept_only(spark):
    """split('') returns [''] — one spurious empty-string token that
    would hash to a real feature — so _tokens must remove empties:
    empty/whitespace-only/NULL text all tokenize to [] and therefore
    score identically (intercept-only), not through a junk feature."""
    row = spark.range(1).select(
        _tokens(F.lit(""), bigrams=True).alias("a"),
        _tokens(F.lit("   "), bigrams=True).alias("b"),
        _tokens(F.lit(None).cast("string"), bigrams=False).alias("c"),
    ).first()
    assert row["a"] == [] and row["b"] == [] and row["c"] == []


@pytest.mark.slow
def test_cross_session_score_determinism(spark, labeled, tmp_path):
    """The documented oracle boundary (VERDICT r8 task 5): HashingTF's
    murmur3 is not in the portable-md5 family the DuckDB oracles
    replay, so the classifier's correctness pin is DETERMINISM —
    scoring is one stateless pass (murmur3 hash + broadcast
    coefficient dot product, fixed per-row op order), so a saved model
    re-scored in two FRESH sessions must produce bit-identical
    probabilities. Two subprocess sessions, full-repr compare."""
    import os
    import subprocess
    import sys

    clf = train_quality_classifier(labeled, num_features=1 << 12, max_iter=10)
    clf.save(str(tmp_path / "model"))
    script = tmp_path / "rescore.py"
    script.write_text(
        "import sys\n"
        "from pyspark.sql import functions as F\n"
        "from giraph_spark.session import spark_session\n"
        "spark = spark_session('rescore', 'local[2]', 2)\n"
        "from giraph_spark.functions.classifier import (\n"
        "    QualityClassifier, score_quality_classifier)\n"
        "clf = QualityClassifier.load(sys.argv[1])\n"
        "docs = (spark.read.parquet(\n"
        "    '/root/testdata/sf0.001/documents.parquet')\n"
        "    .select('doc_id', 'text').where(F.col('doc_id') < 40))\n"
        "rows = score_quality_classifier(docs, clf)\\\n"
        "    .select('doc_id', 'quality_prob').collect()\n"
        "print('SCORES=' + repr(sorted(\n"
        "    (r['doc_id'], repr(r['quality_prob'])) for r in rows)))\n"
    )
    outs = []
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, str(script), str(tmp_path / "model")],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env={**os.environ, "PYTHONPATH": "/root/repo"},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("SCORES=")]
        assert line, r.stdout[-2000:]
        outs.append(line[0])
    assert outs[0] == outs[1]
    assert "None" not in outs[0]  # every doc actually scored
