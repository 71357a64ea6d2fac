"""Training-data selection operators (functions/sampling.py): determinism,
exactness of stratified quotas, decontamination containment, mixture
expectation — plus plan-shape checks (the zero-shuffle claims)."""

from pyspark.sql import functions as F

from giraph_spark.functions.sampling import (
    decontaminate,
    mixture_repeats,
    stratified_sample,
    train_val_split,
    word_ngrams,
)
from tests.plan_text import formatted_plan as _plan


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_split_deterministic_and_disjoint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    s1 = train_val_split(d, val_fraction=0.2).toPandas()
    s2 = train_val_split(d, val_fraction=0.2).toPandas()
    assert s1.sort_values("doc_id").equals(s2.sort_values("doc_id"))
    assert set(s1["split"]) == {"train", "val"}
    assert len(s1) == d.count()
    # growing the corpus must not move existing docs between splits
    grown = train_val_split(
        d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10**6)),
        val_fraction=0.2,
    ).toPandas()
    merged = s1.merge(grown, on="doc_id", suffixes=("_old", "_new"))
    assert (merged["split_old"] == merged["split_new"]).all()
    # pure projection: no shuffle
    assert "Exchange" not in _plan(train_val_split(d, val_fraction=0.2))


def test_stratified_sample_exact_quota(spark, sf_dir):
    import math

    d = _docs(spark, sf_dir)
    got = stratified_sample(d, "source", fraction=0.25).toPandas()
    counts = {r["source"]: r["n"] for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    per = got.groupby("stratum").size().to_dict()
    for src, n in counts.items():
        assert per.get(src, 0) == math.ceil(n * 0.25), src
    # approximate mode: subset semantics not guaranteed, but determinism
    # and no shuffle are
    approx = stratified_sample(d, "source", fraction=0.25, exact=False)
    assert "Exchange" not in _plan(approx)
    a1 = set(approx.toPandas()["doc_id"])
    a2 = set(
        stratified_sample(d, "source", fraction=0.25, exact=False)
        .toPandas()["doc_id"]
    )
    assert a1 == a2


def test_decontaminate_containment(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 41 == 0)
    out = decontaminate(d, bench, n=8).toPandas()
    flagged = set(out[out["contaminated"]]["doc_id"])
    # every benchmark member shares all its n-grams with itself
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    assert bench_ids <= flagged
    # a doc sharing zero 8-grams with the benchmark must not be flagged:
    # verify via the exact gram relation
    grams = word_ngrams(d, n=8).alias("g")
    bgrams = word_ngrams(bench, n=8).select("gram").distinct()
    truly = {
        r["doc_id"]
        for r in grams.join(bgrams, "gram", "left_semi")
        .select("doc_id").distinct().collect()
    }
    assert flagged == truly


def test_mixture_repeats_expectation(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = mixture_repeats(d, {"src0": 2.5, "src1": 0.0}).toPandas()
    assert "Exchange" not in _plan(mixture_repeats(d, {"src0": 2.5}))
    by = out.groupby("stratum")["n_repeats"]
    # integer weights are exact
    assert (out[out["stratum"] == "src1"]["n_repeats"] == 0).all()
    assert set(out[out["stratum"] == "src0"]["n_repeats"]) <= {2, 3}
    others = out[~out["stratum"].isin(["src0", "src1"])]
    assert (others["n_repeats"] == 1).all()
    # fractional expectation: src0 mean within the hash-resolution bound
    m = by.mean()["src0"]
    assert 2.0 <= m <= 3.0


def test_expand_repeats(spark):
    from pyspark.sql import functions as F

    from giraph_spark.functions.sampling import expand_repeats

    df = spark.createDataFrame(
        [(1, "a", 2), (2, "b", 0), (3, "c", 1)],
        "doc_id long, stratum string, n_repeats long",
    )
    out = expand_repeats(df).toPandas()
    assert len(out) == 3
    assert sorted(out[out["doc_id"] == 1]["epoch"]) == [1, 2]
    assert 2 not in set(out["doc_id"])  # zero-weight rows drop
    assert "Exchange" not in expand_repeats(df)._jdf.queryExecution().executedPlan().toString()


def test_duplicate_ngrams(spark):
    """Exact repeated word-n-grams across documents: planted shared
    phrase found with correct doc count/ids; max_docs truncates the id
    list but not the count."""
    from giraph_spark.functions.sampling import duplicate_ngrams

    shared = "the exact same eight word phrase repeated here verbatim"
    rows = [
        (1, "prefix one " + shared),
        (2, shared + " suffix two"),
        (3, "completely different words that never repeat anywhere at all"),
        (4, shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_ngrams(df, n=8).collect()
    by_gram = {r["gram"]: r for r in out}
    # the 9-word shared phrase yields two 8-grams present in docs 1,2,4
    grams = [g for g in by_gram if "exact same eight" in g]
    assert grams, "shared phrase not detected"
    for g in grams:
        assert by_gram[g]["n_docs"] == 3
        assert by_gram[g]["doc_ids"] == [1, 2, 4]
    # truncation: max_docs=2 keeps count but shortens the list
    out2 = {r["gram"]: r for r in duplicate_ngrams(df, n=8, max_docs=2).collect()}
    for g in grams:
        assert out2[g]["n_docs"] == 3 and out2[g]["doc_ids"] == [1, 2]


def test_scrub_duplicate_ngrams_removes_shared_span_only(spark):
    from giraph_spark.functions.sampling import scrub_duplicate_ngrams

    boiler = "this license text is shared by many documents exactly verbatim"
    rows = [
        (1, f"unique alpha words here {boiler} and then unique tail one"),
        (2, f"different beginning text {boiler} closing words two"),
        (3, "totally unique document with no shared spans at all ok"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_duplicate_ngrams(df, n=5).collect()}
    assert out[1].clean_text == "unique alpha words here and then unique tail one"
    assert out[2].clean_text == "different beginning text closing words two"
    assert out[1].n_removed == 10 and out[2].n_removed == 10
    # untouched docs pass through verbatim (normalized), incl. sub-n docs
    assert out[3].n_removed == 0 and out[4].n_removed == 0
    assert out[4].clean_text == "short doc"


def test_scrub_duplicate_ngrams_full_coverage_empties_doc(spark):
    from giraph_spark.functions.sampling import scrub_duplicate_ngrams

    t = "a b c d e f g h"  # exactly n=8 tokens, fully shared
    df = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in scrub_duplicate_ngrams(df, n=8).collect()}
    assert out[1].clean_text == "" and out[1].n_kept == 0 and out[1].n_removed == 8
    assert out[2].clean_text == ""


def test_neighbor_sample_fanout_and_determinism(spark):
    from giraph_spark.algos.sample import neighbor_sample
    from giraph_spark.graph import Graph
    from pyspark.sql import functions as F

    # hub 0 with 20 neighbors; each neighbor links to 3 second-hop nodes
    edges = [(0, i) for i in range(1, 21)]
    for i in range(1, 21):
        edges += [(i, 100 + i * 10 + j) for j in range(3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame(
        [(x,) for x in {a for a, _ in edges} | {b for _, b in edges}], "id long"
    )
    g = Graph(v, e)
    seeds = spark.createDataFrame([(0,)], "id long")
    out = neighbor_sample(g, seeds, fanouts=[5, 2]).collect()
    hop0 = [r for r in out if r.hop == 0]
    hop1 = [r for r in out if r.hop == 1]
    # fanout caps respected: 5 of the hub's 20 edges; <=2 per hop-1 vertex
    assert len(hop0) == 5 and all(r.src == 0 for r in hop0)
    assert len(hop1) == 10 and all(1 <= r.src <= 20 for r in hop1)
    # deterministic: identical resample
    again = neighbor_sample(g, seeds, fanouts=[5, 2]).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # different seed -> (almost surely) different hub selection
    other = neighbor_sample(g, seeds, fanouts=[5, 2], seed=7).collect()
    assert {r.dst for r in other if r.hop == 0} != {r.dst for r in hop0}


def test_random_walks_shape_and_sink_stop(spark):
    from giraph_spark.algos.sample import random_walks
    from giraph_spark.graph import Graph
    from pyspark.sql import functions as F

    # 0 -> {1,2}; 1 -> {3}; 2 -> {3}; 3 is a sink
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    g = Graph(v, e)
    seeds = spark.createDataFrame([(0,)], "id long")
    out = random_walks(g, seeds, length=5).orderBy("step").collect()
    # walk starts at the seed, moves one hop per step, stops at sink 3
    assert out[0].step == 0 and out[0].id == 0
    assert out[1].id in (1, 2) and out[2].id == 3
    assert len(out) == 3  # sink reached at step 2; no further rows
    # deterministic replays; different seed may branch differently
    again = random_walks(g, seeds, length=5).orderBy("step").collect()
    assert [r.id for r in out] == [r.id for r in again]


def test_ego_subgraph_induces_neighbor_edges(spark):
    from giraph_spark.algos.sample import ego_subgraph
    from giraph_spark.graph import Graph

    # 0->1, 0->2, 1->2 (inside ball of 0 at radius 1), 2->3 (3 outside)
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long"
    )
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got = sorted(
        (r.src, r.dst) for r in ego_subgraph(Graph(v, e), seeds, radius=1).collect()
    )
    # ball = {0,1,2}; induced edges include the 1->2 closure, exclude 2->3
    assert got == [(0, 1), (0, 2), (1, 2)]
    got2 = sorted(
        (r.src, r.dst) for r in ego_subgraph(Graph(v, e), seeds, radius=2).collect()
    )
    assert got2 == [(0, 1), (0, 2), (1, 2), (2, 3)]


def test_scrub_duplicate_ngrams_empty_normalized_doc(spark):
    """A doc whose text normalizes to '' must count 0 tokens, not the
    phantom '' token split('') produces (review finding)."""
    from giraph_spark.functions.sampling import scrub_duplicate_ngrams

    df = spark.createDataFrame(
        [(1, "!!! ??? ..."), (2, "real words here stay put")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_duplicate_ngrams(df, n=3).collect()}
    assert out[1].clean_text == "" and out[1].n_kept == 0 and out[1].n_removed == 0
    assert out[2].n_kept == 5 and out[2].n_removed == 0


def test_stratified_sample_sharded_windows(spark, sf_dir):
    """n_shards sub-buckets the exact-mode window so no stratum
    serializes on one task: the window exchange partitions by
    (stratum, _shard), the per-(stratum, shard) quota is exact, and the
    stratum total is within n_shards-1 of the unsharded quota."""
    import math

    d = _docs(spark, sf_dir)
    sharded = stratified_sample(d, "source", fraction=0.25, n_shards=4)
    # plan: the window's exchange must hash by the sharded key
    assert "_shard" in _plan(sharded)
    got = sharded.toPandas()
    counts = {r["source"]: r["n"] for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    per = got.groupby("stratum").size().to_dict()
    for src, n in counts.items():
        q = math.ceil(n * 0.25)
        assert q <= per.get(src, 0) <= q + 3, src
    # deterministic contract: same n_shards -> identical sample
    again = stratified_sample(d, "source", fraction=0.25, n_shards=4).toPandas()
    assert set(got["doc_id"]) == set(again["doc_id"])


def test_pack_sequences_sharded(spark):
    """Sharded packing: each (stratum, shard) packs independently with
    locally-contiguous offsets; seq_id encodes the shard (local*n+shard)
    so ids stay unique per stratum; n_shards=1 reproduces the unsharded
    layout exactly."""
    from giraph_spark.functions.dedup import portable_hash60
    from giraph_spark.functions.sampling import pack_sequences

    rows = [(f"d{i:03d}", "w " * 3, "s") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")

    base = pack_sequences(df, window=5).toPandas()
    one = pack_sequences(df, window=5, n_shards=1).toPandas()
    assert base.sort_values("doc_id").reset_index(drop=True).equals(
        one.sort_values("doc_id").reset_index(drop=True)
    )

    n = 4
    out = pack_sequences(df, window=5, n_shards=n).toPandas()
    shards = {
        r["doc_id"]: r["shard"]
        for r in df.select(
            "doc_id",
            (portable_hash60(F.col("doc_id"), 7919) % n).alias("shard"),
        ).collect()
    }
    assert out["seq_id"].map(lambda s: s % n).tolist() == [
        shards[d] for d in out["doc_id"]
    ]
    # per-shard replay: concatenate in id order, cut at window=5
    for sh in range(n):
        ids = sorted(d for d, s in shards.items() if s == sh)
        pos = 0
        for d in ids:
            row = out[out["doc_id"] == d].iloc[0]
            assert row["seq_id"] == (pos // 5) * n + sh, d
            assert row["offset"] == pos % 5, d
            pos += int(row["n_tokens"])


def test_cap_per_group_sharded_identical(spark, sf_dir):
    """Exact per-group top-n: n_shards is a purely physical knob — the
    sharded two-phase result is row-identical to the unsharded rank
    (pigeonhole: every true top-n row has shard-rank <= n), every group
    is capped at n, and ranks are contiguous 1..min(n, |group|)."""
    from giraph_spark.functions.sampling import cap_per_group

    d = _docs(spark, sf_dir)
    a = cap_per_group(d, group_col="source", n=7).toPandas()
    b = cap_per_group(d, group_col="source", n=7, n_shards=5).toPandas()
    key = ["source", "rnk"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    per = a.groupby("source")["rnk"].agg(["max", "count"])
    sizes = {r["source"]: r["n"] for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for src, row in per.iterrows():
        assert row["count"] == min(7, sizes[src])
        assert row["max"] == row["count"]


def test_gopher_rules_battery(spark):
    """Each Gopher rule fires on a planted violation and a clean doc
    passes."""
    from giraph_spark.functions.text import gopher_rules

    good = (
        "The quick brown fox jumps over the lazy dog and that is fine "
        "to be seen with many plain words of prose here today again"
    )
    rows = [
        (1, good),
        (2, "short text only"),                        # word count
        (3, "# " * 40 + good),                          # symbol ratio
        (4, "\n".join("* bullet line" for _ in range(10)) + "\n" + good),
        (5, " ".join("12345" for _ in range(30))),      # alpha words + required
        (6, good.replace(" ", "... \n") ),              # ellipsis lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df, min_words=10).collect()}
    assert out[1].passed and out[1].n_fail == 0
    assert not out[2].passed and out[2].n_words < 10
    assert out[3].symbol_ratio > 0.1 and not out[3].passed
    assert out[4].bullet_ratio > 0.9 and not out[4].passed
    assert out[5].alpha_word_ratio == 0.0 and out[5].n_required == 0
    assert out[6].ellipsis_ratio > 0.3 and not out[6].passed
    # NULL text fails everything, never passes via three-valued logic
    nul = gopher_rules(
        spark.createDataFrame([(9, None)], "doc_id long, text string")
    ).first()
    assert not nul.passed and nul.n_fail == 9


def test_dsir_importance_prefers_target_like_docs(spark):
    """DSIR: documents sharing the target domain's vocabulary score
    higher than off-domain documents; weights are deterministic."""
    from giraph_spark.functions.sampling import dsir_importance

    med = "patient dosage clinical trial symptom therapy diagnosis"
    code = "def return import class lambda yield async await"
    corpus = spark.createDataFrame(
        [
            (1, f"{med} {med} treatment outcome"),
            (2, f"{med} hospital nurse medication"),
            (3, f"{code} python function module"),
            (4, f"{code} compiler syntax bytecode"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, f"{med} ward surgeon prescription")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_importance(
        corpus, target, n_buckets=512, threshold=None).collect()}
    assert len(out) == 4 and all(r.n_grams > 0 for r in out.values())
    med_w = (out[1].log_importance + out[2].log_importance) / 2
    code_w = (out[3].log_importance + out[4].log_importance) / 2
    assert med_w > code_w
    again = {r.doc_id: r.log_importance for r in dsir_importance(
        corpus, target, n_buckets=512).collect()}
    assert again == {k: v.log_importance for k, v in out.items()}
    # single-token doc: the bigram guard must not error
    single = dsir_importance(
        spark.createDataFrame([(7, "word")], "doc_id long, text string"),
        target, n_buckets=512,
    ).first()
    assert single.n_grams == 1
