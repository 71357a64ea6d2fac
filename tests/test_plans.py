"""Physical-plan assertions backing the README's scale claims: parquet
filter pushdown + column pruning reach the scan, and the pregel kernel's
per-superstep joins are co-partitioned shuffle-hash (the edge relation is
never re-broadcast per superstep — wrong at any scale where edges exceed
one executor)."""

import pytest
from pyspark.sql import functions as F

from giraph_spark.functions import dedup
from giraph_spark.plans.fixtures import trade_graph
from giraph_spark.pregel import PregelMetrics, pregel
from tests.plan_text import formatted_plan as _formatted_plan


def test_scan_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan and "LessThan(doc_id,100)" in plan
    # ReadSchema prunes to exactly the two projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_kernel_join_strategy(spark, sf_dir):
    """Every superstep's send job must use shuffle-hash joins (state and
    edges co-partitioned; only messages move) — never a broadcast of the
    edge relation, which Catalyst would otherwise pick on small inputs
    and which cannot survive edges > executor memory."""
    g = trade_graph(spark, sf_dir)
    metrics = PregelMetrics(capture_plans=True)
    # num_partitions pinned > 1: this test asserts the at-scale plan shape;
    # the auto-sizer would (correctly) collapse this tiny graph to a single
    # partition, where no hash exchange exists to inspect.
    pregel(
        g,
        num_partitions=4,
        initial={"value": F.col("id").cast("double")},
        update={"value": F.greatest(F.col("value"), F.col("_msg"))},
        send_msg=F.col("value"),
        combine=F.max,
        vote_to_halt=F.lit(True),
        max_supersteps=3,
        metrics=metrics,
    )
    assert metrics.plans, "no plans captured"
    for plan in metrics.plans:
        assert "ShuffledHashJoin" in plan
        # The cached edge relation's ORIGINAL build plan (a one-time
        # broadcast join while constructing the fixture) is embedded under
        # its InMemoryRelation node and never re-executes — broadcasts are
        # only legal there. A loop-level broadcast (inbox or edges) would
        # appear ABOVE the cache node in the condensed tree.
        if "BroadcastHashJoin" in plan:
            assert plan.index("BroadcastHashJoin") > plan.index(
                "InMemoryRelation"
            ), "loop-level broadcast join — edge relation re-broadcast per superstep"
        # AQE must be off inside the loop (would lose checkpoint partitioning)
        assert "AdaptiveSparkPlan" not in plan
        # the state side arrives pre-partitioned from the checkpoint
        assert "hashpartitioning(id" in plan


def test_ivf_assignment_no_exchange(spark, sf_dir):
    """IVF cell assignment must be a projection fused into the corpus scan
    — no Exchange, no join, no window between the parquet scan and the
    cell column (a broadcast-join + row_number formulation inflates the
    corpus num_cells x through a sort-shuffle)."""
    from giraph_spark.functions.similarity import _centroid_array, nearest_cells

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = e.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("_cell"), F.col("embedding").alias("_cv")
    )
    cent_arr = _centroid_array(cents)
    inv = e.select(
        "vec_id",
        F.element_at(nearest_cells(F.col("embedding"), cent_arr, 1), 1)[
            "cell"
        ].alias("_cell"),
    )
    plan = _formatted_plan(inv)
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    # sanity: assignment is well-formed (every row gets one of the 4 cells)
    assert inv.where(F.col("_cell").isNull()).count() == 0
    assert inv.select("_cell").distinct().count() <= 4


def test_sketch_ops_never_cartesian(spark, sf_dir):
    """Every near-dup candidate generator must join on equality keys
    (band/bucket, chunk, shingle) — a CartesianProduct or
    BroadcastNestedLoopJoin in any of these plans means the blocking
    scheme silently degenerated to all-pairs."""
    from giraph_spark.functions.dedup import (
        fuzzy_decontaminate,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from giraph_spark.functions.imagehash import (
        DHASH_SCHEMA,
        banded_hamming_pairs,
        u64_hash_fields,
    )
    from giraph_spark.functions.similarity import embedding_near_duplicates, lsh_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.limit(20).select(F.col("doc_id").alias("bench_id"), "text")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    hashes = spark.createDataFrame(
        [(i, 9, 8, *u64_hash_fields(h), None) for i, h in enumerate(
            [0, 1, 0xFFFF, 1 << 63, (1 << 64) - 1, 0x0123456789ABCDEF]
        )],
        DHASH_SCHEMA,
    )
    plans = {
        "minhash": _formatted_plan(minhash_lsh_pairs(docs, k=5)),
        "simhash": _formatted_plan(simhash_near_pairs(docs, k=5)),
        "ngram": _formatted_plan(ngram_jaccard_pairs(docs, k=5, threshold=0.5)),
        "emb_lsh": _formatted_plan(
            embedding_near_duplicates(embs, dim=64, threshold=0.35)
        ),
        "fuzzy": _formatted_plan(fuzzy_decontaminate(docs, bench, k=5)),
        "lsh_topk": _formatted_plan(lsh_topk(embs, embs.limit(5), dim=64)),
        "dhash": _formatted_plan(banded_hamming_pairs(hashes)),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_auto_partition_sizing(spark, sf_dir):
    """The kernel sizes its shuffle-partition count from the edge count
    with the loops' one width rule (``plans.gear.fit_width``): a tiny
    graph collapses to one partition (pure scheduling-overhead avoidance
    — measured 3x on sf0.1), while the session's
    spark.sql.shuffle.partitions remains the large-graph ceiling, and
    the session setting is restored after the run."""
    from giraph_spark.plans.gear import ROWS_PER_PARTITION as rpp
    from giraph_spark.plans.gear import fit_width

    rows = (0, 1, rpp, rpp + 1, 3 * rpp, 100 * rpp)
    assert [fit_width(n, 8) for n in rows] == [1, 1, 1, 2, 3, 8]
    g = trade_graph(spark, sf_dir)
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_edges = g.edges.count()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    m = PregelMetrics()
    pregel(
        g,
        initial={"value": F.lit(0.0)},
        update={"value": F.col("value")},
        send_msg=F.col("value"),
        combine=F.max,
        vote_to_halt=F.lit(True),
        max_supersteps=1,
        metrics=m,
    )
    assert m.supersteps[0]["partitions"] == fit_width(n_edges, conf_parts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_skew_metrics_observability(spark):
    """skew_metrics=True records per-superstep max/median inbox-group
    sizes (VERDICT r3 #7): a planted hub shows max >> median — the salt
    signal — with message totals identical to the plain-count path."""
    from giraph_spark import Graph, PregelMetrics

    # star: every leaf sends to hub 0 each superstep; a short chain among
    # the leaves provides normal-sized (size-1) inbox groups
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 33)] + [(i, i + 1) for i in range(1, 6)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame([(i,) for i in range(33)], "id long")
    g = Graph(vertices, edges)

    def run(flag):
        m = PregelMetrics()
        pregel(
            g,
            initial={"v": F.lit(1.0)},
            update={"v": F.coalesce(F.col("_msg"), F.col("v"))},
            send_msg=F.col("v"),
            combine=F.sum,
            max_supersteps=2,
            skew_metrics=flag,
            metrics=m,
        )
        return m

    m_on, m_off = run(True), run(False)
    assert [s["messages"] for s in m_on.supersteps] == [
        s["messages"] for s in m_off.supersteps
    ]
    s0 = m_on.supersteps[0]
    assert s0["max_inbox_group"] == 32  # all 32 leaves hit hub 0
    assert s0["median_inbox_group"] == 1.0
    assert "max_inbox_group" not in m_off.supersteps[0]


def test_funnel_and_dedup_corpus_plans_stay_relational(spark, sf_dir):
    """The round-4 composition operators must keep equi-join plans: a
    CartesianProduct / BroadcastNestedLoopJoin would mean the per-step
    funnel condition or a dedup removal list degenerated to all-pairs."""
    from giraph_spark.functions.dedup import dedup_corpus
    from giraph_spark.functions.joins import funnel_counts
    from giraph_spark.plans.fixtures import read_events

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = read_events(spark, sf_dir)
    plans = {
        "funnel": _formatted_plan(
            funnel_counts(ev, ["view", "click", "purchase"], within="1 hour")
        ),
        "dedup_corpus": _formatted_plan(dedup_corpus(docs, near=False)),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_skew_response_salted_delivery(spark):
    """The closed skew loop (VERDICT r4 #3): a hot-key observation arms
    the two-phase salted delivery on the NEXT superstep when the
    combiner is self-decomposable (F.sum here), and the results are
    bit-identical to the unsalted run. Any other combiner — even an
    opaque wrapper around F.sum — gets a warning naming salt_heavy_keys
    instead."""
    import warnings as _w

    from giraph_spark import Graph, PregelMetrics

    # hub 0 receives from 200 leaves; chain 1->2->...->6 gives median 1
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 201)] + [(i, i + 1) for i in range(1, 6)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame([(i,) for i in range(201)], "id long")
    g = Graph(vertices, edges)

    def run(combine, skew_metrics=True):
        m = PregelMetrics()
        out = pregel(
            g,
            initial={"acc": F.lit(0.0)},
            update={"acc": F.col("acc") + F.coalesce(F.col("_msg"), F.lit(0.0))},
            send_msg=F.lit(1.0),
            combine=combine,
            skew_metrics=skew_metrics,
            max_supersteps=3,
            metrics=m,
        )
        rows = {r["id"]: r["acc"] for r in out.collect()}
        return m, rows

    with _w.catch_warnings():
        _w.simplefilter("error")  # the self-decomposable path must NOT warn
        m_salt, r_salt = run(F.sum)
        _, r_plain = run(F.sum, skew_metrics=False)
    # superstep 0 observes the hot hub (200 vs median 1); superstep 1+
    # deliveries run salted
    assert [s["salted"] for s in m_salt.supersteps] == [False, True, True]

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        m_warn, r_warn = run(lambda c: F.sum(c))
    assert not any(s.get("salted") for s in m_warn.supersteps)
    msgs = [str(c.message) for c in caught]
    assert any("salt_heavy_keys" in s for s in msgs)

    # identical results: hub accumulated 200 per delivered superstep
    assert r_salt == r_plain == r_warn
    assert r_salt[0] == 400.0  # 2 delivered supersteps x 200 messages
    assert r_salt[2] == 2.0    # chain neighbor: 1 per delivered superstep


# the keywords trimmed from the kernel (no caller set them); each must now
# be refused before the run touches the session
_REMOVED_KEYWORDS = {
    "checkpoint_dir": "ckpt",
    "storage_level": None,
    "halt_file": "HALT",
    "start_superstep": 1,
    "adaptive_partitions": False,
    "skew_factor": 4.0,
    "skew_salts": 4,
    "combine_algebraic": True,
}


def test_pregel_keywords_are_documented():
    """The kernel's public keywords — ``pregel``'s and ``_pregel_impl``'s,
    private names aside — are exactly the names its Parameters section
    documents, and none of the trimmed keywords is among them."""
    import inspect
    import re

    from giraph_spark.pregel import _pregel_impl

    names = {
        p.name
        for fn in (pregel, _pregel_impl)
        for p in inspect.signature(fn).parameters.values()
        if p.kind is not p.VAR_KEYWORD
        and p.name != "graph"
        and not p.name.startswith("_")
    }
    section = _pregel_impl.__doc__.split("----------\n")[1]
    documented = {
        name
        for entry in re.findall(r"^    (\w[\w /]*):$", section, re.M)
        for name in entry.split(" / ")
    }
    assert names == documented
    assert len(names) == 17
    assert not names & set(_REMOVED_KEYWORDS)


@pytest.mark.parametrize("kw", sorted(_REMOVED_KEYWORDS))
def test_removed_pregel_keyword_raises_and_leaves_session(spark, kw):
    """Passing a trimmed keyword raises ``TypeError`` and leaves the
    session conf and the cache as found."""
    from giraph_spark import Graph

    g = Graph(
        spark.createDataFrame([(0,), (1,)], "id long"),
        spark.createDataFrame([(0, 1)], "src long, dst long"),
    )
    conf = spark.conf
    before = (
        conf.get("spark.sql.shuffle.partitions"),
        conf.get("spark.sql.adaptive.enabled"),
    )
    spark.catalog.clearCache()
    with pytest.raises(TypeError, match=kw):
        pregel(g, update={}, **{kw: _REMOVED_KEYWORDS[kw]})
    assert (
        conf.get("spark.sql.shuffle.partitions"),
        conf.get("spark.sql.adaptive.enabled"),
    ) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_profile_columns_single_scan(spark, sf_dir):
    """Profiling N columns must cost ONE scan of the input (the round-5
    version ran one agg per column unioned — N full corpus scans at
    exactly the scale the operator exists for)."""
    from giraph_spark.functions.profile import profile_columns

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = profile_columns(df, ["o_orderkey", "o_custkey", "o_totalprice"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    rows = {r["column"]: r for r in out.collect()}
    assert set(rows) == {"o_orderkey", "o_custkey", "o_totalprice"}
    n = df.count()
    assert all(r["n_rows"] == n for r in rows.values())
    assert rows["o_orderkey"]["n_distinct"] == n


def test_profile_columns_string_column_null_numeric_stats(spark, sf_dir):
    """A string column must profile without aborting (try_cast): numeric
    stats NULL, counting stats exact."""
    from giraph_spark.functions.profile import profile_columns

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = {
        r["column"]: r
        for r in profile_columns(df, ["o_orderstatus", "o_custkey"]).collect()
    }
    s = rows["o_orderstatus"]
    assert s["mean"] is None and s["min_val"] is None
    assert s["n_distinct"] > 0 and s["n_null"] == 0
    assert rows["o_custkey"]["mean"] is not None


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """The Gopher battery is pure expressions fused into the scan — any
    Exchange would mean a rule accidentally aggregates."""
    from giraph_spark.functions.text import gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = (
        gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_dsir_single_corpus_feature_pass(spark, sf_dir):
    """dsir_importance materializes the corpus feature relation once —
    the plan must not contain two scans of the documents table feeding
    separate explode+aggregate chains (review finding r6)."""
    from giraph_spark.functions.sampling import dsir_importance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    target = docs.where(F.col("doc_id") % 10 == 0)
    out = dsir_importance(docs, target, n_buckets=256)
    out.count()  # materialize through the checkpoint
    plan = out._jdf.queryExecution().executedPlan().toString()
    # corpus side feeds from the LocalCheckpoint scan; the only parquet
    # scans remaining are the target features and the final id join
    assert "LocalCheckpoint" in plan or plan.count("Scan parquet") <= 3


def test_partition_quality_two_scans_no_self_join(spark, sf_dir):
    """partition_quality must cost ONE scan of each relation (the cut
    flag is a projection inside the edge aggregate, never an
    edges-to-edges join) and no broadcast/cartesian anywhere."""
    from giraph_spark.partitioning import partition_quality

    g = trade_graph(spark, sf_dir)
    out = partition_quality(g, 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one scan for vertices + one for edges feeding the trade fixture's
    # lineitem/orders joins: count actual parquet scans of the four
    # inputs the fixture reads; the operator itself adds NONE beyond the
    # fixture (no re-read, no self-join of the aggregated relations)
    assert "CartesianProduct" not in plan
    rows = out.collect()
    assert sum(r["n_vertices"] for r in rows) == g.vertices.count()
    assert sum(r["n_edges"] for r in rows) == g.edges.count()


def test_word_entropy_no_window_no_cartesian(spark, sf_dir):
    """word_entropy is two partial-agg groupBys + a null-doc left join:
    no window function over the token stream, no cartesian, one scan of
    the documents input per branch (doc list + token counts)."""
    from giraph_spark.functions.text import word_entropy

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = word_entropy(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2


def test_fresh_checkpoint_keeps_selfjoin_stats_bounded(spark):
    """Iterated self-joins (pointer doubling) SQUARE the inherited
    size-in-bytes estimate under plain localCheckpoint — the estimate's
    bit-length doubles per round until the driver slows exponentially
    and finally throws 'BigInteger would overflow supported range'
    (reproduced on a 50-row frame). fresh_checkpoint re-wraps the
    computed RDD in a stats-free leaf; 25 doubling rounds must stay
    fast and the final estimate small."""
    import time

    from pyspark.sql import functions as F

    from giraph_spark.plans.checkpoint import fresh_checkpoint

    df = spark.range(50).select(
        F.col("id").alias("comp"), (F.col("id") + 1).alias("par")
    )
    df = fresh_checkpoint(df)
    t0 = time.time()
    for _ in range(25):
        g = df.select(
            F.col("comp").alias("g_comp"), F.col("par").alias("g_par")
        )
        df = fresh_checkpoint(
            df.join(g, df["par"] == g["g_comp"], "left").select(
                "comp", F.coalesce("g_par", "par").alias("par")
            )
        )
    assert df.count() == 50
    # plain localCheckpoint blows past 60 s around round 24; the reset
    # keeps the whole 25-round chain in single-digit seconds
    assert time.time() - t0 < 60
    digits = len(
        str(
            df._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    )
    assert digits < 20, f"size estimate has {digits} digits - stats leak"


def test_kernel_long_run_no_stats_compounding(spark):
    """60-superstep path-graph BFS: per-superstep cost must stay flat —
    the kernel's hetero-join shape (state ⨝ static edges) must not
    inherit compounding size estimates the way self-join loops do. With
    compounding, supersteps past ~25 take minutes; flat runs are
    ~0.15 s/superstep."""
    from giraph_spark import Graph
    from giraph_spark.algos.paths import bfs
    from giraph_spark.pregel import PregelMetrics

    n = 60
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    m = PregelMetrics()
    out = bfs(Graph(vertices, edges), source=0, max_supersteps=80, metrics=m)
    levels = {r["id"]: r["level"] for r in out.collect()}
    assert levels == {i: i for i in range(n)}
    assert len(m.supersteps) == n
    last_sec = m.supersteps[-1].get("sec") or m.supersteps[-1].get("seconds")
    assert last_sec < 10, f"superstep 59 took {last_sec}s - stats compounding?"


def test_fresh_checkpoint_count_one_job_and_flag(spark):
    """fresh_checkpoint_count folds the caller's convergence probe into
    the checkpoint materialization: counts match, the flag predicate is
    counted in the SAME job, the returned frame carries the data, and
    the stats reset still holds (no inherited size estimate)."""
    from pyspark.sql import functions as F

    from giraph_spark.plans.checkpoint import fresh_checkpoint_count

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3 == 0).alias("live")
    )
    out, n, n_live = fresh_checkpoint_count(df, flag=F.col("live"))
    assert n == 100
    assert n_live == 34  # 0,3,...,99
    assert out.count() == 100
    assert out.columns == ["id", "live"]
    assert out.where("live").count() == 34
    # no-flag variant
    out2, n2, f2 = fresh_checkpoint_count(spark.range(7))
    assert (n2, f2) == (7, None)
    assert out2.count() == 7
    digits = len(
        str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    assert digits < 20, "fresh_checkpoint_count leaked inherited stats"


def test_loop_gear_resizes_and_restores(spark):
    """LoopGear: disables AQE + resizes shuffle width with hysteresis
    for the loop's duration, restores both on exit (also on error); the
    width never drops below the floor_rows requirement nor rises above
    the loop's width; the kernel's declining gate holds gear-down back;
    persisted frames are released on any exit; ``window=False`` leaves
    the conf alone."""
    from giraph_spark.plans.gear import ROWS_PER_PARTITION, LoopGear

    conf = spark.conf
    parts0 = conf.get("spark.sql.shuffle.partitions")
    aqe0 = conf.get("spark.sql.adaptive.enabled")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with LoopGear(spark) as gear:
        assert conf.get("spark.sql.adaptive.enabled") == "false"
        assert gear.cur == gear.ceiling == int(parts0)
        # collapse: gears down to 1 (floor None)
        assert gear.resize(10) == 1
        assert conf.get("spark.sql.shuffle.partitions") == "1"
        # regrow past hysteresis: gears back up, capped at ceiling
        big = ROWS_PER_PARTITION * 10_000
        assert gear.resize(big) == int(parts0)
        # floor: O(V) state rewrite keeps width up even when live -> 0
        gear.floor_rows = ROWS_PER_PARTITION * 3
        assert gear.resize(1) == 3
        # hysteresis: within 2x of the current width nothing moves
        assert gear.resize(ROWS_PER_PARTITION * 5) == 3
        # the kernel's gate: no gear-down while the frontier grows
        gear.floor_rows = None
        assert gear.resize(1, declining=False) == 3
        assert gear.resize(1) == 1
    assert conf.get("spark.sql.shuffle.partitions") == parts0
    assert conf.get("spark.sql.adaptive.enabled") == aqe0
    # a width fixed in the window is the ceiling; restores and releases
    # on error too
    with pytest.raises(RuntimeError, match="boom"):
        with LoopGear(spark) as gear:
            gear.set_width(3)
            assert conf.get("spark.sql.shuffle.partitions") == "3"
            assert gear.resize(ROWS_PER_PARTITION * 10_000) == 3
            gear.persist(spark.range(10)).count()
            assert not cache.isEmpty()
            gear.resize(5)
            raise RuntimeError("boom")
    assert conf.get("spark.sql.shuffle.partitions") == parts0
    assert conf.get("spark.sql.adaptive.enabled") == aqe0
    assert cache.isEmpty()
    # no window: the conf is untouched and resize is a no-op
    with LoopGear(spark, window=False) as gear:
        assert conf.get("spark.sql.adaptive.enabled") == aqe0
        assert gear.resize(1) == int(parts0)
        assert conf.get("spark.sql.shuffle.partitions") == parts0


def test_loop_gear_round_rows(spark):
    """LoopGear.round counts rounds into ``stats`` and logs one
    ``per_round`` row each, in the shape of a PregelMetrics.supersteps
    row; entering resets a reused ``stats`` dict."""
    from giraph_spark.plans.gear import LoopGear

    stats = {"rounds": 7, "per_round": ["stale"]}
    with LoopGear(spark, stats=stats) as gear:
        assert stats == {"rounds": 0, "per_round": []}
        gear.round(1_000_000)
        gear.round(10)
    assert stats["rounds"] == 2
    assert [r["round"] for r in stats["per_round"]] == [0, 1]
    assert [r["live"] for r in stats["per_round"]] == [1_000_000, 10]
    assert stats["per_round"][1]["partitions"] == 1
    assert all(r["seconds"] >= 0 for r in stats["per_round"])
    assert set(stats["per_round"][0]) == {"round", "live", "partitions", "seconds"}


def _iso_graphs(spark):
    """Tiny inputs for the round-loop isolation tests: a symmetric
    weighted graph (a 6-cycle with two chords, distinct weights), a
    bipartite graph, a directed graph with a 3-cycle, a wait-for graph
    with request tags, a triangle with direction-dependent weights and a
    4-vertex path."""
    from giraph_spark import Graph

    und = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (0, 2), (3, 5)]
    rows = []
    for k, (a, b) in enumerate(und):
        rows += [(a, b, 1.0 + k), (b, a, 1.0 + k)]
    v6 = spark.createDataFrame([(i,) for i in range(6)], "id long")
    weighted = Graph(
        v6, spark.createDataFrame(rows, "src long, dst long, weight double")
    )
    bipartite = Graph(
        spark.createDataFrame([(i,) for i in (0, 1, 2, 10, 11, 12)], "id long"),
        spark.createDataFrame(
            [(0, 10), (0, 11), (1, 10), (2, 12), (2, 11)], "src long, dst long"
        ),
    )
    directed = Graph(
        v6,
        spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 4)], "src long, dst long"
        ),
    )
    wait_for = Graph(
        spark.createDataFrame([(i,) for i in (1, 2, 3)], "id long"),
        spark.createDataFrame(
            [(1, 2, 0), (1, 3, 1)], "src long, dst long, tag long"
        ),
    )
    # direction-dependent weights: 0 picks 1, 1 picks 2, 2 picks 0
    cyc = [(0, 1, 3.0), (1, 0, 1.0), (1, 2, 3.0), (2, 1, 1.0), (2, 0, 3.0), (0, 2, 1.0)]
    asymmetric = Graph(
        spark.createDataFrame([(i,) for i in range(3)], "id long"),
        spark.createDataFrame(cyc, "src long, dst long, weight double"),
    )
    # a path: k=2 / s=1.5 peel its ends first, a second round is needed
    path = [(0, 1), (1, 2), (2, 3)]
    path_rows = [(a, b, 1.0) for a, b in path] + [(b, a, 1.0) for a, b in path]
    path_g = Graph(
        spark.createDataFrame([(i,) for i in range(4)], "id long"),
        spark.createDataFrame(path_rows, "src long, dst long, weight double"),
    )
    return {
        "weighted": weighted,
        "bipartite": bipartite,
        "directed": directed,
        "wait_for": wait_for,
        "asymmetric": asymmetric,
        "path": path_g,
    }


_ROUNDLOOPS = (
    "minimum_spanning_forest",
    "max_weight_matching",
    "bipartite_matching",
    "graph_coloring",
    "maximal_independent_set",
)

# (loop, input graph, kwargs, expected exception or None)
_ISOLATION_CASES = [
    ("minimum_spanning_forest", "weighted", {}, None),
    ("max_weight_matching", "weighted", {}, None),
    ("bipartite_matching", "bipartite", {}, None),
    ("graph_coloring", "weighted", {}, None),
    ("maximal_independent_set", "weighted", {}, None),
    ("k_truss", "weighted", {"k": 3}, None),
    ("scc", "directed", {}, None),
    ("bracha_toueg", "wait_for", {"initiator": 1}, None),
    ("k_core", "weighted", {"k": 2}, None),
    ("s_core", "weighted", {"s": 2.0}, None),
    ("sssp", "weighted", {"source": 0}, None),
    ("wcc", "weighted", {}, None),
    ("core_numbers", "weighted", {}, None),
    ("label_propagation_communities", "weighted", {}, None),
    ("max_weight_matching", "asymmetric", {}, ValueError),
    ("k_core", "path", {"k": 2, "max_rounds": 1}, RuntimeError),
    ("s_core", "path", {"s": 1.5, "max_rounds": 1}, RuntimeError),
    ("k_truss", "weighted", {"k": 4, "max_rounds": 1}, RuntimeError),
    # a keyword trimmed from the kernel is refused after the caller has
    # cached its edge relation: the caller's own registry releases it
    ("wcc", "weighted", {"adaptive_partitions": False}, TypeError),
    ("core_numbers", "weighted", {"checkpoint_dir": "ckpt"}, TypeError),
    ("label_propagation_communities", "weighted", {"halt_file": "HALT"}, TypeError),
    # the PageRank family's power-iteration loop
    ("pagerank", "directed", {"iterations": 2, "dangling": True}, None),
    ("eigenvector_centrality", "weighted", {"iterations": 2}, None),
    ("hits", "directed", {"iterations": 2}, None),
    # an always-halt traversal that reaches its superstep cap with
    # messages in flight raises instead of returning a partial answer
    ("sssp", "path", {"source": 0, "max_supersteps": 2}, RuntimeError),
    ("bfs", "path", {"source": 0, "max_supersteps": 2}, RuntimeError),
    ("wcc", "path", {"max_supersteps": 1}, RuntimeError),
    ("scc", "path", {"max_supersteps": 1}, RuntimeError),
    # callers that cache through the gear's registry without its window
    ("betweenness_centrality", "weighted", {"pivots": [0]}, None),
    ("betweenness_centrality", "path", {"pivots": [0], "max_supersteps": 1}, RuntimeError),
    ("alternating_star_components", "weighted", {}, None),
    ("alternating_star_components", "path", {"max_rounds": 1}, RuntimeError),
]


def _width_and_aqe(spark):
    conf = spark.conf
    return (
        conf.get("spark.sql.shuffle.partitions"),
        conf.get("spark.sql.adaptive.enabled"),
    )


def _algo(name):
    from giraph_spark import algos
    from giraph_spark.algos import components

    return getattr(algos, name, None) or getattr(components, name)


@pytest.mark.parametrize(
    "fn,graph,kwargs,raises",
    _ISOLATION_CASES,
    ids=[f"{c[0]}-{c[1]}" for c in _ISOLATION_CASES],
)
def test_round_loop_leaves_session_as_found(spark, fn, graph, kwargs, raises):
    """Every round loop on the LoopGear primitive (and the kernel)
    leaves the session as it found it, on success and on a raise: the
    shuffle width and AQE setting are restored and no DataFrame stays
    cached."""
    g = _iso_graphs(spark)[graph]
    before = _width_and_aqe(spark)
    spark.catalog.clearCache()
    call = _algo(fn)
    if raises is None:
        out = call(g, **kwargs)
    else:
        with pytest.raises(raises):
            call(g, **kwargs)
    assert _width_and_aqe(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    if raises is None:
        assert out.count() >= 0  # the lazy result still evaluates


def test_pairs_to_clusters_leaves_session_as_found(spark):
    """``pairs_to_clusters`` caches its symmetric pair graph through the
    gear: the session's width and AQE setting survive the call, nothing
    stays cached, and the lazy result still evaluates."""
    from giraph_spark.functions.dedup import pairs_to_clusters

    before = _width_and_aqe(spark)
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 5), (9, 9)], "id_a long, id_b long"
    )
    out = pairs_to_clusters(pairs)
    assert _width_and_aqe(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got = {r["doc_id"]: (r["cluster"], r["is_keeper"]) for r in out.collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 7: (5, False), 9: (9, True),
    }


def _dedup_corpus_docs(spark):
    """12 documents: four texts, each once verbatim, once with a short
    tail and once re-cased — exact and near duplicates in every group."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a stitch in time saves nine when the weather turns cold and grey",
        "all that glitters is not gold and all who wander are not lost",
        "to be or not to be that is the question whether tis nobler",
    ]
    rows = [(i, base[i % 4]) for i in range(4)]
    rows += [(i, base[i % 4] + " again") for i in range(4, 8)]
    rows += [(i, base[i % 4].upper()) for i in range(8, 12)]
    return spark.createDataFrame(rows, "doc_id long, text string")


_DEDUP_OPS = {
    "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(d, threshold=0.5),
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "simhash_near_pairs": dedup.simhash_near_pairs,
    "fuzzy_decontaminate": lambda d: dedup.fuzzy_decontaminate(
        d, d.where(F.col("doc_id") < 2).withColumnRenamed("doc_id", "bench_id")
    ),
    "dedup_corpus": dedup.dedup_corpus,
    "incremental_dedup": lambda d: dedup.incremental_dedup(
        d.where(F.col("doc_id") >= 6), d.where(F.col("doc_id") < 6)
    ),
}


@pytest.mark.parametrize("name", _DEDUP_OPS)
def test_dedup_operator_leaves_nothing_cached(spark, name):
    """The dedup operators return lazy frames over sketches they take
    with a local checkpoint, not ``persist()``: once the result is
    consumed, nothing is left in the cache manager, the session's
    width and AQE setting are as found, and the result evaluates again
    to the same rows."""
    docs = _dedup_corpus_docs(spark)
    before = _width_and_aqe(spark)
    spark.catalog.clearCache()
    out = _DEDUP_OPS[name](docs)
    rows = sorted(out.collect())
    assert rows, name
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _width_and_aqe(spark) == before
    assert sorted(out.collect()) == rows


@pytest.mark.parametrize("fn", _ROUNDLOOPS)
def test_round_loops_log_one_row_per_round(spark, fn):
    """The five round loops the benchmark's roundloops workload runs
    log one ``per_round`` row per counted round."""
    graphs = _iso_graphs(spark)
    g = graphs["bipartite" if fn == "bipartite_matching" else "weighted"]
    stats: dict = {}
    _algo(fn)(g, stats=stats)
    assert stats["rounds"] >= 1
    assert len(stats["per_round"]) == stats["rounds"]
    assert [r["round"] for r in stats["per_round"]] == list(range(stats["rounds"]))


def test_bcast_if_small_plan_shapes(spark):
    """The loops' count-gated broadcast (plans/gear.py bcast_if_small)
    must actually change the physical join: under the limit the delta
    anti-join goes map-side (BroadcastHashJoin — the big cached side
    never moves), over the limit it falls back to a shuffle join. The
    stats side is checkpoint-fresh (no size estimate), so ONLY the
    explicit hint can produce the broadcast — this pins the gate as
    load-bearing."""
    from pyspark.sql import functions as F

    from giraph_spark.plans.checkpoint import fresh_checkpoint
    from giraph_spark.plans.gear import bcast_if_small

    big = fresh_checkpoint(
        spark.range(1000).select(F.col("id").alias("src"))
    )
    delta = fresh_checkpoint(spark.range(10).select(F.col("id").alias("src")))

    gated = big.join(bcast_if_small(delta, 10), on="src", how="left_anti")
    assert "BroadcastHashJoin" in _formatted_plan(gated)
    ungated = big.join(
        bcast_if_small(delta, 10, limit_bytes=5), on="src", how="left_anti"
    )
    p = _formatted_plan(ungated)
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_bcast_gate_is_byte_aware(spark):
    """A wide/array-bearing relation must NOT broadcast on row count
    alone (ADVICE r7: coloring's per_v _taken arrays can reach GBs at
    palette-size entries per row). extra_bytes carries the array
    payload into the gate; a small row count with a huge element total
    stays un-broadcast, and the budget derives from driver memory."""
    from pyspark.sql import functions as F

    from giraph_spark.plans.gear import (
        ARRAY_ELEM_BYTES,
        bcast_if_small,
        broadcast_limit_bytes,
    )

    limit = broadcast_limit_bytes(spark)
    assert (64 << 20) <= limit <= (1 << 30)
    wide = spark.range(10).select(F.col("id").alias("src"))
    # few rows, but an element total that blows any sane budget
    out = bcast_if_small(
        wide, 10, extra_bytes=ARRAY_ELEM_BYTES * (1 << 40)
    )
    assert "hint" not in out._jdf.queryExecution().logical().toString().lower()
    # same relation with an honest small payload broadcasts
    out2 = bcast_if_small(wide, 10, extra_bytes=ARRAY_ELEM_BYTES * 100)
    assert (
        "hint"
        in out2._jdf.queryExecution().logical().toString().lower()
    )


def test_broadcast_limit_parses_memory_grammar():
    from giraph_spark.plans.gear import broadcast_limit_bytes

    class _Conf:
        def __init__(self, v):
            self.v = v

        def get(self, k, d=None):
            return self.v

    class _S:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert broadcast_limit_bytes(_S("4g")) == (4 << 30) // 16
    assert broadcast_limit_bytes(_S("128g")) == 1 << 30  # capped
    assert broadcast_limit_bytes(_S("512m")) == 64 << 20  # floored
    assert broadcast_limit_bytes(_S("not-a-size")) == 256 << 20
    assert broadcast_limit_bytes(_S(None)) == 256 << 20
    assert broadcast_limit_bytes(None) == 256 << 20


def test_r8_tier_plan_shapes(spark, sf_dir):
    """Plan assertions for the round-8 operators: bigram_logprob joins
    on term equality only (zip_with builds bigrams — a positional
    self-join or cartesian in this plan means the expression
    construction degenerated); the URL blocklist broadcasts; URL dedup
    is hash joins + one aggregate, never a sort-based collapse of the
    whole corpus; the classifier's scoring pass stays join-free."""
    from giraph_spark.functions.lm import bigram_logprob
    from giraph_spark.functions.urls import dedup_by_url, filter_blocked_domains

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    lm_plan = _formatted_plan(
        bigram_logprob(docs, lm_df=docs.where("doc_id % 2 = 0"))
    )
    assert "CartesianProduct" not in lm_plan
    # exactly ONE nested-loop join is by design: the broadcast of the
    # single-row vocabulary size (the unigram op's pattern); a second
    # would mean the bigram relation itself degenerated to all-pairs
    # (formatted explain prints each node twice: tree + detail header)
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", lm_plan)) == 1

    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/d/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl_plan = _formatted_plan(
        filter_blocked_domains(urls, ["h1.example.com"], levels=3)
    )
    assert "BroadcastHashJoin" in bl_plan or "BroadcastExchange" in bl_plan
    dd_plan = _formatted_plan(dedup_by_url(urls))
    assert "CartesianProduct" not in dd_plan
    assert "BroadcastNestedLoopJoin" not in dd_plan

    from giraph_spark.functions.classifier import (
        score_quality_classifier,
        train_quality_classifier,
    )

    labeled = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2 == 0).cast("double").alias("label")
    )
    clf = train_quality_classifier(labeled, num_features=1 << 10, max_iter=2)
    score_plan = _formatted_plan(score_quality_classifier(docs, clf))
    for op in ("Join", "Exchange", "CartesianProduct"):
        assert op not in score_plan, op  # scoring is one stateless pass


def test_broadcast_limit_parses_spark_memory_grammar():
    """spark.driver.memory follows the JVM grammar: unitless = MiB
    (NOT bytes), one- and two-letter suffixes both legal. Misreading
    unitless as bytes collapsed every budget to the floor and
    suppressed the loop broadcasts the gate exists to allow."""
    from giraph_spark.plans.gear import broadcast_limit_bytes

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, k, d=None):
            return self._v

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)

    gib = 1 << 30
    assert broadcast_limit_bytes(_Spark("8192")) == (8192 << 20) // 16
    assert broadcast_limit_bytes(_Spark("16g")) == gib  # cap
    assert broadcast_limit_bytes(_Spark("512mb")) == 64 << 20  # floor
    assert broadcast_limit_bytes(_Spark("2gb")) == (2 << 30) // 16
    assert broadcast_limit_bytes(_Spark("nonsense")) == 256 << 20
    assert broadcast_limit_bytes(None) == 256 << 20


def test_broadcast_limit_plain_bytes_suffix():
    from giraph_spark.plans.gear import broadcast_limit_bytes

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, k, d=None):
            return self._v

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)

    # 1 GiB expressed in Spark's plain-bytes form -> 64 MiB floor
    assert broadcast_limit_bytes(_Spark("1073741824b")) == 64 << 20


def _tree_ancestors(tree: list[str], i: int) -> list[str]:
    """The ancestors of node line ``i`` of a formatted plan's tree."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out, d = [], depth(tree[i])
    for line in reversed(tree[:i]):
        if depth(line) < d:
            out.append(line)
            d = depth(line)
    return out


@pytest.mark.parametrize("alg", ["sssp", "wcc"])
def test_width1_send_plans_shuffle_only_inside_the_edge_cache(spark, tmp_path, alg):
    """At auto width 1 every send plan's Exchanges sit under the cached
    edge relation's InMemoryRelation: the cache's own SinglePartition
    repartition (and, for wcc, its symmetrize), built once — no
    per-superstep shuffle of the state or the edges. Spark keeps the
    join's single-partition sides in place only while their size
    estimates stay under ``spark.sql.maxSinglePartitionBytes``: an input
    of unknown size (a DataFrame built from local Python rows) plans a
    ``hashpartitioning(…, 1)`` re-shuffle of both sides instead, whereas
    a parquet or cached input like this one does not."""
    from giraph_spark.algos import sssp, wcc
    from giraph_spark.sources import load_graph

    spark.createDataFrame([(i,) for i in range(12)], "id long").write.parquet(
        f"{tmp_path}/vertices"
    )
    spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(11)] + [(i + 1, i, 1.0) for i in range(11)],
        "src long, dst long, weight double",
    ).write.parquet(f"{tmp_path}/edges")
    g = load_graph(spark, str(tmp_path))
    m = PregelMetrics(capture_plans=True)
    (sssp(g, 0, metrics=m) if alg == "sssp" else wcc(g, metrics=m)).count()
    assert {s["partitions"] for s in m.supersteps} == {1}
    assert len(m.plans) == m.num_supersteps
    for plan in m.plans:
        tree = plan.split("\n\n")[0].splitlines()
        exchanges = [i for i, line in enumerate(tree) if "Exchange" in line]
        assert exchanges
        for i in exchanges:
            assert any(
                "InMemoryRelation" in a for a in _tree_ancestors(tree, i)
            ), plan
