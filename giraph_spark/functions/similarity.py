"""Similarity search over embedding columns (``array<float|double>``).

Baseline: brute-force cosine top-k — one broadcast of the (small) query
set against a scan of the corpus; dot products via ``F.zip_with`` +
``F.aggregate`` (JVM-side, no Python). Scale path: LSH bucketing via
random hyperplanes (signed projections → bit signature → band join), or
IVF-style routing via nearest-centroid partition pruning; both keep the
candidate set per query bounded instead of scanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .lsh import band_pairs, bit_bands, explode_bands


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int, query_id_col: str, id_col: str) -> DataFrame:
    """The ``k`` best ``cos_sim`` rows per query, ranked ``rnk`` 1..k
    (ties to the lower corpus id)."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries × scan corpus →
    window top-k. Returns ``(query_id, vec_id, cos_sim, rnk)``; ties broken
    by corpus id for determinism. O(|corpus|·|queries|·d) flops but only
    ONE corpus scan and no shuffle of the corpus (the window groups by
    query — |queries|·|corpus| rows shuffle; keep the query set small or
    use the LSH variant)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
    )
    scored = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cv")
    ).join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
    )
    return _top_k(scored, k, query_id_col, id_col)


def random_hyperplane_signatures(
    df: DataFrame,
    dim: int,
    planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Sign-of-projection LSH signature (``planes`` bits packed into one
    BIGINT). Hyperplanes are deterministic pseudo-random unit-free ±1
    vectors derived from a hash of ``(seed, plane, dim_index)`` —
    reproducible across runs without shipping a matrix. ``portable=True``
    derives the ±1 component from the first md5 hex digit's parity
    (DuckDB twin: ``CAST(('0x' || substr(md5(seed||'-'||p||'-'||i),1,1))
    AS BIGINT) % 2``) so a SQL oracle can rebuild the identical
    signatures; the default uses xxhash64."""

    def component(p: int, i: Column) -> Column:
        if portable:
            par = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "-", F.lit(seed), F.lit(p), i.cast("string")
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
        else:
            par = F.xxhash64(F.lit(seed), F.lit(p), i) % 2
        return F.when(par == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    def plane_fn(p: int):
        # NOTE: F.transform dispatches on the lambda's arity (a second
        # parameter would receive the array index), so the plane number
        # must be bound via this closure factory, not a default argument.
        return lambda i: component(p, i)

    sig = F.lit(0).cast("long")
    for p in range(planes):
        # pseudo-random ±1 plane components from a hash of (seed, p, i)
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    plane_fn(p),
                ),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.select(F.col(id_col), F.col(vec_col), sig.alias("lsh_sig"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus vectors sharing at
    least one LSH signature band with the query, then exact cosine + topk
    on candidates only. The band join is the only shuffle; per-query work
    is proportional to bucket occupancy, not corpus size.
    ``portable=True`` uses md5-parity hyperplanes so a SQL oracle can
    replay the candidate set."""
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col))
    qb, cb = (
        explode_bands(
            random_hyperplane_signatures(
                rel, dim, planes, idc, vec_col, seed, portable=portable
            ),
            [idc, vec_col],
            bit_bands("lsh_sig", bands, planes // bands),
        )
        for rel, idc in ((q, query_id_col), (corpus, id_col))
    )
    cand = (
        cb.join(
            F.broadcast(qb.select(query_id_col, "band", "bucket", F.col(vec_col).alias("_qv"))),
            on=["band", "bucket"],
        )
        .where(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, "_qv", F.col(vec_col).alias("_cv"))
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
    )
    return _top_k(scored, k, query_id_col, id_col)


def _centroid_array(cents: DataFrame) -> Column:
    """Collect a (tiny) ``(_cell, _cv)`` centroid table to the driver and
    rebuild it as a literal ``array<struct<cell, cv>>`` column. Centroid
    tables are k·dim doubles (a few KB); inlining them keeps the corpus
    assignment a pure projection — zero joins, zero shuffles — instead of
    a broadcast-join + per-id window (which inflates the corpus k× and
    sort-shuffles it)."""
    rows = cents.collect()
    return F.array(
        *[
            F.struct(
                F.lit(int(r["_cell"])).cast("long").alias("cell"),
                F.array(*[F.lit(float(x)) for x in r["_cv"]]).alias("cv"),
            )
            for r in rows
        ]
    )


def nearest_cells(
    vec: Column, cent_arr: Column, n_keep: int, round_digits: int | None = None
) -> Column:
    """The ``n_keep`` nearest centroids of ``vec`` by cosine, as an array
    of ``struct<negsim, cell>`` sorted best-first (ties → lower cell id,
    matching a row_number over (sim DESC, cell ASC)). Single-pass
    expression: evaluated inside the corpus scan's projection, inside
    whole-stage codegen — no Exchange. ``round_digits`` rounds the
    similarity before ranking — the portable mode: argmax over a value
    both engines agree on exactly, so a SQL oracle replays cell
    assignment bit-for-bit (unrounded doubles can differ in the last ulp
    across engines and flip near-ties)."""
    sims = F.transform(
        cent_arr,
        lambda s: F.struct(
            (
                -F.round(cosine(vec, s["cv"]), round_digits)
                if round_digits is not None
                else -cosine(vec, s["cv"])
            ).alias("negsim"),
            s["cell"].alias("cell"),
        ),
    )
    return F.slice(F.array_sort(sims), 1, n_keep)


def seed_centroids(
    corpus: DataFrame,
    num_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``num_cells`` lowest-id vectors as a ``(_cell, _cv)`` centroid
    table — the deterministic, SQL-replayable seeding shared by
    :func:`kmeans_centroids`, :func:`ivf_topk`, and :func:`semdedup`."""
    return (
        corpus.orderBy(F.col(id_col))
        .limit(num_cells)
        .select(F.col(id_col).alias("_cell"), F.col(vec_col).alias("_cv"))
    )


def _two_level_parts(
    corpus: DataFrame,
    coarse_cells: int,
    sub_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
):
    """Build the two-level quantizer once and return its pieces:
    ``(coarse_arr, sub_tables, assigned_coarse)`` — the coarse-centroid
    literal, the per-coarse sub-centroid literal array-of-arrays, and
    the corpus with its coarse assignment (``id, vec, _coarse``,
    materialized). Shared by :func:`two_level_cells` (dedup cells) and
    :func:`ivf_topk`'s ``coarse_cells`` mode (ANN inverted lists)."""
    from pyspark.sql import Window

    coarse = (
        seed_centroids(corpus, coarse_cells, id_col, vec_col)
        .orderBy("_cell")
        .collect()
    )
    coarse_arr = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("cell"),
                F.array(*[F.lit(float(x)) for x in r["_cv"]]).alias("cv"),
            )
            for i, r in enumerate(coarse)
        ]
    )
    assigned_coarse = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(
            nearest_cells(F.col(vec_col), coarse_arr, 1, round_digits), 1
        )["cell"].alias("_coarse"),
    )
    # referenced by the seed collection AND the final probe: materialize
    # once so the coarse scan does not rerun
    assigned_coarse = assigned_coarse.localCheckpoint(eager=False)
    # sub-centroid selection = exact per-coarse lowest-id top-n. A hot
    # coarse cell must not serialize its sort on one task, so pre-rank
    # over (_coarse, hash(id) % 32) first — any row in the true top-n
    # has shard-rank <= n (pigeonhole, the cap_per_group pattern), and
    # the final window ranks <= 32*n survivors per coarse cell. The
    # result is provably shard-count-invariant (exact top-n by id).
    pre_w = Window.partitionBy(
        "_coarse", F.pmod(F.xxhash64(F.col(id_col)), F.lit(32))
    ).orderBy(F.col(id_col))
    survivors = (
        assigned_coarse.withColumn("_prk", F.row_number().over(pre_w))
        .where(F.col("_prk") <= sub_cells)
    )
    w = Window.partitionBy("_coarse").orderBy(F.col(id_col))
    seeds = (
        survivors.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= sub_cells)
        .select("_coarse", (F.col("_rk") - 1).alias("_sub"), F.col(vec_col))
        .collect()
    )
    by_coarse: dict[int, list] = {}
    for r in seeds:
        by_coarse.setdefault(int(r["_coarse"]), []).append(
            (int(r["_sub"]), list(r[vec_col]))
        )
    # literal array-of-arrays indexed by coarse id: element_at is the
    # scan-fused "which sub-quantizer" lookup
    sub_tables = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("cell"),
                        F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                    )
                    for s, cv in sorted(by_coarse.get(c, [(0, coarse[c]["_cv"])]))
                ]
            )
            for c in range(len(coarse))
        ]
    )
    return coarse_arr, sub_tables, assigned_coarse


def two_level_cells(
    corpus: DataFrame,
    coarse_cells: int,
    sub_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Two-level (coarse → fine) cell assignment: ``(id, vec, cell)``
    with ``cell = coarse · sub_cells + sub`` over ``coarse_cells ×
    sub_cells`` total cells.

    Why it exists: the flat scan-fused literal-centroid assignment
    (:func:`nearest_cells`) costs O(n·cells) per row-scan, so scaling
    cells ∝ corpus — SemDeDup's own occupancy rule — makes assignment
    quadratic overall (measured 24.7× wall at 10× data in
    ``bench.py --stress-docs``). Here each row does ``coarse_cells``
    dots to pick its coarse cell, then ``sub_cells`` dots against ONLY
    that coarse cell's sub-centroids — O(n·(C₁+C₂)) = O(n·2√cells)
    when balanced. Both probes are literal-array expressions fused into
    the corpus scan (the sub-centroid table is a literal array indexed
    by coarse id — no join, no shuffle in the assignment pass); the one
    shuffle is the per-coarse-group sub-centroid SELECTION (lowest-id
    members), which runs once while building the quantizer, not per
    row. Deterministic and SQL-replayable with ``round_digits`` (the
    :func:`nearest_cells` portable mode at both levels)."""
    _coarse_arr, sub_tables, assigned_coarse = _two_level_parts(
        corpus, coarse_cells, sub_cells, id_col, vec_col, round_digits
    )
    sub_probe = F.element_at(
        nearest_cells(
            F.col(vec_col),
            F.element_at(sub_tables, (F.col("_coarse") + 1).cast("int")),
            1,
            round_digits,
        ),
        1,
    )["cell"]
    return assigned_coarse.select(
        F.col(id_col),
        F.col(vec_col),
        (F.col("_coarse") * F.lit(sub_cells) + sub_probe)
        .cast("long")
        .alias("cell"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    num_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column: seed with the
    ``num_cells`` lowest-id vectors, then ``iters`` rounds of
    (single-pass argmax assign → posexplode → per-(cell, dim) avg).
    Returns ``(_cell, _cv)``.

    The per-round centroids are collected to the driver (k·dim doubles —
    the classic k-means driver state) and inlined as a literal, so the
    assignment is a projection fused into the corpus scan; the only
    shuffle per round is the (cell, dim) mean aggregation, which
    partial-aggregates map-side. ``round_digits`` rounds the assignment
    similarity and every centroid component each round — the portable
    mode that lets a SQL oracle replay the whole trajectory (see
    :func:`kmeans_assign`)."""
    cents = seed_centroids(corpus, num_cells, id_col, vec_col)
    for _ in range(iters):
        cent_arr = _centroid_array(cents)  # collect() truncates lineage too
        assigned = corpus.select(
            F.element_at(
                nearest_cells(F.col(vec_col), cent_arr, 1, round_digits), 1
            )["cell"].alias("_cell"),
            F.col(vec_col),
        )
        dims = assigned.select(
            "_cell", F.posexplode(F.col(vec_col)).alias("_pos", "_x")
        )
        mean = F.avg("_x")
        if round_digits is not None:
            mean = F.round(mean, round_digits)
        means = dims.groupBy("_cell", "_pos").agg(mean.alias("_m"))
        cents = means.groupBy("_cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s["_m"],
            ).alias("_cv")
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: str | DataFrame = "seed",
    coarse_cells: int | None = None,
    coarse_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is bucketed into
    ``num_cells`` Voronoi cells (inverted lists) by nearest centroid;
    each query probes only its ``nprobe`` nearest cells and runs exact
    cosine there. Per-query work ∝ probed-cell occupancy, not corpus size.
    Cell assignment inlines the (tiny) centroid table as a literal array
    and computes the argmax as a projection fused into the corpus scan —
    zero joins and zero shuffles on the corpus side (a broadcast-join +
    window formulation would inflate the corpus ``num_cells``× through a
    sort-shuffle).

    ``centroids``: ``"seed"`` (default) uses the ``num_cells`` lowest-id
    corpus vectors — deterministic and engine-reproducible, so the DuckDB
    oracle can replicate the exact result; ``"kmeans"`` runs
    :func:`kmeans_centroids` for better cell balance (still deterministic,
    but not SQL-oracle-replicated); or pass a ``(_cell, _cv)`` DataFrame.

    ``coarse_cells``: the 100 TB assignment path (the IVF twin of
    :func:`semdedup`'s two-level mode). The flat assignment probes all
    ``num_cells`` centroids per corpus row — O(n·cells), quadratic when
    cells scale ∝ corpus. With ``coarse_cells`` set, corpus rows probe
    ``coarse_cells`` then only their coarse cell's ``num_cells /
    coarse_cells`` sub-centroids; queries probe their ``coarse_probe``
    best coarse cells and the ``ceil(nprobe / coarse_probe)`` best
    sub-cells within each. A different (still deterministic) cell
    partition from flat seeding, so an explicit opt-in."""
    if coarse_cells is not None:
        if isinstance(centroids, DataFrame) or centroids == "kmeans":
            raise ValueError("coarse_cells requires seed centroids")
        if num_cells % coarse_cells:
            raise ValueError("coarse_cells must divide num_cells")
        sub_cells = num_cells // coarse_cells
        coarse_arr, sub_tables, assigned = _two_level_parts(
            corpus, coarse_cells, sub_cells, id_col, vec_col
        )
        sub_probe_expr = F.element_at(
            nearest_cells(
                F.col(vec_col),
                F.element_at(sub_tables, (F.col("_coarse") + 1).cast("int")),
                1,
            ),
            1,
        )["cell"]
        inv = assigned.select(
            F.col(id_col),
            F.col(vec_col),
            (F.col("_coarse") * F.lit(sub_cells) + sub_probe_expr)
            .cast("long")
            .alias("_cell"),
        )
        n_sub = -(-nprobe // coarse_probe)
        qcoarse = queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col)
        ).select(
            query_id_col,
            F.col(vec_col).alias("_qv"),
            F.explode(
                nearest_cells(F.col(vec_col), coarse_arr, coarse_probe)
            ).alias("_cc"),
        )
        probes = qcoarse.select(
            query_id_col,
            "_qv",
            F.col("_cc.cell").alias("_coarse"),
            F.explode(
                nearest_cells(
                    F.col("_qv"),
                    F.element_at(sub_tables, (F.col("_cc.cell") + 1).cast("int")),
                    n_sub,
                )
            ).alias("_sc"),
        ).select(
            query_id_col,
            "_qv",
            (F.col("_coarse") * F.lit(sub_cells) + F.col("_sc.cell"))
            .cast("long")
            .alias("_cell"),
        )
    else:
        if isinstance(centroids, DataFrame):
            cents = centroids
        elif centroids == "kmeans":
            cents = kmeans_centroids(
                corpus, num_cells=num_cells, id_col=id_col, vec_col=vec_col
            )
        else:
            cents = seed_centroids(corpus, num_cells, id_col, vec_col)

        cent_arr = _centroid_array(cents)
        # inverted lists: top-1 cell per corpus row, pure projection
        inv = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(nearest_cells(F.col(vec_col), cent_arr, 1), 1)[
                "cell"
            ].alias("_cell"),
        )
        # probes: nprobe cells per query (queries are small — the explode
        # is |queries|·nprobe rows)
        probes = (
            queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col))
            .select(
                query_id_col,
                F.col(vec_col).alias("_qv"),
                F.explode(
                    nearest_cells(F.col(vec_col), cent_arr, nprobe)
                ).alias("_nc"),
            )
            .select(query_id_col, "_qv", F.col("_nc.cell").alias("_cell"))
        )
    cand = inv.join(F.broadcast(probes), on="_cell").where(
        F.col(query_id_col) != F.col(id_col)
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qv"), F.col(vec_col)), 6).alias("cos_sim"),
    )
    return _top_k(scored, k, query_id_col, id_col)


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ``(id_a, id_b, cos_sim ≥ threshold)``
    via LSH band blocking + exact verification (the embedding analog of
    MinHash-LSH text dedup). ``portable=True`` makes the hyperplanes
    md5-parity-derived so a SQL oracle can replay the exact candidate
    set."""
    s = random_hyperplane_signatures(
        df, dim, planes, id_col, vec_col, seed, portable=portable
    )
    banded = explode_bands(
        s, [id_col, vec_col], bit_bands("lsh_sig", bands, planes // bands)
    )
    cand = band_pairs(banded, id_col, carry=(vec_col,))
    return cand.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")), 6).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric int8-style quantization: per vector, scale =
    ``levels / max(|x|)`` and ``q_i = floor(x_i * scale + 0.5)`` (explicit
    half-up rounding — engine-neutral, unlike ROUND's half-even
    ambiguity). Returns ``(id, scale, qvec array<long>)``. At 100 TB this
    is the storage/bandwidth lever for ANN shipping: 4-8x smaller vectors
    with one scan-fused projection, no shuffle; dequantize is
    ``q / scale``."""
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.try_divide(F.lit(float(levels)), amax)
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
        ).alias("qvec"),
    )


def ann_recall(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall of an approximate top-k result against the exact tier, per
    query: ``|exact ∩ approx| / |exact|`` — the standard ANN index
    quality gauge, run as a relational intersection so the evaluation
    itself scales (two groupBys on the query key, no re-scoring).
    Feed it any two ``(query_id, vec_id, …)`` top-k relations, e.g.
    :func:`brute_force_topk` vs :func:`lsh_topk`/:func:`ivf_topk`.
    Returns ``(query_id, n_hit, recall_at_k)``. Both sides are
    deduplicated on (query, id) first so a duplicated row in either
    input can't multiply in the join and push recall past 1.0."""
    # lazily checkpoint the deduplicated exact side (r13, guide §2.4):
    # it is ≤ |queries|·k rows but feeds BOTH the hit intersection and
    # the per-query base count — without the checkpoint the exact tier
    # (e.g. brute_force_topk's corpus-wide score-and-rank windows) is
    # re-derived from parquet for each consumer (18 Window nodes / 12
    # scans in the audited ann_recall plan).
    ex = (
        exact_topk.select(query_id_col, id_col)
        .distinct()
        .localCheckpoint(eager=False)
    )
    ap = approx_topk.select(query_id_col, id_col).distinct()
    hits = ex.join(ap, [query_id_col, id_col]).groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    base = ex.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_exact")
    )
    return base.join(hits, query_id_col, "left").select(
        F.col(query_id_col),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("_n_exact"), 6
        ).alias("recall_at_k"),
    )


def kmeans_assign(
    corpus: DataFrame,
    num_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means returning the per-vector cluster
    assignment ``(id, cell)`` — the clustering stage of embedding-space
    corpus curation (cluster-then-prune pipelines à la SemDeDup; also
    the IVF list builder). Deterministic end to end: seeds are the
    ``num_cells`` lowest-id vectors, assignment argmax breaks ties
    toward the lower cell id, and (with ``round_digits``) every
    engine-crossing float — the assignment similarity and each centroid
    component — is rounded, so the whole iteration is replayable by a
    SQL oracle (``round_digits=None`` for the fastest, non-portable
    form).

    Scale shape per iteration: cell assignment is a scan-fused
    projection against the literal centroid array (zero joins/shuffles
    on the corpus — see :func:`ivf_topk`); the centroid update is one
    posexplode + (cell, dim) hash aggregation, partial-aggregated
    map-side, shuffling at most ``num_cells × dim`` rows. Driver state
    is k·dim doubles per round — classic k-means. Empty cells drop out
    (their centroid is undefined), matching the SQL replay."""
    cents = kmeans_centroids(
        corpus, num_cells, iters, id_col, vec_col, round_digits
    )
    cent_arr = _centroid_array(cents)
    return corpus.select(
        F.col(id_col),
        F.element_at(nearest_cells(F.col(vec_col), cent_arr, 1, round_digits), 1)[
            "cell"
        ]
        .cast("long")
        .alias("cell"),
    )


def semdedup(
    corpus: DataFrame,
    num_cells: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    round_digits: int | None = 6,
    coarse_cells: int | None = None,
) -> DataFrame:
    """Semantic deduplication (Abbas et al., "SemDeDup", 2023): bucket
    the corpus into ``num_cells`` centroid cells, then within each cell
    drop every vector that is cosine-similar (≥ ``threshold``) to a
    lower-id vector in the same cell. Returns one row per corpus vector:
    ``(id, cell, kept, dup_of)`` with ``dup_of`` = the smallest such
    lower id (NULL when kept) — the keep-list join a curation pipeline
    applies to the document table.

    The relational form of the paper's per-cluster pruning: "remove x if
    any earlier y in its cluster is a near-duplicate" has no sequential
    dependency (it keys off lower-ID *existence*, not kept status), so
    it is one self-join per cell instead of a per-cluster Python loop.

    Scale: the pair space is per-cell quadratic but never corpus-
    quadratic — exactly the paper's trick: scale ``num_cells`` with the
    corpus so mean occupancy stays bounded (100 TB: tens of thousands of
    cells), and the self-join shuffles on the cell key with partial
    filtering at the join. Cell assignment is the scan-fused literal-
    centroid projection (zero corpus shuffles; see :func:`ivf_topk`).
    ``centroids`` defaults to the lowest-id seed vectors — fully
    SQL-replayable; pass :func:`kmeans_centroids` output (or
    :func:`kmeans_assign` with more iters) for better balance."""
    if coarse_cells is not None:
        # the 100 TB assignment path: scaling num_cells ∝ corpus makes
        # the flat O(n·cells) probe quadratic overall; the two-level
        # quantizer probes O(n·(coarse + cells/coarse)) instead. The
        # cell PARTITION differs from the flat seeding (it is a
        # different, equally valid quantizer), so this is an explicit
        # opt-in, not a silent replan.
        if centroids is not None:
            raise ValueError("coarse_cells and centroids are exclusive")
        if num_cells % coarse_cells:
            raise ValueError("coarse_cells must divide num_cells")
        assigned = two_level_cells(
            corpus,
            coarse_cells,
            num_cells // coarse_cells,
            id_col,
            vec_col,
            round_digits,
        )
    else:
        if centroids is None:
            cents = seed_centroids(corpus, num_cells, id_col, vec_col)
        else:
            cents = centroids
        cent_arr = _centroid_array(cents)
        assigned = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(
                nearest_cells(F.col(vec_col), cent_arr, 1, round_digits), 1
            )["cell"]
            .cast("long")
            .alias("cell"),
        )
    # three references below (both self-join sides + the final probe):
    # truncate so the corpus scan + cell assignment runs once, not 3×
    assigned = assigned.localCheckpoint(eager=False)
    a, b = assigned.alias("a"), assigned.alias("b")
    dup = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"b.{id_col}").alias(id_col),
            F.col(f"a.{id_col}").alias("_earlier"),
            F.round(cosine(F.col("a." + vec_col), F.col("b." + vec_col)), 6).alias(
                "_sim"
            ),
        )
        .where(F.col("_sim") >= threshold)
        .groupBy(id_col)
        .agg(F.min("_earlier").alias("dup_of"))
    )
    return assigned.join(dup, id_col, "left").select(
        F.col(id_col),
        F.col("cell"),
        F.col("dup_of").isNull().alias("kept"),
        F.col("dup_of").cast("long").alias("dup_of"),
    )


def covariance_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    center: bool = True,
) -> DataFrame:
    """Long-form d×d covariance (``i, j, cov``) of an embedding column —
    the statistic behind PCA whitening/dimension reduction (the
    standard pre-IVF/OPQ transform: route queries in a rotated space,
    Jégou et al., PAMI 2011). ``center=False`` gives the raw second
    moment E[xᵢxⱼ].

    Scale shape: ONE Arrow scan — each pandas batch hands its vectors
    to numpy, which emits the batch's d² outer-product partial sums,
    per-column sums and row count (BLAS ``XᵀX``, guide-§4.2's
    batch-to-native sweet spot; the earlier all-expression formulation
    exploded d² cells PER ROW through an interpreted nested transform
    and scanned the corpus three times for the centering means —
    measured 2.1 s vs ~0.4 s at 2 000×64). The partial relation is
    ∝ batches × d², never corpus-sized; the groupBy on (i, j) and the
    d-row mean broadcasts read the lazily checkpointed partials, so
    the corpus is scanned exactly once. Rows grouped by their own
    vector length keep the ragged-dimension semantics of the exploded
    form (a cell's mean divides by the count of rows carrying that
    cell); NULL elements contribute 0 to sums and stay in the row
    count, exactly like SUM-skips-NULL over the exploded cells, while
    NaN/±Inf DATA values propagate into the sums exactly as they did
    through the expression form (the Arrow validity buffer is what
    distinguishes a NULL element from a NaN value — a pandas pass
    cannot). The d×d result is driver-collectable by construction
    (that is the point of PCA: d ≪ corpus), which is what lets
    :func:`pca_components` run numpy eigh on it."""

    def _partials(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            lists = batch.column(0)
            keep = pc.is_valid(lists).to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(lists)  # skips NULL rows' slots
            # float64 BEFORE accumulating: the column is often
            # array<float> and the expression form summed doubles
            vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
            # NULL elements → 0 (stay in the count); NaN data stays NaN
            enull = pc.is_null(flat).to_numpy(zero_copy_only=False)
            vals[enull] = 0.0
            # null rows make the lengths column nullable (→ float with
            # NaN in numpy); mask them out first, then back to ints
            lens = (
                pc.list_value_length(lists)
                .to_numpy(zero_copy_only=False)[keep]
                .astype(np.int64)
            )
            bounds = np.cumsum(lens)[:-1] if len(lens) else np.array([])
            by_d: dict = {}
            for a in np.split(vals, bounds):
                by_d.setdefault(a.shape[0], []).append(a)
            i_out: list = []
            j_out: list = []
            s_out: list = []
            n_out: list = []
            for d0, rows in by_d.items():
                X = np.vstack(rows)
                idx = np.arange(d0)
                i_out.append(np.repeat(idx, d0))
                j_out.append(np.tile(idx, d0))
                s_out.append((X.T @ X).ravel())
                n_out.append(np.full(d0 * d0, float(len(rows))))
                # column sums for the centering means, tagged j = −1
                i_out.append(idx)
                j_out.append(np.full(d0, -1))
                s_out.append(X.sum(axis=0))
                n_out.append(np.full(d0, float(len(rows))))
            if i_out:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(i_out), type=pa.int64()),
                        pa.array(np.concatenate(j_out), type=pa.int64()),
                        pa.array(np.concatenate(s_out), type=pa.float64()),
                        pa.array(np.concatenate(n_out), type=pa.float64()),
                    ],
                    names=["i", "j", "s", "n"],
                )

    part = (
        emb.select(F.col(vec_col))
        .mapInArrow(_partials, "i long, j long, s double, n double")
        .localCheckpoint(eager=False)
    )
    cells = (
        part.where(F.col("j") >= 0)
        .groupBy("i", "j")
        .agg((F.sum("s") / F.sum("n")).alias("_m2"))
    )
    if not center:
        return cells.select("i", "j", F.col("_m2").alias("cov"))
    means = (
        part.where(F.col("j") < 0)
        .groupBy("i")
        .agg((F.sum("s") / F.sum("n")).alias("_mu"))
    )
    mi = means.select(F.col("i"), F.col("_mu").alias("_mi"))
    mj = means.select(F.col("i").alias("j"), F.col("_mu").alias("_mj"))
    return (
        cells.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i", "j", (F.col("_m2") - F.col("_mi") * F.col("_mj")).alias("cov")
        )
    )


def pca_components(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Top-``k`` principal axes of the embedding distribution: collects
    the d×d covariance (tiny by construction) and runs ``numpy.linalg.
    eigh`` on the driver — the one deliberate driver-side step of the
    PCA pipeline, on d² numbers, not data. Components are returned
    eigenvalue-descending with a deterministic sign convention (the
    largest-|coordinate| entry of each axis is made positive, first
    index winning ties), so repeated runs and different BLAS builds
    agree. Returns a plain ``k × d`` list-of-lists ready to broadcast
    as a literal into :func:`pca_project`."""
    import numpy as np

    rows = covariance_matrix(emb, vec_col).collect()
    d = max(r["i"] for r in rows) + 1
    if not 1 <= k <= d:
        raise ValueError(
            f"k={k} out of range: a d={d} covariance has at most d "
            "principal axes (negative column wrap-around would silently "
            "duplicate components)"
        )
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = []
    for idx in range(d - 1, d - 1 - k, -1):
        axis = vecs[:, idx]
        pivot = int(np.argmax(np.abs(axis)))
        if axis[pivot] < 0:
            axis = -axis
        comps.append([float(x) for x in axis])
    return comps


def pca_project(
    emb: DataFrame,
    components: "list[list[float]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "projected",
) -> DataFrame:
    """Project embeddings onto fixed principal axes: ``(id, projected)``
    with ``projected[c] = ⟨vec, component_c⟩``. The components enter the
    plan as a literal array (the :func:`ivf_topk` scan-fused-centroids
    pattern), so this is a zero-shuffle projection — one corpus scan,
    JVM-side dot products, no Python and no join. Compose upstream of
    :func:`ivf_topk`/:func:`lsh_topk` to search in the reduced space."""
    lit_comps = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in axis])
            for axis in components
        ]
    )
    return emb.select(
        F.col(id_col),
        F.transform(
            lit_comps, lambda axis: _dot(axis, F.col(vec_col))
        ).alias(out_col),
    )
