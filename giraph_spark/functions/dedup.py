"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All are expression-only (no Python UDFs): shingling via ``sequence`` +
``transform`` + ``substring``, hashing via ``xxhash64``/``md5``. Scale
notes per operator are in each docstring; the common theme is that the
only shuffles are the groupBys on hash keys, and candidate generation
never goes quadratic — banding (LSH) or prefix grouping bounds the
pair space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import normalize_text, portable_hash60

__all__ = [
    "portable_hash60",
    "normalize_text",
    "exact_duplicates",
    "shingle_df",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "near_dup_clusters",
    "dedup_corpus",
    "simhash",
    "simhash_near_pairs",
    "fuzzy_decontaminate",
    "incremental_dedup",
]


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by md5 of normalized text: one hash-groupBy shuffle.
    Returns ``(hash, n_docs, keep_id, doc_ids)`` for every group with > 1
    member; ``keep_id`` = min id (deterministic survivor)."""
    h = df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("hash")
    )
    return (
        h.groupBy("hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def shingle_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """``(id, shingle)`` exploded distinct character-k-gram relation."""
    norm = normalize_text(F.col(text_col))
    with_norm = df.select(F.col(id_col), norm.alias("_n"))
    grams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(_n) - {k} + 1, 1)), "
        f"i -> substring(_n, i, {k})))"
    )
    return with_norm.select(
        F.col(id_col), F.explode(grams).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs ``(id_a, id_b, jaccard)``
    with ``id_a < id_b`` and jaccard ≥ threshold.

    Brute-force-correct formulation: explode shingles, self-join on
    shingle, count intersections, compute |A∪B| = |A|+|B|−|A∩B|. The
    shingle join is the scale hazard (hot shingles fan out quadratically);
    at 100 TB this operator is the *oracle* for MinHash-LSH, run on samples
    — the LSH variant below is the scale path. Common-shingle skew is
    bounded by dropping shingles shared by more than ``max_df`` documents
    (stop-shingles carry no discriminative signal). Set sizes are computed
    over the SAME filtered universe as the intersections, so the Jaccard
    value is exact within the stop-shingle-reduced shingle space (numerator
    and denominator agree — an unfiltered denominator would bias scores low
    for documents containing hot shingles)."""
    sh = shingle_df(df, text_col, id_col, k).persist()
    # stop-shingle removal: bounded fan-out
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    sh_f = sh.join(freq.where(F.col("df_") <= max_df), on="shingle", how="left_semi")
    sizes = sh_f.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("sz"))
    a = sh_f.alias("a")
    b = sh_f.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    portable: bool = False,
) -> DataFrame:
    """``(id, sig array<bigint>)`` MinHash signatures: for each of
    ``num_hashes`` seeded hash functions, the min hash over the
    document's shingle set. One explode + one groupBy — the per-seed mins
    are computed as ``min_by``-free aggregate expressions over the
    exploded relation (map-side partial aggregation keeps the shuffle
    small: num_hashes longs per doc). ``portable=True`` swaps xxhash64
    for :func:`portable_hash60` so a SQL oracle can replicate the exact
    signatures."""
    if not portable:
        # xxhash64 mode (the production default): a document's
        # signature depends only on its own shingle set, so the
        # corpus-wide explode (Generate) + 64-min hash-aggregate
        # exchange collapse into ONE Arrow batch pass (guide §4.2, the
        # r13 DSIR pattern). Hashing is bit-exact with the expression
        # form: functions/nphash.py replicates Spark's
        # ``xxhash64(shingle, lit(seed))`` fold (string at seed 42,
        # then hashInt of the int literal), each distinct shingle per
        # batch hashed once, vectorized by length group; the per-seed
        # family is one ``xxh64_int32`` vector op per seed.
        # Precondition (same contract as the portable explode form's
        # groupBy, stated because the row-local pass cannot merge):
        # ``id_col`` identifies one document per row — duplicate-id
        # rows would have had their shingle sets unioned by the old
        # groupBy and now sign independently.
        return _minhash_signatures_arrow(df, text_col, id_col, k, num_hashes)
    sh = shingle_df(df, text_col, id_col, k)
    hfn = lambda seed: portable_hash60(F.col("shingle"), seed)  # noqa: E731
    aggs = [F.min(hfn(seed)).alias(f"h{seed}") for seed in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("sig"),
    )


def _minhash_signatures_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int, num_hashes: int
) -> DataFrame:
    """xxhash64 MinHash signatures in one ``mapInArrow`` pass — see
    :func:`minhash_signatures`. Normalization stays in Spark (regex /
    case semantics unchanged); the batch kernel only slices k-grams
    (codepoint slicing ≡ ``substring``) and hashes them. A NULL text
    row keeps the expression form's degenerate signature: ``greatest``
    ignores the NULL length so ONE NULL shingle survives the explode,
    and ``xxhash64(NULL, lit(s))`` skips the NULL operand — each seed
    hashes the int literal with the running hash still at Spark's
    seed 42."""
    import pyarrow as pa

    in_df = df.select(
        F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_n")
    )
    out_type = in_df.schema["_id"].dataType.simpleString()

    def batches(it):
        import numpy as np

        from .nphash import xxh64_bytes, xxh64_int32

        from .nphash import SPARK_SEED

        for rb in it:
            if rb.num_rows == 0:
                continue
            texts = rb.column(1).to_pylist()
            doc_grams: list[list[int]] = []
            gram_ix: dict[str | None, int] = {}
            for t in texts:
                if t is None:
                    doc_grams.append([gram_ix.setdefault(None, len(gram_ix))])
                    continue
                hi = max(len(t) - k + 1, 1)
                gs = {t[j : j + k] for j in range(hi)}
                doc_grams.append(
                    [gram_ix.setdefault(g, len(gram_ix)) for g in gs]
                )
            grams = list(gram_ix)
            bases = xxh64_bytes(
                [(g if g is not None else "").encode("utf-8") for g in grams]
            )  # Spark seed 42, one hash per distinct shingle
            for i, g in enumerate(grams):
                if g is None:  # NULL operand skipped: running hash = seed
                    bases[i] = SPARK_SEED
            # (num_hashes, n_grams): fold each int seed literal in
            hmat = np.stack(
                [xxh64_int32(s, bases) for s in range(num_hashes)]
            )
            sigs = [
                hmat[:, np.asarray(ix, dtype=np.int64)].min(axis=1)
                for ix in doc_grams
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    pa.array(
                        [s.tolist() for s in sigs],
                        type=pa.list_(pa.int64()),
                    ),
                ],
                names=["_id", "sig"],
            )

    return in_df.mapInArrow(
        batches, schema=f"_id {out_type}, sig array<bigint>"
    ).select(F.col("_id").alias(id_col), "sig")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.5,
    portable: bool = False,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs ``(id_a, id_b,
    est_jaccard)``.

    Pipeline: signatures → band (rows = num_hashes/bands) → hash each band
    → groupBy band-hash buckets → pairs within buckets (deduped) →
    estimated Jaccard = fraction of matching signature positions;
    optionally filtered at ``verify_threshold``.

    Scale: never quadratic in the corpus — only within buckets; a
    pathological bucket (e.g. empty docs) is capped via ``max_bucket``.
    This is the 100 TB dedup path (the exact Jaccard operator is its
    correctness oracle at sample scale). ``portable=True`` uses
    md5-derived shingle hashes and the raw concatenated band string as the
    bucket key, so a SQL oracle replays the identical candidate set."""
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, k, num_hashes, portable=portable
    ).persist()

    def band_bucket(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[F.col("sig").getItem(b * rows + r).cast("string") for r in range(rows)],
        )
        # portable mode groups on the raw string (slightly wider shuffle
        # key, engine-neutral); default hashes it down to one long
        return joined if portable else F.xxhash64(joined).cast("string")

    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_bucket(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # max_bucket caps pathological buckets (all-identical shingle sets)
    bucket_sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bs")
    )
    banded = banded.join(
        bucket_sizes.where(F.col("bs") <= max_bucket), on=["band", "bucket"], how="left_semi"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(len(range(num_hashes)))),
                6,
            ).alias("est_jaccard"),
        )
    )
    if verify_threshold is not None:
        est = est.where(F.col("est_jaccard") >= verify_threshold)
    return est


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.5,
    portable: bool = False,
    max_supersteps: int = 64,
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH pair generation piped into the
    engine's own WCC kernel — the standard production dedup shape (pairs
    alone under-merge: doc A~B and B~C must collapse into one group even
    when A~C was never a candidate). Returns ``(doc_id, cluster,
    is_keeper)`` for every document that belongs to some near-dup group;
    ``cluster`` = min doc id in the group (the deterministic survivor,
    ``is_keeper`` marks it).

    Scale shape: the pair relation is tiny relative to the corpus (only
    near-dups), so the component step runs on the pair-membership subgraph
    — corpus-size-independent; the LSH stage is the banded hash-join path
    of :func:`minhash_lsh_pairs`."""
    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        k,
        num_hashes,
        bands,
        verify_threshold,
        portable=portable,
    )
    return pairs_to_clusters(
        pairs, id_col=id_col, max_supersteps=max_supersteps
    )


def pairs_to_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    max_supersteps: int = 64,
) -> DataFrame:
    """ANY near-duplicate pair relation → clusters + survivors: the
    transitive-closure half of :func:`near_dup_clusters`, decoupled
    from the pair source so every pair generator in the package —
    :func:`minhash_lsh_pairs`, :func:`simhash_near_pairs`,
    ``similarity.embedding_near_duplicates``,
    ``imagehash.dhash_near_duplicates``,
    ``audiohash.audio_near_duplicates`` — feeds the same keeper
    decision. Returns ``(doc_id, cluster, is_keeper)`` for every id
    that appears in some pair; ``cluster`` = min id of the connected
    group (deterministic survivor).

    Scale shape: pair relations are tiny relative to the corpus (only
    near-dups survive the generators), so the WCC step runs on the
    pair-membership subgraph — corpus-size-independent. The pair count
    rides the materialization action and sizes the kernel's shuffle
    width directly (``num_partitions``), so the kernel skips its
    auto-partition edge-count job; the graph is symmetrized HERE (the
    same union + dropDuplicates ``wcc``'s prepare step would run) so
    the member vertex set is derived from the symmetric relation's
    src column alone — symmetry makes the src set the full endpoint
    set — instead of a second union-both-endpoints aggregation over
    the raw pairs."""
    from ..algos.components import connected_components
    from ..graph import Graph
    from ..plans.checkpoint import fresh_checkpoint_count
    from ..plans.gear import fit_width

    # materialize the (tiny) pair relation once: the derivations below
    # would otherwise re-run the generator's banded self-join + compare
    # stage per reference — measured ~2x the whole LSH stage per
    # near_dup_clusters call at sf0.1
    pairs, n_pairs, _ = fresh_checkpoint_count(pairs)
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).dropDuplicates(["src", "dst"])
    sym.persist()  # the kernel's edge cache + members read it once each
    nparts = fit_width(
        2 * n_pairs,
        int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    try:
        members = sym.select(F.col("src").alias("id")).distinct()
        comp = connected_components(
            Graph(members, sym),
            max_supersteps=max_supersteps,
            num_partitions=nparts,
        )
    finally:
        sym.unpersist()
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    near: bool = True,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.5,
    portable: bool = False,
    max_supersteps: int = 64,
    keep_scores: DataFrame | None = None,
) -> DataFrame:
    """The deduplicated corpus — the relation a training-data pipeline
    actually materializes: drop every exact duplicate except the
    survivor, then, with ``near=True``, drop every near-duplicate
    cluster member except its keeper (:func:`near_dup_clusters` over
    the exact-deduped corpus, the standard staging order). Returns the
    surviving rows of ``df`` with all original columns.

    ``keep_scores`` (an ``(id, score)`` relation, e.g. a quality score
    or document length) switches keeper selection from lowest-id to
    HIGHEST-SCORE (ties → lowest id) in both stages — the "keep the
    best/longest duplicate" policy real curation pipelines use, rather
    than an arbitrary id winner. Default stays lowest-id (fully
    portable and cheapest).

    Scale shape: the exact stage is one hash groupBy + an id-keyed
    anti-join (no window over the corpus); the near stage inherits the
    LSH-banded, never-quadratic pair generation and runs WCC only on the
    tiny pair subgraph. Both removal lists are small relative to the
    corpus, so at cluster scale the anti-joins broadcast; the score
    join adds one broadcast-sized argmax per duplicate group, never a
    corpus window."""
    h = df.select(
        F.col(id_col).alias("_id"),
        F.md5(normalize_text(F.col(text_col))).alias("_h"),
    )
    sc = (
        keep_scores.select(
            F.col(id_col).alias("_id"), F.col("score").alias("_score")
        )
        if keep_scores is not None
        else None
    )

    def with_scores(rel: DataFrame) -> DataFrame:
        """LEFT join + -inf default: a doc missing from keep_scores must
        still participate in dedup (an inner join would silently exempt
        its whole group) — it just never beats a scored doc, and an
        all-missing group falls back to the lowest-id keeper."""
        return rel.join(sc, "_id", "left").withColumn(
            "_score", F.coalesce(F.col("_score"), F.lit(float("-inf")))
        )

    def best(group_col: str, rel: DataFrame) -> DataFrame:
        """keeper per group = argmax(score), ties -> min id (struct max
        over (score, -id))."""
        return rel.groupBy(group_col).agg(
            F.max(
                F.struct(
                    F.col("_score").alias("s"), (-F.col("_id")).alias("ni")
                )
            ).alias("_b"),
            F.count(F.lit(1)).alias("_n"),
        ).select(
            group_col, (-F.col("_b.ni")).alias("_keep"), "_n"
        )

    # only DUPLICATE groups participate in the removal join: `dups` has
    # one row per hash with >1 member — tiny relative to the corpus (the
    # clean-data common case), so at scale both this join and the final
    # anti-join broadcast instead of shuffling the full corpus
    if sc is not None:
        dups = best("_h", with_scores(h)).where(F.col("_n") > 1)
    else:
        dups = (
            h.groupBy("_h")
            .agg(F.min("_id").alias("_keep"), F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
        )
    losers = (
        h.join(dups, "_h")
        .where(F.col("_id") != F.col("_keep"))
        .select(F.col("_id").alias(id_col))
    )
    out = df.join(losers, id_col, "left_anti")
    if near:
        clusters = near_dup_clusters(
            out,
            text_col,
            id_col,
            k,
            num_hashes,
            bands,
            verify_threshold,
            portable=portable,
            max_supersteps=max_supersteps,
        )
        if sc is not None:
            mem = with_scores(
                clusters.select(F.col(id_col).alias("_id"), "cluster")
            )
            keepers = best("cluster", mem)
            near_losers = (
                mem.join(keepers, "cluster")
                .where(F.col("_id") != F.col("_keep"))
                .select(F.col("_id").alias(id_col))
            )
        else:
            near_losers = clusters.where(~F.col("is_keeper")).select(id_col)
        out = out.join(near_losers, id_col, "left_anti")
    return out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """``(id, simhash BIGINT)`` — ``bits``-bit SimHash over shingle hashes:
    for each bit, sum ±1 across shingles and take the sign. Expression-only:
    explode → per-bit aggregate sums → reassemble bits. ``portable=True``
    uses the 60-bit md5-derived shingle hash (so pass ``bits=60``) and a
    SQL oracle can replicate the exact fingerprints."""
    sh = shingle_df(df, text_col, id_col, k)
    hv = portable_hash60(F.col("shingle")) if portable else F.xxhash64("shingle")
    h = sh.select(F.col(id_col), hv.alias("hv"))
    # bit 63's mask is the sign bit: same bit pattern as -(2^63) in two's
    # complement (2^63 itself overflows a BIGINT literal)
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    bit_aggs = [
        F.sum(
            F.when(F.col("hv").bitwiseAND(F.lit(masks[b])) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*bit_aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when(F.col(f"b{b}") > 0, F.lit(1 << b if b < 63 else -(1 << 63))).otherwise(0)
    return agg.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_hamming: int = 3,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``,
    blocked on ``bits/4``-bit chunks (pigeonhole: distance ≤ 3 ⇒ at least
    one of 4 chunks equal — lossless, so the output is EXACTLY the
    all-pairs ≤ max_hamming set) so candidate generation is a hash join,
    not a cross join. ``portable=True`` (with ``bits=60``) makes the
    fingerprints md5-derived and SQL-oracle-replicable."""
    if portable and bits > 60:
        bits = 60
    chunk_bits = bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    s = simhash(df, text_col, id_col, k, bits=bits, portable=portable).persist()
    chunks = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("ck"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(
        id_col, "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def fuzzy_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
    max_bucket: int = 200,
) -> DataFrame:
    """NEAR-duplicate benchmark contamination — the fuzzy tier above
    :func:`giraph_spark.functions.sampling.decontaminate`'s exact
    n-gram overlap: corpus documents whose MinHash signature collides
    with a benchmark document in some LSH band and whose estimated
    Jaccard clears ``threshold`` (catching lightly-paraphrased /
    reformatted benchmark leakage that exact n-grams miss; the
    standard companion check in public pretraining-data reports).
    Returns ``(doc_id, bench_id, est_jaccard)``.

    Scale shape: candidate generation is a band-bucket equi-join
    BETWEEN the corpus and benchmark relations — never corpus ×
    corpus, and the benchmark side is eval-set-sized; both sides'
    pathological buckets are capped at ``max_bucket``. Signatures use
    the same seeded hash family on both sides (a signature computed
    over corpus shingles and one over benchmark shingles are
    comparable by construction). ``portable=True`` = md5 hashing +
    raw band strings for exact SQL-oracle replay, as with
    :func:`minhash_lsh_pairs`."""
    rows = num_hashes // bands
    sig_c = minhash_signatures(
        df, text_col, id_col, k, num_hashes, portable=portable
    ).persist()
    sig_b = minhash_signatures(
        benchmark, text_col, bench_id_col, k, num_hashes, portable=portable
    ).persist()

    def band_bucket(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[F.col("sig").getItem(b * rows + r).cast("string") for r in range(rows)],
        )
        return joined if portable else F.xxhash64(joined).cast("string")

    def banded(sig: DataFrame, out_id: str) -> DataFrame:
        bb = sig.select(
            F.col(out_id),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), band_bucket(b).alias("bucket")
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(out_id, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        sizes = bb.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bs"))
        return bb.join(
            sizes.where(F.col("bs") <= max_bucket),
            on=["band", "bucket"],
            how="left_semi",
        )
    cand = (
        banded(sig_c, id_col)
        .join(banded(sig_b, bench_id_col), ["band", "bucket"])
        .select(id_col, bench_id_col)
        .dropDuplicates()
    )
    est = (
        cand.join(sig_c.select(F.col(id_col), F.col("sig").alias("sig_a")), id_col)
        .join(
            sig_b.select(F.col(bench_id_col), F.col("sig").alias("sig_b")),
            bench_id_col,
        )
        .select(
            id_col,
            bench_id_col,
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(num_hashes)),
                6,
            ).alias("est_jaccard"),
        )
    )
    return est.where(F.col("est_jaccard") >= threshold)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_id_col: str | None = None,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
    max_bucket: int = 200,
) -> DataFrame:
    """Disposition of a NEW batch against an EXISTING corpus — the
    daily-increment shape every production pipeline runs (today's crawl
    vs the historical index): one row per new document, ``(id, status,
    dup_of)`` with ``status ∈ {'exact_dup', 'near_dup', 'new'}`` and
    ``dup_of`` = the lowest matching corpus id (exact match wins over
    near).

    Scale shape: the exact tier is an md5-hash equi-join (corpus side
    is one hash per document — the persisted dedup index of a real
    deployment); the near tier is :func:`fuzzy_decontaminate`'s
    CROSS-relation banded LSH — new × corpus only, never new × new
    (run :func:`dedup_corpus` WITHIN the batch first when intra-batch
    duplicates matter) — with both sides' pathological buckets capped.
    Nothing quadratic, nothing collected."""
    cid = corpus_id_col or id_col
    corpus2 = corpus.select(
        F.col(cid).alias("_corpus_id"), F.col(text_col)
    )
    hn = new_docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("_h")
    )
    hc = corpus2.select(
        F.col("_corpus_id"), F.md5(normalize_text(F.col(text_col))).alias("_h")
    )
    exact = hn.join(hc, "_h").groupBy(id_col).agg(
        F.min("_corpus_id").alias("_exact_of")
    )
    near = fuzzy_decontaminate(
        new_docs,
        corpus2,
        text_col,
        id_col,
        bench_id_col="_corpus_id",
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        portable=portable,
        max_bucket=max_bucket,
    ).groupBy(id_col).agg(F.min("_corpus_id").alias("_near_of"))
    return (
        new_docs.select(F.col(id_col))
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce(F.col("_exact_of"), F.col("_near_of"))
            .cast("long")
            .alias("dup_of"),
        )
    )
