"""Distributed BPE tokenizer training — train a byte-pair-encoding
vocabulary ON the corpus (Sennrich et al. 2016), the step between
corpus curation and model training that the rest of this package's
token counting (``text.bpe_token_count``) only approximates.

Scale shape — the part that matters at 100 TB: ONE corpus scan builds
the word-frequency relation (``groupBy word``, |vocabulary| rows, the
classical reduction: BPE statistics only depend on word→count, never
on the corpus again). Every merge round then runs on that |V|-row
relation: one explode+groupBy for pair counts (rows ∝ distinct
symbol pairs), a deterministic 1-row argmax to the driver (the merge
decision IS driver state — it's the algorithm's sequential core), and
one ``aggregate``-fold projection that applies the merge inside each
word's symbol array. ``fresh_checkpoint`` truncates the loop lineage
per round (the package's standard loop hygiene). Cost after the first
scan is independent of corpus size.

Applying a trained vocabulary (``bpe_encode``) is inherently
per-word-sequential, so it is the documented Arrow-batched
``mapInPandas`` exception: the merge list broadcasts via the closure,
and a per-batch word cache makes the common case one dict lookup.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import fresh_checkpoint, fresh_checkpoint_count
from .hashing import normalize_text

#: end-of-word marker (Sennrich's convention) — keeps merges from
#: crossing word boundaries and lets decoding recover spacing
EOW = "▁"

#: largest vocabulary (distinct words) whose merge loop runs on the
#: driver; above it :func:`train_bpe` runs the distributed loop
DRIVER_VOCAB_LIMIT = 500_000


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """The one corpus scan: normalized whitespace words → (word, freq).
    Everything after runs on this |V|-row relation."""
    return (
        df.select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _symbolize(words: DataFrame) -> DataFrame:
    """word → initial symbol array: characters plus the end-of-word
    marker appended to the last character."""
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    syms = F.concat(
        F.slice(chars, 1, F.greatest(n - 1, F.lit(0))),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )
    return words.select(F.col("word"), F.col("freq"), syms.alias("syms"))


def _pair_counts(sym_words: DataFrame) -> DataFrame:
    """(a, b, count) over adjacent symbol pairs, frequency-weighted.
    NOTE the count is per occurrence position (a word with 'aaa' and
    pair (a,a) contributes 2) — matching the reference algorithm's
    statistics before its left-to-right non-overlapping merge."""
    s = F.col("syms")
    n1 = F.greatest(F.size(s) - 1, F.lit(0))
    pairs = F.slice(
        F.zip_with(
            s,
            F.slice(s, 2, n1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        1,
        n1,
    )
    return (
        sym_words.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").cast("long").alias("count"))
    )


def _apply_merge(sym_words: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every left-to-right non-overlapping adjacent (a, b) with
    the merged symbol — one aggregate-fold projection, no UDF. The
    fold appends each symbol unless the accumulator's tail is exactly
    ``a`` and the incoming symbol is ``b`` (tail replaced by ``a+b``);
    because a merged tail is never equal to ``a`` again, overlaps
    resolve left-to-right exactly like the reference implementation."""
    merged = F.lit(a + b)
    new_syms = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return sym_words.select(
        "word", "freq", new_syms.alias("syms")
    )


def train_bpe(
    df: DataFrame,
    num_merges: int = 200,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list ``[(a, b), ...]`` — the tokenizer artifact
    (apply with :func:`bpe_encode`; persist as the caller likes, it is
    plain data). Ties in pair counts break lexicographically, so the
    result is deterministic and partitioning-invariant. Stops early
    when no pair reaches ``min_pair_count`` (merging hapax pairs only
    memorizes the corpus).

    Execution: ONE corpus scan reduces to the word-frequency relation
    (BPE statistics depend only on word → count); it is checkpointed
    and COUNTED in the same job, so nothing is collected before the
    vocabulary size is known and the over-limit fallback reuses the
    materialized relation instead of re-scanning the corpus. When the
    vocabulary has at most :data:`DRIVER_VOCAB_LIMIT` rows, the merge loop
    runs DRIVER-SIDE on the collected table (Sennrich's own
    formulation: the sequential argmax core is driver state either
    way, and the per-round pair statistics are vocabulary-sized, not
    corpus-sized) — paying two small Spark jobs total instead of two
    jobs per merge. The driver loop is the indexed incremental variant
    (only words containing the merged pair are recounted; a lazy
    max-heap holds the candidate pairs), bit-identical to the
    distributed loop including overlap counting and the lexicographic
    tie-break (``tests/test_bpe.py`` asserts the parity). A vocabulary
    above the limit runs the distributed per-merge loop, which never
    collects more than one row per round — the limit bounds the
    driver's working set (vocab rows plus the pair-count / occurrence
    indexes, roughly a few hundred bytes per word)."""
    wf, n_vocab, _ = fresh_checkpoint_count(_word_freq(df, text_col))
    if n_vocab <= DRIVER_VOCAB_LIMIT:
        vocab = [(r["word"], r["freq"]) for r in wf.collect()]
        return _train_bpe_driver(vocab, num_merges, min_pair_count)
    return _train_bpe_distributed(wf, num_merges, min_pair_count)


def _train_bpe_driver(
    vocab: "list[tuple[str, int]]", num_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """The merge loop on a collected (word, freq) table. Semantics are
    exactly the distributed loop's: pair counts are per occurrence
    position (``aaa`` contributes (a,a) twice), the argmax tie-break is
    (count DESC, a ASC, b ASC) — Python's code-point string order and
    Spark's UTF-8 binary order agree because UTF-8 preserves code-point
    order — and merges apply left-to-right non-overlapping."""
    import heapq

    words: list[list] = [
        [list(w[:-1]) + [w[-1] + EOW], f] for w, f in vocab if w
    ]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, f) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(idx)
    heap = [(-c, p) for p, c in counts.items() if c >= min_pair_count]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        # lazy-invalidation pop: re-push entries whose count moved
        while heap:
            nc, p = heap[0]
            c = counts.get(p, 0)
            if c == -nc:
                break
            heapq.heappop(heap)
            if c >= min_pair_count:
                heapq.heappush(heap, (-c, p))
        if not heap or -heap[0][0] < min_pair_count:
            break
        a, b = heap[0][1]
        merges.append((a, b))
        merged = a + b
        touched: set[tuple[str, str]] = set()
        for idx in where.pop((a, b), set()):
            syms, f = words[idx]
            # remove the word's old pair contributions (stale index
            # entries — words merged past the pair — net to zero here)
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] -= f
                touched.add(p)
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            words[idx][0] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                counts[p] = counts.get(p, 0) + f
                where.setdefault(p, set()).add(idx)
                touched.add(p)
        for p in touched:
            c = counts.get(p, 0)
            if c >= min_pair_count:
                heapq.heappush(heap, (-c, p))
    return merges


def _train_bpe_distributed(
    word_freq: DataFrame, num_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """The per-merge distributed loop — the over-limit fallback: each
    round is one pair-count argmax (a 1-row collect) and one
    aggregate-fold merge projection over the |V|-row symbol relation.
    Takes the materialized word-frequency relation, not the corpus."""
    import gc

    sym = fresh_checkpoint(_symbolize(word_freq))
    merges: list[tuple[str, str]] = []
    for rnd in range(num_merges):
        best = (
            _pair_counts(sym)
            .orderBy(F.col("count").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["count"] < min_pair_count:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        sym = fresh_checkpoint(_apply_merge(sym, a, b))
        # the superseded round's state is unreferenced now; the periodic
        # collect drops its py4j handle so ContextCleaner frees its
        # localCheckpoint blocks instead of accumulating num_merges
        # copies of the |V|-row relation in the block manager
        # (unpersist() on a checkpointed frame frees nothing)
        if (rnd + 1) % 20 == 0:
            gc.collect()
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with a trained merge list: returns
    ``(id, n_tokens, tokens array<string>)`` per document (NULL
    tokens/0 count for NULL text — the undecodable contract). The
    merge list rides the closure (it is ≤ vocab-size small); a
    per-batch word→tokens cache collapses the Zipfian common case to
    one dict hit."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word[:-1]) + [word[-1] + EOW] if word else []
        while len(syms) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    import re

    norm_re = re.compile(r"[^a-z0-9\s]")
    ws_re = re.compile(r"\s+")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per BATCH, as documented: a per-task cache would grow by
            # every distinct word the task ever sees (unbounded on web
            # text); per-batch keeps memory ∝ one Arrow batch's vocab
            cache: dict = {}
            out = []
            for did, text in zip(
                pdf["_id"].to_numpy(), pdf["_text"].to_numpy()
            ):
                if text is None:
                    out.append([did, 0, None])
                    continue
                # the same normalization as the training scan
                t = ws_re.sub(" ", norm_re.sub(" ", str(text).lower()))
                toks: list = []
                for w in t.strip().split(" "):
                    if w:
                        toks.extend(encode_word(w, cache))
                out.append([did, len(toks), toks])
            yield pd.DataFrame(
                out, columns=["_id", "n_tokens", "tokens"]
            )

    src = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    return src.mapInPandas(
        run, schema="_id long, n_tokens long, tokens array<string>"
    ).withColumnRenamed("_id", id_col)
