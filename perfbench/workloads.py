"""The four workloads: inputs generated with NumPy from the seed and
written as parquet, the package calls one pass makes, and the check of
every call's output against ``reference``.

A workload exposes:

- ``generate(seed)`` -> dict of NumPy arrays (same seed, same arrays);
- ``write(data, root)``: the arrays as parquet under ``root``;
- ``load(spark, root)`` -> handle: the program's view of the inputs, a
  ``Graph``, a DataFrame or a tuple of them, which ``persist`` caches;
- ``run_pass(ctx)``: every call of a pass, through ``ctx.run`` so that
  it is timed and, in traced passes, tagged; results go to ``ctx.out``;
- ``expected(data)`` -> what ``check`` compares with;
- ``check(name, values, expected)`` -> a problem string, or None;
  ``values`` maps each call of the pass to its result.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import reference as ref

#: every input table is written as this many parquet files, so the scan
#: is split the same way on any box
FILES_PER_TABLE = 4


@dataclass
class PassOutput:
    #: call name -> value handed to ``check`` (None when the call raised)
    values: dict = field(default_factory=dict)
    #: call name -> the exception it raised
    errors: dict = field(default_factory=dict)
    #: call name -> PregelMetrics of the pregel run behind it
    pregel: dict = field(default_factory=dict)
    #: call name -> rounds of its driver-side loop
    rounds: dict = field(default_factory=dict)
    #: call name -> rows the call returned or wrote
    rows: dict = field(default_factory=dict)
    #: output directory -> bytes a writer call put there
    write_bytes: dict = field(default_factory=dict)
    #: work to do once the pass's timed region has ended
    later: list = field(default_factory=list)


@dataclass
class PassContext:
    rec: object
    handle: object
    out_dir: str
    out: PassOutput = field(default_factory=PassOutput)

    def run(self, name: str, fn, *args, **kwargs):
        """One call; a raising call is recorded, not propagated."""
        try:
            value = self.rec.call(name, fn, *args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.out.errors[name] = exc
            return None
        return value

    def keep(self, name: str, table: pa.Table | None) -> None:
        if table is not None:
            self.out.values[name] = table
            self.out.rows[name] = table.num_rows


def _write_table(columns: dict, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )


def _load_graph(spark, root: str):
    from giraph_spark.sources import load_graph

    return load_graph(spark, root)


def _frames(handle) -> list:
    if isinstance(handle, tuple):
        return [f for h in handle for f in _frames(h)]
    if hasattr(handle, "edges"):
        return [handle.vertices, handle.edges]
    return [handle]


def persist(handle) -> None:
    """Cache and materialise every input DataFrame of a handle."""
    for f in _frames(handle):
        f.persist()
        f.count()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _col(table: pa.Table, name: str) -> np.ndarray:
    return table.column(name).to_numpy()


def _by_id(table: pa.Table, id_name: str, value_name: str, n: int, fill):
    ids = _col(table, id_name)
    vals = table.column(value_name).to_numpy(zero_copy_only=False)
    out = np.full(n, fill, dtype=vals.dtype if len(vals) else float)
    if len(ids) != n or len(np.unique(ids)) != n or ids.min() != 0 or ids.max() != n - 1:
        return None
    out[ids] = vals
    return out


def _read_id_values(path: str, cast):
    """Lines ``id<TAB>value`` written by ``sources.writers``."""
    ids, vals = [], []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            for line in f:
                a, b = line.rstrip("\n").split("\t")
                ids.append(int(a))
                vals.append(cast(b))
    return pa.table({"id": ids, "value": vals})


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*"))
    )


def _write_ids(ctx: PassContext, name: str, df, column: str, path: str, cast) -> None:
    """Write ``(id, column)`` through ``sources.writers`` as call
    ``sources.write_id_with_value``; once the timed region has ended the
    lines are read back as the result of call ``name``."""
    from giraph_spark.sources import write_id_with_value

    writer = "sources.write_id_with_value"
    ctx.run(writer, write_id_with_value, df, path, value_col=column)
    if writer in ctx.out.errors:
        ctx.out.errors.setdefault(name, ctx.out.errors.pop(writer))
        return

    def read_back():
        ctx.out.write_bytes[path] = _dir_bytes(path)
        ctx.keep(name, _read_id_values(path, cast))

    ctx.out.later.append(read_back)


class PagerankPowerlaw:
    """10-iteration PageRank, unweighted then weighted, over a directed
    graph whose in-degrees follow a power law with Zipf hubs."""

    name = "pagerank-powerlaw"
    SIZES = {"full": {"n": 20_000, "m": 100_000}, "tiny": {"n": 300, "m": 2_000}}
    OPS = ("algos.pagerank", "algos.pagerank_weighted")
    ITERATIONS = 10

    def __init__(self, size: str):
        self.n, self.m = self.SIZES[size]["n"], self.SIZES[size]["m"]

    def generate(self, seed: int) -> dict:
        rng = _rng(seed, 1)
        n, m = self.n, self.m
        # in-degree share of the vertex of popularity rank r ~ r^-0.8;
        # the permutation scatters the hubs over the id space
        p = np.arange(1, n + 1, dtype=float) ** -0.8
        hubs = rng.permutation(n)[rng.choice(n, size=m, p=p / p.sum())]
        return {
            "n": n,
            "src": rng.integers(0, n, size=m, dtype=np.int64),
            "dst": hubs.astype(np.int64),
            "weight": rng.uniform(0.1, 1.0, size=m),
        }

    def write(self, data: dict, root: str) -> None:
        _write_table({"id": np.arange(data["n"], dtype=np.int64)},
                     os.path.join(root, "vertices"))
        _write_table({k: data[k] for k in ("src", "dst", "weight")},
                     os.path.join(root, "edges"))

    load = staticmethod(_load_graph)

    def run_pass(self, ctx: PassContext) -> None:
        from giraph_spark import PregelMetrics, algos

        for name, weighted in (("algos.pagerank", False),
                               ("algos.pagerank_weighted", True)):
            pm = PregelMetrics()
            ctx.keep(name, ctx.run(
                name,
                lambda: algos.pagerank(
                    ctx.handle, iterations=self.ITERATIONS, weighted=weighted,
                    metrics=pm,
                ).select("id", "rank").toArrow(),
            ))
            ctx.out.pregel[name] = pm

    def expected(self, data: dict) -> dict:
        args = (data["n"], data["src"], data["dst"])
        return {
            "algos.pagerank": ref.pagerank(*args, iterations=self.ITERATIONS),
            "algos.pagerank_weighted": ref.pagerank(
                *args, data["weight"], iterations=self.ITERATIONS
            ),
        }

    def check(self, name, values, expected):
        want = expected[name]
        got = _by_id(values[name], "id", "rank", len(want), np.nan)
        if got is None:
            return "result ids differ from the vertex set"
        if not np.allclose(got, want, rtol=1e-9, atol=1e-15):
            i = int(np.argmax(np.abs(got - want)))
            return f"rank of {i}: got {got[i]!r}, want {want[i]!r}"
        return None


class TraversalLongtail:
    """SSSP, BFS and WCC from vertex 0 down a long thin tail into a
    layered small-world core: most supersteps walk the tail and carry a
    handful of messages, so the fixed cost of a superstep dominates.

    Only the details are random. Edges join consecutive levels or the
    same level, so every vertex's hop distance from vertex 0 is its
    level; weights lie in [1, 1 + 1/(2 * depth)), so a lightest path is
    always a fewest-hop path; vertex 0 has the smallest id. SSSP, BFS and
    WCC therefore run the same number of supersteps for every seed."""

    name = "traversal-longtail"
    SIZES = {
        "full": {"tail": 4, "levels": 2, "width": 300, "between": 600,
                 "within": 300, "islands": 6, "island_size": 6},
        "tiny": {"tail": 2, "levels": 2, "width": 6, "between": 6,
                 "within": 4, "islands": 2, "island_size": 3},
    }
    OPS = ("algos.sssp", "algos.bfs", "algos.wcc")
    SOURCE = 0

    def __init__(self, size: str):
        self.size = self.SIZES[size]

    def generate(self, seed: int) -> dict:
        rng = _rng(seed, 2)
        s = self.size
        # levels by position: the source, the tail (two wide), the core
        widths = [1] + [2] * s["tail"] + [s["width"]] * s["levels"]
        levels, nxt = [], 0
        for width in widths:
            levels.append(np.arange(nxt, nxt + width))
            nxt += width
        pairs = []
        for i, (up, down) in enumerate(zip(levels, levels[1:])):
            # every vertex hangs from one vertex of the level above
            pairs.append(np.stack([down, rng.choice(up, len(down))], 1))
            if i >= s["tail"]:  # the core: more links between and within
                pairs.append(np.stack([rng.choice(up, s["between"]),
                                       rng.choice(down, s["between"])], 1))
                pairs.append(np.stack([rng.choice(down, s["within"]),
                                       rng.choice(down, s["within"])], 1))
        # islands: paths that no traversal from the source reaches
        for _ in range(s["islands"]):
            path = np.arange(nxt, nxt + s["island_size"])
            pairs.append(np.stack([path[:-1], path[1:]], 1))
            nxt += s["island_size"]
        e = np.concatenate(pairs)
        e = e[e[:, 0] != e[:, 1]]
        # random ids, but the source keeps the smallest
        ids = np.concatenate([[0], 1 + rng.permutation(nxt - 1)]).astype(np.int64)
        e = ids[e]
        depth = len(widths) - 1
        w = rng.uniform(1.0, 1.0 + 0.5 / depth, size=len(e))
        return {
            "n": nxt,
            "src": np.concatenate([e[:, 0], e[:, 1]]),
            "dst": np.concatenate([e[:, 1], e[:, 0]]),
            "weight": np.concatenate([w, w]),
        }

    def write(self, data: dict, root: str) -> None:
        _write_table({"id": np.arange(data["n"], dtype=np.int64)},
                     os.path.join(root, "vertices"))
        _write_table({k: data[k] for k in ("src", "dst", "weight")},
                     os.path.join(root, "edges"))

    load = staticmethod(_load_graph)

    def run_pass(self, ctx: PassContext) -> None:
        from giraph_spark import PregelMetrics, algos

        g, src = ctx.handle, self.SOURCE
        pms = {k: PregelMetrics() for k in ("algos.sssp", "algos.bfs", "algos.wcc")}
        ctx.out.pregel.update(pms)
        out = ctx.out_dir

        dist = ctx.run("algos.sssp", lambda: algos.sssp(
            g, src, max_supersteps=400, metrics=pms["algos.sssp"]))
        if dist is not None:
            _write_ids(ctx, "algos.sssp", dist, "distance", f"{out}/sssp", float)

        ctx.keep("algos.bfs", ctx.run("algos.bfs", lambda: algos.bfs(
            g, src, max_supersteps=400, metrics=pms["algos.bfs"],
        ).select("id", "level").toArrow()))

        comp = ctx.run("algos.wcc", lambda: algos.wcc(
            g, max_supersteps=400, metrics=pms["algos.wcc"],
            state_checkpoint_dir=f"{out}/wcc_checkpoints"))
        if comp is not None:
            _write_ids(ctx, "algos.wcc", comp, "component", f"{out}/wcc", int)

    def expected(self, data: dict) -> dict:
        n, src, dst = data["n"], data["src"], data["dst"]
        return {
            "algos.sssp": ref.sssp(n, src, dst, data["weight"], self.SOURCE),
            "algos.bfs": ref.bfs(n, src, dst, self.SOURCE),
            "algos.wcc": ref.components(n, src, dst),
        }

    def check(self, name, values, expected):
        want, value = expected[name], values[name]
        n = len(want)
        if name == "algos.sssp":
            got = _by_id(value, "id", "value", n, np.nan)
            ok = got is not None and np.allclose(got, want, rtol=1e-12, atol=0)
        elif name == "algos.bfs":
            got = _by_id(value, "id", "level", n, -2)
            ok = got is not None and np.array_equal(got, want)
        else:
            got = _by_id(value, "id", "value", n, -1)
            ok = got is not None and ref.same_partition(got, want)
        if got is None:
            return "result ids differ from the vertex set"
        if not ok:
            bad = np.flatnonzero(got != want)
            i = int(bad[0]) if len(bad) else 0
            return f"vertex {i}: got {got[i]!r}, want {want[i]!r}"
        return None


class Roundloops:
    """The five driver-side round loops, which never call ``pregel``:
    a weighted symmetric graph with distinct weights feeds four of them
    and a bipartite graph feeds the fifth."""

    name = "roundloops"
    SIZES = {
        "full": {"n": 40, "m": 100, "left": 20, "right": 20, "mb": 60},
        "tiny": {"n": 30, "m": 60, "left": 15, "right": 15, "mb": 40},
    }
    OPS = (
        "algos.minimum_spanning_forest", "algos.max_weight_matching",
        "algos.bipartite_matching", "algos.graph_coloring",
        "algos.maximal_independent_set",
    )

    def __init__(self, size: str):
        self.size = self.SIZES[size]

    def generate(self, seed: int) -> dict:
        rng = _rng(seed, 3)
        s = self.size
        n = s["n"]
        e = rng.integers(0, n, size=(s["m"], 2))
        e = np.unique(np.sort(e[e[:, 0] != e[:, 1]], axis=1), axis=0)
        w = (rng.permutation(len(e)) + 1.0) / len(e)  # distinct weights
        left, right = s["left"], s["right"]
        b = np.stack([rng.integers(0, left, s["mb"]),
                      rng.integers(left, left + right, s["mb"])], 1)
        b = np.unique(b, axis=0)
        return {
            "n": n,
            "src": np.concatenate([e[:, 0], e[:, 1]]).astype(np.int64),
            "dst": np.concatenate([e[:, 1], e[:, 0]]).astype(np.int64),
            "weight": np.concatenate([w, w]),
            "nb": left + right,
            "bsrc": b[:, 0].astype(np.int64),
            "bdst": b[:, 1].astype(np.int64),
        }

    def write(self, data: dict, root: str) -> None:
        _write_table({"id": np.arange(data["n"], dtype=np.int64)},
                     os.path.join(root, "weighted", "vertices"))
        _write_table({k: data[k] for k in ("src", "dst", "weight")},
                     os.path.join(root, "weighted", "edges"))
        _write_table({"id": np.arange(data["nb"], dtype=np.int64)},
                     os.path.join(root, "bipartite", "vertices"))
        _write_table({"src": data["bsrc"], "dst": data["bdst"]},
                     os.path.join(root, "bipartite", "edges"))

    def load(self, spark, root: str):
        return (_load_graph(spark, os.path.join(root, "weighted")),
                _load_graph(spark, os.path.join(root, "bipartite")))

    def run_pass(self, ctx: PassContext) -> None:
        from giraph_spark import algos

        weighted, bipartite = ctx.handle
        calls = {
            "algos.minimum_spanning_forest": (algos.minimum_spanning_forest, weighted),
            "algos.max_weight_matching": (algos.max_weight_matching, weighted),
            "algos.bipartite_matching": (algos.bipartite_matching, bipartite),
            "algos.graph_coloring": (algos.graph_coloring, weighted),
            "algos.maximal_independent_set": (algos.maximal_independent_set, weighted),
        }
        for name in self.OPS:
            fn, g = calls[name]
            stats: dict = {}
            ctx.keep(name, ctx.run(name, lambda: fn(g, stats=stats).toArrow()))
            ctx.out.rounds[name] = stats.get("rounds", 0)

    def expected(self, data: dict) -> dict:
        return {**data, "msf": ref.kruskal_weight(
            data["n"], data["src"], data["dst"], data["weight"])}

    def check(self, name, values, d):
        value = values[name]
        ids, src, dst = range(d["n"]), d["src"], d["dst"]
        if name == "algos.minimum_spanning_forest":
            total, count = d["msf"]
            got = float(np.sum(_col(value, "weight")))
            if value.num_rows != count or not np.isclose(got, total, rtol=1e-9):
                return (f"forest of {value.num_rows} edges weighing {got!r}; "
                        f"Kruskal: {count} edges weighing {total!r}")
            return None
        if name == "algos.bipartite_matching":
            ids, src, dst = range(d["nb"]), d["bsrc"], d["bdst"]
        if name in ("algos.max_weight_matching", "algos.bipartite_matching"):
            mate = dict(zip(value.column("id").to_pylist(),
                            value.column("matched_with").to_pylist()))
            problems = ref.matching_problems(ids, src, dst, mate)
        elif name == "algos.graph_coloring":
            color = dict(zip(value.column("id").to_pylist(),
                             value.column("color").to_pylist()))
            problems = ref.coloring_problems(ids, src, dst, color)
        else:
            in_set = dict(zip(value.column("id").to_pylist(),
                              value.column("in_set").to_pylist()))
            problems = ref.independent_set_problems(ids, src, dst, in_set)
        return "; ".join(problems) or None


class CorpusDedup:
    """Corpus cleaning and deduplication over a Zipf-vocabulary corpus
    in which the seed sets the shares of exact and near duplicates.
    The graph layers only see the small near-duplicate pair graph that
    ``dedup_corpus`` clusters."""

    name = "corpus-dedup"
    SIZES = {"full": {"docs": 1_000, "vocab": 3_000}, "tiny": {"docs": 60, "vocab": 200}}
    STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "that", "for")
    OPS = (
        "functions.clean_corpus", "functions.minhash_lsh_pairs",
        "functions.dedup_corpus", "functions.dedup_paragraphs",
    )
    #: lowest share of injected near duplicates MinHash-LSH must find
    NEAR_RECALL = 0.95

    def __init__(self, size: str):
        self.size = self.SIZES[size]

    def generate(self, seed: int) -> dict:
        rng = _rng(seed, 4)
        total, vocab_n = self.size["docs"], self.size["vocab"]
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < vocab_n:
            k = int(rng.integers(3, 10))
            words.add("".join(rng.choice(letters, k)))
        vocab = np.array(list(self.STOPWORDS) + sorted(words - set(self.STOPWORDS)))
        p = np.arange(1, len(vocab) + 1, dtype=float) ** -1.05
        p /= p.sum()

        def paragraph():
            return list(vocab[rng.choice(len(vocab), int(rng.integers(25, 45)), p=p)])

        exact_share = rng.uniform(0.06, 0.12)
        near_share = rng.uniform(0.06, 0.12)
        n_exact = int(round(total * exact_share))
        n_near = int(round(total * near_share))
        n_orig = total - n_exact - n_near
        docs = [[paragraph() for _ in range(int(rng.integers(3, 6)))]
                for _ in range(n_orig)]
        sources = rng.choice(n_orig, n_exact + n_near, replace=False)
        for i in sources[:n_exact]:
            docs.append([list(par) for par in docs[i]])
        for i in sources[n_exact:]:
            copy = [list(par) for par in docs[i]]
            par = copy[int(rng.integers(len(copy)))]
            for j in rng.choice(len(par), max(1, len(par) // 5), replace=False):
                par[j] = vocab[(np.flatnonzero(vocab == par[j])[0] + 1
                                + rng.integers(len(vocab) - 1)) % len(vocab)]
            docs.append(copy)
        text = np.array(["\n\n".join(" ".join(par) for par in d) for d in docs],
                        dtype=object)
        return {
            "doc_id": np.arange(total, dtype=np.int64),
            "text": text,
            "n_paragraphs": np.array([len(d) for d in docs]),
            "n_orig": n_orig,
            "exact_of": dict(zip(range(n_orig, n_orig + n_exact),
                                 sources[:n_exact].tolist())),
            "near_of": dict(zip(range(n_orig + n_exact, total),
                                sources[n_exact:].tolist())),
            # rows are stored shuffled so that copies land in other files
            "order": rng.permutation(total),
        }

    def write(self, data: dict, root: str) -> None:
        o = data["order"]
        _write_table({"doc_id": data["doc_id"][o],
                      "text": pa.array(data["text"][o], pa.string())},
                     os.path.join(root, "corpus"))

    def load(self, spark, root: str):
        return spark.read.parquet(os.path.join(root, "corpus"))

    def run_pass(self, ctx: PassContext) -> None:
        from giraph_spark import functions as fx
        from giraph_spark.functions.paragraphs import dedup_paragraphs
        from giraph_spark.functions.pipeline import clean_corpus

        df = ctx.handle
        calls = {
            "functions.clean_corpus": lambda: clean_corpus(df),
            "functions.minhash_lsh_pairs": lambda: fx.minhash_lsh_pairs(df),
            "functions.dedup_corpus": lambda: fx.dedup_corpus(df).select("doc_id"),
            "functions.dedup_paragraphs": lambda: dedup_paragraphs(df).select(
                "doc_id", "n_paragraphs", "n_kept"),
        }
        for name in self.OPS:
            ctx.keep(name, ctx.run(name, lambda: calls[name]().toArrow()))

    def expected(self, data: dict) -> dict:
        return data

    def check(self, name, values, d):
        value = values[name]
        n_orig = d["n_orig"]
        exact, near = set(d["exact_of"]), set(d["near_of"])
        if name == "functions.clean_corpus":
            status = dict(zip(value.column("doc_id").to_pylist(),
                              value.column("status").to_pylist()))
            removed = {i for i, s in status.items() if s == "removed_duplicate"}
            if len(status) != len(d["doc_id"]):
                return "result ids differ from the corpus"
            if removed != exact:
                return (f"removed {len(removed)} as exact duplicates; "
                        f"{len(exact)} injected, {len(removed & exact)} found")
            if any(s != "kept" for i, s in status.items() if i not in exact):
                return "a document other than an exact copy was removed"
            return None
        if name == "functions.minhash_lsh_pairs":
            pairs = set(zip(value.column("id_a").to_pylist(),
                            value.column("id_b").to_pylist()))
            pairs |= {(b, a) for a, b in pairs}
            found_exact = {c for c, o in d["exact_of"].items() if (o, c) in pairs}
            found_near = {c for c, o in d["near_of"].items() if (o, c) in pairs}
            if found_exact != exact:
                return f"exact-duplicate recall {ref.recall(found_exact, exact):.3f}"
            if ref.recall(found_near, near) < self.NEAR_RECALL:
                return f"near-duplicate recall {ref.recall(found_near, near):.3f}"
            return None
        if name == "functions.dedup_corpus":
            kept = set(value.column("doc_id").to_pylist())
            if kept & exact:
                return f"{len(kept & exact)} exact copies survived"
            if ref.recall(near - kept, near) < self.NEAR_RECALL:
                return f"near-duplicate removal recall {ref.recall(near - kept, near):.3f}"
            if not set(range(n_orig)) <= kept:
                return f"{n_orig - len(set(range(n_orig)) & kept)} originals removed"
            return None
        rows = {i: (p, k) for i, p, k in zip(value.column("doc_id").to_pylist(),
                                             value.column("n_paragraphs").to_pylist(),
                                             value.column("n_kept").to_pylist())}
        if set(rows) != set(range(n_orig)) | near:
            return "surviving documents are not the originals and near copies"
        for i, (paras, kept) in rows.items():
            want = d["n_paragraphs"][i]
            if paras != want or kept != (1 if i in near else want):
                return f"document {i}: kept {kept} of {paras} paragraphs"
        return None


WORKLOADS = {
    w.name: w for w in (PagerankPowerlaw, TraversalLongtail, Roundloops, CorpusDedup)
}
