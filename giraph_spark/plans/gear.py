"""The driver-side round loop: one primitive for the pregel kernel and
the standalone round loops.

Every iterative algorithm here is a driver loop of checkpoint-truncated
rounds — the pregel kernel's supersteps, and the Borůvka MSF, matching,
coloring, MIS, k-truss, k-core, SCC, deadlock and alternating-star
loops. :class:`LoopGear` owns the mechanics they share, and it is the
one owner of every call-scoped cached frame and session-conf window in
the graph library:

- **the session-conf window.** Inside a checkpoint-truncated loop AQE
  must be OFF: AdaptiveSparkPlanExec's undecided output partitioning at
  checkpoint time breaks exchange reuse (see ``pregel.pregel``). And AQE
  would not shrink a collapsed loop anyway: with
  ``spark.sql.adaptive.coalescePartitions.parallelismFirst`` (default
  true) it coalesces only down to the default parallelism, so a 50-row
  round still schedules 32 tasks per exchange on a 32-core box. So the
  window turns AQE off and sets an explicit shuffle width, and restores
  both on any exit;
- **the gear.** A loop whose live set collapses re-fits the width to it
  (:meth:`LoopGear.resize`), with 2× hysteresis both ways so re-plans
  stay O(log width) per run, and never below ``fit_width(floor_rows)``
  — the per-round O(V) state rewrite must not serialize. The kernel,
  whose frontier can regrow, passes its declining-frontier gate; the
  standalone loops' live sets are monotone, so they may gear down at
  once;
- **the persisted-frame registry**, released on any exit, so a raise
  mid-loop leaves no cached frame behind;
- **per-round bookkeeping** (:meth:`LoopGear.round`): ``stats["rounds"]``
  and one ``stats["per_round"]`` row per round, in the shape of a
  ``PregelMetrics.supersteps`` row, from counts the loop already has;
- **the delta peel** (:meth:`LoopGear.peel`): the broadcast-gated
  anti-join that drops the live edges incident to a round's decided
  vertices.

Callers whose shuffles AQE still sizes open it with ``window=False``
(conf untouched, no gear) for the registry alone: the k-core / s-core
peel, ``core_numbers``, SCC, deadlock detection, ``wcc`` and
``label_propagation_communities`` around the kernel, the
eigenvector / HITS power iterations, betweenness' forward state, and
``pairs_to_clusters``' pair graph (whose kernel width is
``fit_width`` of the pair count under the gear's ceiling).

A ``localCheckpoint`` frame needs no release: ``unpersist()`` on it
frees nothing, and its blocks go when the ContextCleaner sees its RDD
collected — which the gear's exit prompts.
"""

from __future__ import annotations

import gc
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Auto-partitioning target: a loop sizes its shuffles so each task
# carries about this many edge/message rows — the coalescing AQE would
# do, made explicitly because AQE is off inside the loops.
ROWS_PER_PARTITION = 150_000


def fit_width(rows: int, ceiling: int) -> int:
    """The one width rule of the loops: ``ceil(rows / ROWS_PER_PARTITION)``
    shuffle partitions, clamped to ``[1, ceiling]``. Giraph sizes its
    partition count from the worker fleet (``USER_PARTITION_COUNT``
    default workers², ``conf/GiraphConstants.java:914``); a DataFrame
    loop wants it sized from the *data*: at small scale per-task
    scheduling overhead dominates (measured: PageRank sf0.1 runs 3×
    faster on 8 partitions than 32 on a 32-core local box), while at
    cluster scale the ceiling — the session's
    ``spark.sql.shuffle.partitions`` — governs."""
    return max(1, min(ceiling, -(-rows // ROWS_PER_PARTITION)))


_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"
#: per-thread count of open gears (``depth``)
_open = threading.local()


class LoopGear:
    """Context manager around one round loop:
    ``with LoopGear(spark, stats=stats) as gear:``.

    With ``window=True`` (the default) the session's
    ``spark.sql.adaptive.enabled`` / ``spark.sql.shuffle.partitions``
    are mutated for the loop's duration — AQE off, the session's width,
    which is also the gear's ceiling, until :meth:`set_width` fixes the
    loop's own — and restored on exit. This is a session-global window
    (see ``pregel.pregel``); concurrent OLAP belongs on
    ``spark.newSession()``. Set ``floor_rows`` as soon as the loop
    learns it.

    Only the outermost gear of a thread runs the exit ``gc.collect()``:
    a nested gear's dead references are collected with its parent's.

    ``stats``, if given, receives ``rounds`` and ``per_round`` rows
    ``{round, live, partitions, seconds}``.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        window: bool = True,
        stats: dict | None = None,
    ):
        self.spark = spark
        #: rows of the per-round O(V) state rewrite (typically |V|); the
        #: gear never narrows below what they need
        self.floor_rows: int | None = None
        self.window = window
        self.stats = stats
        self.ceiling: int = 0
        self.cur: int = 0
        self._saved: tuple[str, str] | None = None
        self._persisted: list[DataFrame] = []
        self._t: float | None = None  # start of the open per_round row

    def __enter__(self) -> "LoopGear":
        conf = self.spark.conf
        parts = conf.get(_PARTS, "200")
        if self.window:
            self._saved = (conf.get(_AQE, "true"), parts)
            conf.set(_AQE, "false")
        self.ceiling = self.cur = int(parts)
        _open.depth = getattr(_open, "depth", 0) + 1
        if self.stats is not None:
            self.stats.update(rounds=0, per_round=[])
        return self

    def __exit__(self, *exc) -> None:
        self._close_row()
        # unpersist is a no-op for frames already released in-loop
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()
        # drop this side's py4j references so the ContextCleaner frees
        # the loop's dead checkpoint blocks promptly — once, by the
        # outermost gear
        _open.depth -= 1
        if not _open.depth:
            gc.collect()
        if self._saved is not None:
            self.spark.conf.set(_AQE, self._saved[0])
            self.spark.conf.set(_PARTS, self._saved[1])

    def set_width(self, width: int) -> None:
        """Fix the loop's width, which is also the gear's ceiling, once
        the loop knows it (e.g. from a count taken inside the window)."""
        self.ceiling = self.cur = width
        if self.window:
            self.spark.conf.set(_PARTS, str(width))

    def persist(self, df: DataFrame, level=None) -> DataFrame:
        """``df.persist(level)``, released when the loop exits."""
        df = df.persist() if level is None else df.persist(level)
        self._persisted.append(df)
        return df

    def resize(self, live_rows: int, declining: bool = True) -> int:
        """Re-fit the shuffle width to ``live_rows``, in the unit that
        dominates the round's shuffles (live EDGES for edge-relation
        loops); returns the width now in force. 2× hysteresis both ways
        (gearing down only when ``declining``); floor at the state
        rewrite's need; ceiling at the loop's width. No-op without the
        conf window."""
        if not self.window:
            return self.cur
        want = fit_width(live_rows, self.ceiling)
        if self.floor_rows is not None:
            want = max(want, fit_width(self.floor_rows, self.ceiling))
        if (want * 2 <= self.cur and declining) or want >= self.cur * 2:
            self.cur = want
            self.spark.conf.set(_PARTS, str(want))
        return self.cur

    def round(self, live: int) -> None:
        """Open the next round: :meth:`resize` to ``live`` and, with
        ``stats``, count the round and log its row (its ``seconds`` run
        until the next round opens or the loop exits). Adds no Spark
        job."""
        self.resize(live)
        if self.stats is None:
            return
        self._close_row()
        rows = self.stats["per_round"]
        rows.append(
            {"round": len(rows), "live": live, "partitions": self.cur, "seconds": 0.0}
        )
        self.stats["rounds"] = len(rows)
        self._t = time.monotonic()

    def _close_row(self) -> None:
        if self._t is not None:
            self.stats["per_round"][-1]["seconds"] = time.monotonic() - self._t
            self._t = None

    @staticmethod
    def peel(
        live: DataFrame, delta: DataFrame, n_delta: int, *cols: str
    ) -> DataFrame:
        """``live`` without its rows whose ``cols`` hit the one-column id
        relation ``delta`` (at most ``n_delta`` rows): one left anti-join
        per column, each map-side once the delta fits the broadcast gate,
        so the cached live side never moves."""
        (key,) = delta.columns
        for c in cols:
            live = live.join(
                bcast_if_small(delta.select(F.col(key).alias(c)), n_delta),
                on=c,
                how="left_anti",
            )
        return live


# Driver-known broadcast gate for round loops: the loops learn exact row
# counts from each fresh_checkpoint_count fold, so they can decide
# broadcasts EXACTLY where AQE would have to guess from stale estimates
# (and AQE is off inside the loops anyway — see LoopGear). The gate is
# BYTES, not rows: a row cap alone is wrong for array-bearing relations
# (coloring's per-vertex ``_taken`` sets can hold up to palette-size
# entries per row, so 4M rows may be GBs, not tens of MB). Narrow loop
# rows (two ids + a weight) serialize to a few tens of bytes including
# hash-relation overhead; callers with variable-width columns pass the
# element total via ``extra_bytes``.
ROW_BYTES_NARROW = 32
ARRAY_ELEM_BYTES = 8
_LIMIT_FLOOR = 64 << 20
_LIMIT_CAP = 1 << 30
_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def jvm_memory_bytes(value: str) -> int | None:
    """Bytes of a Spark JVM-memory setting such as ``spark.driver.memory``,
    or None when unparsable. Spark's grammar: optional suffix b/k/m/g/t
    (or kb/mb/gb/tb), and a UNITLESS value means MiB
    (JavaUtils.byteStringAsMb) — not bytes."""
    m = str(value).strip().lower()
    if m.endswith("b") and len(m) >= 2 and m[-2] in _MEM_SUFFIX:
        m = m[:-1]
    try:
        if m[-1] in _MEM_SUFFIX:
            return int(float(m[:-1]) * _MEM_SUFFIX[m[-1]])
        if m[-1] == "b":
            return int(m[:-1])  # plain-'b' suffix = bytes
        return int(m) << 20
    except (ValueError, IndexError):
        return None


def broadcast_limit_bytes(spark=None) -> int:
    """Broadcast-size budget for the loop gate: 1/16 of the configured
    driver memory (the broadcast is built and held driver-side before
    shipping), clamped to [64 MiB, 1 GiB] — always far below Spark's
    8 GB broadcast ceiling. Falls back to 256 MiB when the driver
    memory setting is absent or unparsable."""
    mem = None
    if spark is not None:
        try:
            mem = spark.conf.get("spark.driver.memory", None)
        except Exception:
            mem = None
    nbytes = jvm_memory_bytes(mem) if mem else None
    if nbytes is None:
        return 256 << 20
    return max(_LIMIT_FLOOR, min(_LIMIT_CAP, nbytes // 16))


def bcast_if_small(
    df,
    n_rows: int,
    row_bytes: int = ROW_BYTES_NARROW,
    extra_bytes: int = 0,
    limit_bytes: int | None = None,
):
    """``F.broadcast(df)`` when the caller KNOWS df's estimated size
    (``n_rows × row_bytes + extra_bytes``, counts from a fold) fits the
    driver-memory-derived budget, else df unchanged. A broadcast side
    turns the loop's delta anti-joins / state updates into map-side
    hash joins — zero exchange, the cached big side never moves.

    ``extra_bytes`` carries variable-width payload the row estimate
    can't see: for an array column, pass ``ARRAY_ELEM_BYTES × total
    elements across all rows`` (often exactly known, e.g. coloring's
    ``_taken`` sets hold at most one entry per live in-edge)."""
    if limit_bytes is None:
        limit_bytes = broadcast_limit_bytes(df.sparkSession)
    return (
        F.broadcast(df)
        if n_rows * row_bytes + extra_bytes <= limit_bytes
        else df
    )
