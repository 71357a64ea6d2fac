"""The BSP superstep kernel — a DataFrame Pregel loop.

Semantics mirror apache/giraph's compute loop exactly:

- per-superstep compute over the *active set* — a vertex computes iff it is
  not halted OR it received a message (wake-on-message,
  ``graph/ComputeCallable.java:335-338``);
- messages produced in superstep S are grouped by destination and delivered
  in S+1 (``comm/messages/MessageStore.java:35-108``), optionally combined
  with a commutative/associative combiner
  (``combiner/MessageCombiner.java:32-56`` — here: any Spark aggregate
  expression, Catalyst does map-side partial aggregation = Giraph's
  send-side combining for free);
- global termination = all vertices halted AND zero messages in flight
  (``master/BspServiceMaster.java:1681-1685``);
- a master hook runs on the driver between supersteps and may read global
  aggregates, publish broadcast values, or halt the computation
  (``master/MasterCompute.java:112,224-260``).

Physical notes for scale (SURVEY §4.7): each superstep is
``shuffle(groupBy dst) + shuffle-or-broadcast join`` — exactly Giraph's
Netty message exchange expressed as Spark shuffles. The kernel materializes
the per-superstep state with one action and truncates its lineage EVERY
superstep via ``localCheckpoint`` (single-reference conditional update, so
per-superstep plan size is constant; a filter+union formulation grows as
3^superstep and OOMs the driver around superstep 6 — observed empirically).
Durability is separate from truncation: with ``state_checkpoint_dir`` set,
every ``checkpoint_every``-th superstep's vertices and in-flight messages
are written as parquet, which :func:`resume_pregel` restarts from (Giraph's
CHECKPOINT_FREQUENCY, ``conf/GiraphConstants.java:927``).
"""

from __future__ import annotations

import gc
import time
import warnings
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph import Graph
from .plans.gear import LoopGear, fit_width

MSG = "_msg"
HAS_MSG = "_has_msg"  # true iff the vertex received a message this superstep
HALTED = "_halted"
ACTIVE = "_gs_active"

# The skew response (``skew_metrics``): a superstep whose largest inbox
# group exceeds SKEW_FACTOR x the median arms a salted delivery over
# SKEW_SALTS reducers for the next superstep, when its combiner is one of
# these self-decomposable aggregates (cmb(cmb(part), ...) == cmb(all)).
SKEW_FACTOR = 32.0
SKEW_SALTS = 16
_SELF_DECOMPOSABLE = (F.sum, F.min, F.max)

# A kernel parameter may be a Column / dict of Columns, or a callable
# receiving the PregelContext (for superstep- or broadcast-dependent
# expressions — the analog of MasterCompute switching computation per
# superstep, ``master/MasterCompute.java:148-174``).
Expr = Column | Callable[["PregelContext"], Column]


@dataclass
class PregelContext:
    """Driver-visible state passed to callable expressions and master_fn."""

    superstep: int = 0
    broadcasts: dict[str, Any] = field(default_factory=dict)
    aggregates: dict[str, Any] = field(default_factory=dict)
    num_messages: int = 0
    #: current (post-update) vertices DataFrame, readable from ``master_fn``
    #: — the per-superstep output hook (``DO_OUTPUT_DURING_COMPUTATION``,
    #: ``conf/GiraphConstants.java:361``): a master_fn may
    #: ``ctx.vertices.write.mode('append')`` each superstep.
    vertices: DataFrame | None = None
    _halt: bool = field(default=False, repr=False)

    def halt(self) -> None:
        """Master-initiated halt (``MasterCompute.haltComputation``,
        ``master/MasterCompute.java:112``)."""
        self._halt = True


@dataclass
class PregelMetrics:
    """Per-superstep counters — analog of ``counters/GiraphStats.java:39-51``
    (supersteps, sent messages) + ``GiraphTimers``.

    With ``capture_plans=True`` the formatted physical plan of each
    superstep's send job is recorded into ``plans`` — the observability
    hook used to assert the kernel's join strategy (co-partitioned
    shuffle-hash, no per-superstep edge broadcast) in tests."""

    supersteps: list[dict[str, Any]] = field(default_factory=list)
    capture_plans: bool = False
    plans: list[str] = field(default_factory=list)
    #: run-level facts the kernel records (e.g. whether a bucketed input
    #: layout was adopted in place of the input repartition)
    run_info: dict[str, Any] = field(default_factory=dict)

    @property
    def num_supersteps(self) -> int:
        return len(self.supersteps)

    @property
    def total_messages(self) -> int:
        return sum(s["messages"] for s in self.supersteps)


def _resolve(expr: Any, ctx: PregelContext) -> Any:
    return expr(ctx) if callable(expr) and not isinstance(expr, Column) else expr


def _is_static(expr: Any) -> bool:
    """A Column, or a dict of Columns: the same every superstep."""
    if isinstance(expr, dict):
        return all(isinstance(v, Column) for v in expr.values())
    return isinstance(expr, Column)


def _per_run(expr: Any, build: Callable[[Any], Any]) -> Callable[[PregelContext], Any]:
    """``ctx -> build(expr)``, built once when ``expr`` is static; a
    callable (or a dict holding one) is resolved every superstep."""
    if _is_static(expr):
        built = build(expr)
        return lambda ctx: built

    def per_superstep(ctx: PregelContext) -> Any:
        r = _resolve(expr, ctx)
        if isinstance(r, dict):
            r = {k: _resolve(v, ctx) for k, v in r.items()}
        return build(r)

    return per_superstep


def _rdd_count(df: DataFrame) -> int:
    """``df.count()`` run on the plan's RDD: the same job, without
    planning a count aggregate or its SQL-execution bookkeeping."""
    return df._jdf.queryExecution().toRdd().count()


def pregel(graph: Graph, num_partitions: int | None = None, **kwargs) -> DataFrame:
    """Run a Pregel computation; returns the final vertices DataFrame.
    See :func:`_pregel_impl` for the full parameter reference (identical
    signature; this wrapper only manages session config).

    AQE is disabled for the duration of the loop (restored on exit, even on
    error): with AQE on, ``localCheckpoint`` wraps the per-superstep state
    in a LogicalRDD with UNKNOWN partitioning (AdaptiveSparkPlanExec's
    output partitioning is undecided at checkpoint time), so every
    subsequent join re-shuffles the state. With AQE off the checkpoint
    preserves ``HashPartitioning(id)`` and the inbox/triplet joins are
    exchange-free on the state side — Giraph's "vertices stay put, only
    messages move" model. AQE's skew handling is not missed inside the
    loop: with a message combiner, map-side partial aggregation collapses
    each dst's fan-in to ≤ num_partitions rows before the shuffle,
    structurally bounding skew (and :func:`giraph_spark.partitioning.salt_heavy_keys`
    covers the combiner-less case).

    The run's width (``num_partitions``, see :func:`_pregel_impl`)
    becomes the session's ``spark.sql.shuffle.partitions`` for the
    duration of the run (and is restored), so every loop shuffle — inbox
    groupBy, co-partitioned joins, the cached edge repartition — agrees
    on one partitioning and the state side stays exchange-free.

    SESSION-GLOBAL WINDOW (deliberate): both this setting and the
    adaptive gear-down's re-sizing mutate the shared session conf, so
    OTHER queries submitted on the SAME SparkSession while a pregel run
    is in flight see the altered shuffle width (and AQE off) until the
    run exits. This is not avoidable from inside the loop — the inbox
    aggregation's exchange width has no per-operator override, and
    pre-repartitioning the raw message stream to dodge the conf would
    pay the delivery shuffle before map-side combining (measured
    strictly worse; see ``skew_metrics``). Concurrent OLAP work should
    run on ``spark.newSession()`` (same SparkContext and cache, isolated
    SQL conf), which is free; the pregel run itself is unaffected by
    either choice."""
    # The gear releases every frame the run persists on ANY exit — normal
    # return, master_fn exception, executor loss. Without this, a failed
    # attempt (exactly the case run_with_retries exists for) would leave
    # the cached edge relation + message frames in the block manager, and
    # retries would stack copies until OOM.
    with LoopGear(graph.vertices.sparkSession) as gear:
        if num_partitions is not None:
            nparts = num_partitions
        elif graph.edges_layout is not None:
            # bucketed input: adopt the storage width so the bucketed scan
            # IS the loop partitioning and the input repartition disappears
            nparts = graph.edges_layout[1]
        else:
            # one edge count per run (Giraph's input-superstep count),
            # taken inside the AQE-off window so it is one job, not AQE's
            # two; on a persisted graph it is a cached-count scan
            nparts = fit_width(graph.edges.count(), gear.ceiling)
        gear.set_width(nparts)
        return _pregel_impl(graph, _gear=gear, **kwargs)


def propagate(
    graph: Graph, *, update: dict[str, Column], seed: Column, improved: Column,
    send: Column, to_src: bool = False, **kwargs,
) -> DataFrame:
    """The always-halt propagation program of the traversal family (sssp,
    bfs, connected components, flood-min/max, ...): every vertex votes to
    halt every superstep and wakes only on a message
    (``examples/SimpleShortestPathsComputation.java:60-85``,
    ``examples/ConnectedComponentsComputation.java:60-101``; GraphX's
    Pregel operator), so the run ends on its first superstep that sends
    no message.

    A computing vertex applies ``update`` and then sends ``send`` (over
    its updated values) along its out-edges — its in-edges with
    ``to_src`` — when ``improved`` holds, or, on the first superstep,
    when ``seed`` holds; both tests see the pre-update values. The first
    superstep is told by ``~_has_msg``: with every vertex halted after it
    computes, a vertex computes without an inbox only at superstep 0 —
    and never on a resumed run. So the predicate is exact, and the
    program stays free of callables (its Columns are built once per run).
    Other keyword arguments pass to :func:`pregel`."""
    kwargs["send_msg_to_src" if to_src else "send_msg"] = F.when(
        F.col("_improved"), send
    )
    return pregel(
        graph,
        update={**update, "_improved": (~F.col(HAS_MSG) & seed) | improved},
        vote_to_halt=True,
        **kwargs,
    ).drop("_improved")


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) pair for any Hadoop-supported filesystem."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _consume_halt_file(spark, path: str) -> bool:
    """True (and the file is deleted) if the halt sentinel exists — the
    delete makes the signal one-shot, so a resumed run isn't re-halted by
    a stale file."""
    fs, p = _hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, False)
        return True
    return False


def request_halt(spark, state_checkpoint_dir: str) -> None:
    """Signal a running pregel job (this driver or any other) to halt
    cleanly after its current superstep — the ``bin/halt-application``
    surface (halt znode write, ``master/BspServiceMaster.java:1685-1691``)
    re-expressed as a sentinel file on the checkpoint filesystem. The run
    remains resumable from its latest durable checkpoint."""
    fs, p = _hadoop_fs(spark, f"{state_checkpoint_dir}/HALT")
    out = fs.create(p, True)
    out.close()


class NoCheckpointError(ValueError):
    """Raised by :func:`resume_pregel` when no committed checkpoint exists
    under the given directory. A distinct type so :func:`run_with_retries`
    can tell 'nothing to resume from' apart from a ``ValueError`` raised
    inside the resumed computation itself (a user ``master_fn`` or
    callable expression) — conflating the two would silently restart from
    scratch and discard checkpointed progress."""


def run_with_retries(
    graph: Graph,
    state_checkpoint_dir: str,
    max_attempts: int = 3,
    **kwargs,
) -> DataFrame:
    """Failure-restart orchestration: run :func:`pregel` with durable
    checkpoints; on failure, re-enter from the latest checkpoint via
    :func:`resume_pregel` (or from scratch if none was written yet), up
    to ``max_attempts`` total attempts. The automatic analog of Giraph's
    checkpoint-restart path (``CheckpointSupportedChecker`` +
    master-re-election restart, ``graph/GraphTaskManager.java:340-348``),
    with Spark already handling task/executor-level retry below — this
    wrapper covers whole-job failures (driver OOM, cluster preemption).
    """
    last_err: Exception | None = None
    for attempt in range(max_attempts):
        try:
            if attempt == 0:
                return pregel(
                    graph, state_checkpoint_dir=state_checkpoint_dir, **kwargs
                )
            try:
                return resume_pregel(graph, state_checkpoint_dir, **kwargs)
            except NoCheckpointError:
                # no checkpoint was reached before the failure: restart
                return pregel(
                    graph, state_checkpoint_dir=state_checkpoint_dir, **kwargs
                )
        except KeyboardInterrupt:
            raise
        except Exception as e:  # noqa: BLE001 — any job failure is retryable
            last_err = e
    raise RuntimeError(
        f"pregel failed after {max_attempts} attempts; last error: {last_err!r}"
    ) from last_err


def resume_pregel(graph: Graph, state_checkpoint_dir: str, **kwargs) -> DataFrame:
    """Restart a pregel run from its latest durable checkpoint
    (``BspServiceWorker.loadCheckpoint``, ``BspServiceWorker.java:1584``;
    master restart decision ``BspServiceMaster``): loads the saved
    post-update vertex state and in-flight messages from
    ``{state_checkpoint_dir}/superstep={N}/`` with the largest N and
    continues at superstep N+1 with the same kernel arguments. ``initial``
    is ignored (state comes from the checkpoint); superstep-indexed logic
    continues where it left off."""
    import re

    # Checkpoint discovery via the Hadoop FileSystem API, so the dir may
    # live on any Hadoop-supported filesystem (local, HDFS, S3A, …) — the
    # same places the parquet writer can reach.
    spark = graph.vertices.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(state_checkpoint_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    steps = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            m = re.fullmatch(r"superstep=(\d+)", st.getPath().getName())
            # only COMMITTED checkpoints count: the marker is written
            # after both the vertices and messages jobs succeed, so a
            # crash mid-checkpoint can neither surface a truncated state
            # nor silently drop the in-flight messages (which would make
            # a vote-to-halt run terminate with partial results).
            if (
                m
                and st.isDirectory()
                and fs.exists(hpath(st.getPath(), "_COMMITTED"))
            ):
                steps.append(int(m.group(1)))
    if not steps:
        raise NoCheckpointError(
            f"no committed checkpoints under {state_checkpoint_dir!r}"
        )
    last = max(steps)
    d = f"{state_checkpoint_dir}/superstep={last}"
    vdf = spark.read.parquet(f"{d}/vertices")
    mdf = (
        spark.read.parquet(f"{d}/messages")
        if fs.exists(hpath(f"{d}/messages"))
        else None
    )
    kwargs.setdefault("state_checkpoint_dir", state_checkpoint_dir)
    return pregel(graph, _resume=(last + 1, vdf, mdf), **kwargs)


def _pregel_impl(
    graph: Graph,
    *,
    update: dict[str, Expr] | Callable[[PregelContext], dict[str, Column]],
    send_msg: Expr | None = None,
    send_msg_to_src: Expr | None = None,
    combine: Callable[[Column], Column] | None = None,
    combine_fn: Callable[[PregelContext], Callable[[Column], Column] | None] | None = None,
    messages_fn: Callable[[DataFrame, DataFrame, PregelContext], DataFrame] | None = None,
    initial: dict[str, Expr] | None = None,
    vote_to_halt: Expr | bool | None = None,
    msg_type: str | None = None,
    aggregates: dict[str, Expr] | None = None,
    master_fn: Callable[[PregelContext], None] | None = None,
    skew_metrics: bool = False,
    max_supersteps: int = 100,
    checkpoint_every: int = 6,
    state_checkpoint_dir: str | None = None,
    metrics: PregelMetrics | None = None,
    _resume: tuple[int, DataFrame, DataFrame | None] | None = None,
    _gear: LoopGear,
) -> DataFrame:
    """Run a Pregel computation; returns the final vertices DataFrame
    (engine columns dropped).

    Parameters
    ----------
    num_partitions:
        (:func:`pregel` only) the loop's shuffle-partition count. The
        default adopts a bucketed input layout's width, else sizes it
        from the edge count (:func:`giraph_spark.plans.gear.fit_width`,
        bounded by the session's ``spark.sql.shuffle.partitions``) —
        the coalescing AQE would have done. It is the ceiling of the
        adaptive gear: after a
        superstep whose message count implies a width ≥2× smaller (on a
        declining frontier) or larger, the session shuffle setting is
        changed and the vertex state re-keyed once at the new width
        (:meth:`giraph_spark.plans.gear.LoopGear.resize`, never below what
        the per-superstep O(V) state rewrite needs). SSSP/BFS/WCC
        frontiers shrink by orders of magnitude in their tail supersteps,
        and without AQE (which must stay off in-loop) every tail superstep
        would otherwise pay the full-width task count for near-empty
        shuffles. The cached edge relation keeps the run's width.
    update:
        dict of ``{column: expression}`` evaluated simultaneously over the
        active vertices (all expressions see the *pre-update* values, i.e.
        one ``withColumns`` batch). Available columns: every vertex column,
        ``_msg`` (combined inbound message, NULL if none — including all of
        superstep 0), ``_has_msg``. This is ``Computation.compute``
        (``graph/Computation.java:70``) restricted to Catalyst expressions;
        arbitrary Python goes through ``messages_fn`` / pandas UDFs.
    send_msg / send_msg_to_src:
        message expression evaluated over the triplet
        (updated-vertex columns ⨝ edge columns, join on id==src); the
        message goes to the edge's dst (resp. src). A NULL message is
        dropped — this is the declarative form of Giraph's *conditional*
        ``sendMessage`` calls (``graph/Computation.java:129-145``).
        Only vertices that computed this superstep send (as in Giraph —
        only ``compute()`` sends).
    combine:
        aggregate over the message column, e.g. ``F.sum`` / ``F.min``
        (``combiner/SumMessageCombiner`` family). ``None`` ⇒
        ``F.collect_list`` — the unordered message iterable of
        ``Computation.java:66-68``.
    combine_fn:
        per-superstep combiner selection ``ctx -> combiner | None``,
        overriding ``combine`` — the ``MasterCompute.setMessageCombiner``
        surface (``master/MasterCompute.java:172``,
        ``master/SuperstepClasses.java``). Called when delivering superstep
        S's inbox (messages produced in S−1), matching the reference's
        "set in S−1, applies to S" timing.

        ``SuperstepClasses`` also lets the reference switch the outgoing
        *message type* per superstep — and so does this kernel, because
        each superstep's plan is rebuilt from scratch (the message frame
        is fresh per superstep and durable checkpoints carry their own
        parquet schema): a callable ``send_msg`` may return expressions of
        different data types on different supersteps, with ``combine_fn``
        and a callable ``update`` switching in lockstep
        (``tests/test_switch_classes.py::test_true_midrun_type_switching``
        replays ``master/TestSwitchClasses.java`` exactly — bigint →
        double → bigint with min → none → sum combining). For phases known
        up front, the struct-union message (``messages.MessageUnion``,
        with entry-time ``verify_types_match`` schedule checking) or one
        ``pregel`` per phase (``algos/scc.py``) remain the recommended
        forms — one stable schema keeps every superstep's inbox
        bucket-compatible and the checkpoint layout uniform.
    messages_fn:
        escape hatch ``(computed_vertices, edges, ctx) -> DataFrame(_dst, _m)``
        for arbitrary send patterns (``sendMessageToMultipleEdges`` etc.).
    initial:
        column expressions applied to the vertices before superstep 0.
    vote_to_halt:
        boolean expression evaluated *after* ``update`` (sees new values);
        true ⇒ vertex halts (``Vertex.voteToHalt``, re-activated by any
        inbound message). The Python constant ``True`` declares an
        always-halt program: every vertex halts after it computes, so
        every vertex is halted from superstep 0 on and the run ends on its
        first superstep without messages, with no all-halted probe
        (:func:`propagate` runs such programs).
    msg_type:
        Spark SQL type of ``_msg`` (the post-combine inbox), used to type
        the all-NULL ``_msg`` of a superstep with no inbox (superstep 0)
        so ``update`` resolves against the same schema every superstep.
    aggregates:
        named global aggregate expressions computed over the updated
        vertices each superstep, collected to the driver into
        ``ctx.aggregates`` (the Aggregator/Reducer surface, SURVEY §2.4).
    master_fn:
        driver callback after each superstep; may read ``ctx.aggregates``,
        mutate ``ctx.broadcasts`` (visible to callable expressions next
        superstep) or call ``ctx.halt()``.
    skew_metrics:
        when true, the per-superstep message count is computed as an
        aggregate over per-destination group sizes instead of a flat
        count, and each ``metrics.supersteps`` row gains
        ``max_inbox_group`` / ``median_inbox_group`` / ``salted`` — the
        in-loop skew observability a 100× user needs (a hot vertex is a
        hot key in the delivery shuffle; max ≫ median is the salt
        signal). Still one action per superstep, but the extra
        ``groupBy(_dst)`` pre-pays the delivery shuffle's cost a second
        time — diagnostic mode, off by default. The reference gets the
        equivalent from per-worker received-message counters
        (``counters/GiraphStats.java:39-51``).

        It also closes the skew loop (observation → response, ≡ Giraph's
        rebalance-on-observation, ``partition/PartitionBalancer.java:357``):
        when a superstep observes ``max_inbox_group > SKEW_FACTOR ×
        max(median_inbox_group, 1)``, the NEXT superstep's delivery runs a
        two-phase salted aggregation — ``groupBy(_dst, _salt)`` partials
        (the hot key spread over ``SKEW_SALTS`` reducers) merged by the
        normal ``groupBy(_dst)`` — bounding the hot vertex's final merge,
        which otherwise receives one partial per map partition. This is
        sound only for self-decomposable combiners, so it engages only
        when that superstep's combiner is ``F.sum``, ``F.min`` or
        ``F.max``; any other combiner (``count``-style, whose merge is
        not itself, an opaque callable, or the combiner-less
        ``collect_list`` inbox) gets a one-shot warning naming
        :func:`giraph_spark.partitioning.salt_heavy_keys` and the
        bounded-combiner redesign (``algos.components.core_numbers``'s
        threshold-count message). The trigger re-evaluates every
        superstep, so the extra phase disappears once the frontier
        de-skews.
    max_supersteps:
        superstep cap (counted from 0, across a resume); the run stops
        after it even if vertices are still active.
    checkpoint_every:
        the durable-checkpoint cadence below; every ``checkpoint_every``-th
        superstep also drops the driver's py4j references
        (``gc.collect()``) so dead checkpoint blocks are freed promptly.
    state_checkpoint_dir:
        when set, every ``checkpoint_every``-th superstep the post-update
        vertex state AND the in-flight messages are written as parquet under
        ``{dir}/superstep={N}/`` — Giraph's durable checkpoint
        (``worker/BspServiceWorker.storeCheckpoint``,
        ``BspServiceWorker.java:1340``; cadence ``CHECKPOINT_FREQUENCY``,
        ``conf/GiraphConstants.java:927``). Restart with
        :func:`resume_pregel` (≡ ``loadCheckpoint``,
        ``BspServiceWorker.java:1584``). The run also watches the sentinel
        ``{dir}/HALT`` once per superstep — the analog of
        ``bin/halt-application`` writing the halt znode
        (``master/BspServiceMaster.java:1685-1691``): if it exists it is
        consumed (deleted) and the run halts cleanly after the current
        superstep, resumable from its durable checkpoints. Request a halt
        from outside the driver with :func:`request_halt`.
    metrics:
        a :class:`PregelMetrics` that receives one row per superstep
        (``superstep``, ``messages``, ``partitions``, ``seconds``, plus
        the ``skew_metrics`` fields) and the run-level ``run_info``.
    """
    ctx = PregelContext()
    metrics = metrics if metrics is not None else PregelMetrics()

    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col

    if _resume is not None:
        # restart path (Giraph's ``BspServiceWorker.loadCheckpoint``): the
        # saved state, engine columns included, and in-flight messages;
        # the superstep counter resumes where it left off, so
        # superstep-indexed logic (fixed-iteration PageRank, phase
        # machines) continues correctly
        start, vertices, messages = _resume
    else:
        start, messages = 0, None
        vertices = graph.vertices
        if initial:
            vertices = vertices.withColumns(
                {k: _resolve(v, ctx) for k, v in initial.items()}
            )
    # the state's column set, tracked on the driver: asking the frame for
    # its columns every superstep is a schema round trip
    cols = set(vertices.columns)
    if HALTED not in cols:
        vertices = vertices.withColumn(HALTED, F.lit(False))
        cols.add(HALTED)

    edges = graph.edges
    spark = vertices.sparkSession

    # Loop-invariant Columns, built once per run. Every Column built on
    # the driver costs py4j round trips (PySpark's call-site wrapper adds
    # a session lookup, a conf read and an origin set/clear to each), and
    # rebuilding the same trees every superstep would cost more driver
    # time than the superstep's own job. Callables are resolved every
    # superstep; the Columns of a static program (sssp, bfs, wcc, ...)
    # are wrapped once.
    id_key = F.col(id_col)
    is_active = F.col(ACTIVE)
    not_halted = ~F.col(HALTED)
    has_msg = F.coalesce(F.col(HAS_MSG), F.lit(False))
    null_msg = F.lit(None).cast(msg_type) if msg_type else F.lit(None)
    no_inbox = {MSG: null_msg, HAS_MSG: F.lit(False), ACTIVE: not_halted}
    inbox_fill = {HAS_MSG: has_msg, ACTIVE: not_halted | has_msg}
    inbox_key = F.col("_dst").alias(id_col)
    inbox_flag = F.lit(True).alias(HAS_MSG)
    inbox_aggs: dict[Any, Column] = {}  # combiner -> its inbox aggregate
    sent = F.col("_m").isNotNull()
    always_halt = vote_to_halt is True
    halt_of = _per_run(
        F.lit(always_halt) if always_halt or vote_to_halt is None else vote_to_halt,
        lambda h: F.when(is_active, h).otherwise(F.col(HALTED)),
    )
    aggs_of = _per_run(
        aggregates or {}, lambda d: [v.alias(k) for k, v in d.items()]
    )

    def when_active(upd: dict[str, Column]) -> dict[str, Column]:
        # the update applies where the vertex computes; elsewhere the old
        # value stays (NULL for a column the update adds)
        return {
            k: F.when(is_active, v).otherwise(F.col(k) if k in cols else F.lit(None))
            for k, v in upd.items()
        }

    # a static update's wrappers differ only by which of its columns the
    # state already has — superstep 0 of a fresh run vs. every later one
    static_update: dict[frozenset, dict[str, Column]] | None = (
        {} if _is_static(update) else None
    )

    # Pre-partition the (static) edge relation by its join key ONCE and
    # keep it cached: every superstep's triplet join then sees a
    # co-partitioned build side and ships zero edge bytes — the analog of
    # Giraph loading each vertex's out-edges onto its owning worker at
    # input time (edge store move, BspServiceWorker.java:611). The state
    # side stays hash-partitioned on id because checkpoint/localCheckpoint
    # preserves the physical partitioning from the inbox join.
    nparts = _gear.ceiling
    prev_msg_count: int | None = None

    def persist(df: DataFrame) -> DataFrame:
        # serialized in memory (PySpark's MEMORY_AND_DISK), not the
        # DataFrame default MEMORY_AND_DISK_DESER the other loops use
        return _gear.persist(df, StorageLevel.MEMORY_AND_DISK)

    # the send phase's triplet joins: (cached edges keyed on `key`, join
    # condition, message target, ctx -> message Column); the computing
    # state is aliased `_v` and the edges `_e`, so the condition is built
    # once, not resolved against each superstep's frame
    sends = []
    if messages_fn is None:
        for expr, key, target in (
            (send_msg, src_col, dst_col),
            (send_msg_to_src, dst_col, src_col),
        ):
            if expr is None:
                continue
            if key == src_col and graph.edges_layout == (src_col, nparts):
                # bucketed storage already hash-partitions edges on src at
                # the loop width: cache the scan as-is, zero input shuffle
                e = persist(edges)
                metrics.run_info["edges_from_storage_layout"] = True
            else:
                e = persist(edges.repartition(nparts, F.col(key)))
            sends.append(
                (
                    e.alias("_e"),
                    F.col(f"_v.`{id_col}`") == F.col(f"_e.`{key}`"),
                    F.col(target).alias("_dst"),
                    _per_run(expr, lambda m: m.alias("_m")),
                )
            )

    if _resume is None and graph.vertices_layout == (id_col, nparts):
        vertices = persist(vertices)
        metrics.run_info["vertices_from_storage_layout"] = True
    else:
        vertices = persist(vertices.repartition(nparts, id_key))
    if messages is not None:
        messages = persist(messages)
    prev_vertices: DataFrame | None = None
    prev_messages: DataFrame | None = None
    hot_row: dict[str, Any] | None = None  # a hot-key observation (skew_metrics)
    skew_warned = False

    for superstep in range(start, max_supersteps):
        ctx.superstep = superstep
        t0 = time.monotonic()

        # 1. Deliver: group inbox by destination, combine. (The previous
        #    superstep's engine columns are replaced, not duplicated.)
        salted_this = False
        if messages is None:
            joined = vertices.withColumns(no_inbox)
        else:
            cmb = combine_fn(ctx) if combine_fn is not None else combine
            if cmb not in inbox_aggs:
                inbox_aggs[cmb] = (
                    cmb(F.col("_m")) if cmb else F.collect_list("_m")
                ).alias(MSG)
            src_msgs = messages
            if hot_row is not None and cmb in _SELF_DECOMPOSABLE:
                # Two-phase salted delivery (skew response): phase 1
                # spreads the hot dst over SKEW_SALTS reducers; phase 2
                # (the normal groupBy below) merges <= SKEW_SALTS
                # partials per dst. Sound because the combiner is
                # self-decomposable; result is independent of the salt
                # assignment, so the salt only needs spread, not
                # determinism.
                src_msgs = (
                    messages.withColumn(
                        "_salt",
                        F.pmod(
                            F.xxhash64(F.col("_m")) + F.spark_partition_id(),
                            F.lit(SKEW_SALTS),
                        ),
                    )
                    .groupBy("_dst", "_salt")
                    .agg(cmb(F.col("_m")).alias("_m"))
                    .drop("_salt")
                )
                salted_this = True
            elif hot_row is not None and not skew_warned:
                skew_warned = True
                warnings.warn(
                    "pregel: hot destination observed "
                    f"(max_inbox_group={hot_row['max_inbox_group']} > "
                    f"{SKEW_FACTOR}x median={hot_row['median_inbox_group']}); "
                    "the salted delivery engages only for the F.sum, F.min "
                    "and F.max combiners. Pre-salt with "
                    "giraph_spark.partitioning.salt_heavy_keys, or redesign "
                    "the message to a bounded combinable form (see "
                    "algos.components.core_numbers).",
                    stacklevel=2,
                )
            inbox = src_msgs.groupBy(inbox_key).agg(inbox_aggs[cmb], inbox_flag)
            # shuffle_hash hint: the state side is already hash-partitioned
            # on id (from the previous superstep's checkpoint), so this join
            # only shuffles the (combined) inbox — the message-delivery
            # shuffle, and nothing else. Without the hint Spark broadcasts
            # the inbox every superstep: wasted driver round-trips here, an
            # OOM at cluster scale where the inbox is as big as the vertex
            # set.
            joined = (
                vertices.drop(MSG, HAS_MSG, ACTIVE)
                .join(inbox.hint("shuffle_hash"), on=id_col, how="left")
                .withColumns(inbox_fill)
            )
        cols.update((MSG, HAS_MSG, ACTIVE))

        # 2. Active set: not-halted ∪ woken-by-message
        #    (ComputeCallable.java:335-338). The update is applied as
        #    conditional expressions over ALL rows (single pass, single
        #    reference to `joined`) rather than filter+union — a union
        #    would embed the previous superstep's plan multiple times and
        #    make the logical plan grow as 3^superstep.
        if static_update is None:
            upd = {k: _resolve(v, ctx) for k, v in _resolve(update, ctx).items()}
            cond_upd = when_active(upd)
        else:
            present = frozenset(k for k in update if k in cols)
            if present not in static_update:
                static_update[present] = when_active(update)
            cond_upd = static_update[present]
        cols.update(cond_upd)
        # vote_to_halt is evaluated after the update batch (sees new values,
        # as Giraph's voteToHalt inside compute() does).
        state = joined.withColumns(cond_upd).withColumn(HALTED, halt_of(ctx))

        # 3. Materialize + truncate lineage EVERY superstep. Truncation is
        #    correctness-of-operation, not an optimization: every other
        #    frame (messages, inbox, next join) derives from this leaf, so
        #    per-superstep plan size stays constant (SURVEY §4.5/§7.3).
        state = state.localCheckpoint(eager=False)
        new_vertices = state

        # 4. Send phase (triplet join: updated vertex ⨝ out-edges); only
        #    vertices that computed this superstep send.
        #    (A df.observe-based single-action path for the aggregates was
        #    tried and reverted. Re-tested on this build 2026-08-13:
        #    Observation.get itself works on a plain action, but observed
        #    metrics do NOT cross a localCheckpoint boundary — the frame
        #    the aggregates need is the checkpointed state, whose
        #    materializing action runs downstream of the checkpoint, so
        #    obs.get returns {name: None}. The separate aggregates action
        #    below stays.)
        computed = state.filter(is_active)
        new_messages: DataFrame | None = None
        skew_row: dict[str, Any] | None = None
        if messages_fn is not None:
            new_messages = messages_fn(computed, edges, ctx)
        elif sends:
            # shuffle_hash hint on the state side: state is hash-partitioned
            # on id and the cached edge relation on src (resp. dst), so the
            # triplet join is fully co-partitioned — ZERO exchange, build
            # side = the (smaller) per-partition vertex state. Without the
            # hint Spark re-broadcasts the whole edge relation every
            # superstep (observed via .explain) — wrong at any scale where
            # edges don't fit one executor, and measurable overhead even
            # locally.
            v = computed.alias("_v").hint("shuffle_hash")
            for e, on, target, msg_of in sends:
                part = v.join(e, on).select(target, msg_of(ctx))
                new_messages = (
                    part if new_messages is None else new_messages.unionByName(part)
                )
        # Single action per superstep: counting the messages materializes
        # the (lazily checkpointed) state as a by-product, since messages
        # derive from it. Giraph's per-superstep barrier = this one job.
        # The count runs on the plan's RDD: the same job, without planning
        # a count aggregate or its SQL-execution bookkeeping.
        if new_messages is not None:
            new_messages = new_messages.filter(sent)
            if metrics.capture_plans:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    # explained through an alias: planning new_messages
                    # itself now would fix its plan before the persist,
                    # and the count below would then bypass the cache
                    new_messages.alias("_send").explain("formatted")
                metrics.plans.append(buf.getvalue())
            new_messages = persist(new_messages)
            if skew_metrics:
                srow = (
                    new_messages.groupBy("_dst")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .agg(F.sum("_n"), F.max("_n"), F.median("_n"))
                    .collect()[0]
                )
                ctx.num_messages = int(srow[0] or 0)
                skew_row = {
                    "max_inbox_group": int(srow[1] or 0),
                    "median_inbox_group": float(srow[2] or 0.0),
                    "salted": salted_this,
                }
                # Observation -> response: a hot key this superstep arms
                # (or, once de-skewed, disarms) the salted delivery of
                # the NEXT superstep's inbox of these same messages.
                hot = skew_row["max_inbox_group"] > SKEW_FACTOR * max(
                    skew_row["median_inbox_group"], 1.0
                )
                hot_row = skew_row if hot else None
            else:
                ctx.num_messages = _rdd_count(new_messages)
        else:
            _rdd_count(state)  # still must materialize before releasing prev
            ctx.num_messages = 0

        # 5. Global aggregates → driver (partial-per-worker + merge is
        #    Spark's partial aggregation; ≡ WorkerAggregatorHandler).
        if aggregates:
            ctx.aggregates = new_vertices.agg(*aggs_of(ctx)).collect()[0].asDict()

        # 6. Master compute (driver).
        ctx.vertices = new_vertices
        if master_fn is not None:
            master_fn(ctx)

        metrics.supersteps.append(
            {
                "superstep": superstep,
                "messages": ctx.num_messages,
                "partitions": _gear.cur,
                "seconds": time.monotonic() - t0,
                **(skew_row or {}),
            }
        )

        # Durable checkpoint: state is already materialized (the count
        # action above), so these writes read from the checkpoint blocks /
        # message cache, not recompute.
        if (
            state_checkpoint_dir
            and checkpoint_every
            and (superstep + 1) % checkpoint_every == 0
        ):
            d = f"{state_checkpoint_dir}/superstep={superstep}"
            new_vertices.write.mode("overwrite").parquet(f"{d}/vertices")
            if new_messages is not None:
                new_messages.write.mode("overwrite").parquet(f"{d}/messages")
            # Commit marker LAST: the vertices and messages writes are two
            # separate jobs, so a crash between them would otherwise leave
            # a checkpoint that looks complete but silently lost its
            # in-flight messages (a resumed vote-to-halt run would see
            # zero messages + all-halted and terminate with partial
            # results). resume_pregel only considers marked supersteps —
            # Giraph's finalized-checkpoint flag
            # (``BspServiceWorker.storeCheckpoint`` metadata finalization).
            fs, marker = _hadoop_fs(spark, f"{d}/_COMMITTED")
            fs.create(marker, True).close()

        # 7. Release previous superstep state. The explicit unpersist
        #    covers persisted message frames and the initial vertices
        #    persist; localCheckpoint blocks are freed by the
        #    ContextCleaner once their RDDs are GC'd — the gc.collect()
        #    drops this side's py4j references so that actually happens
        #    promptly. Without it, a session running many pregel jobs
        #    accumulates dead superstep blocks in the block manager and
        #    every query gets progressively slower (observed: wcc 2×
        #    slower as the 5th query of a session than standalone).
        for old in (prev_vertices, prev_messages):
            if old is not None:
                old.unpersist()
        prev_vertices, vertices = vertices, new_vertices
        prev_messages, messages = messages, new_messages
        if checkpoint_every and (superstep + 1) % checkpoint_every == 0:
            gc.collect()

        # 8. Termination: external halt signal (one FS existence probe per
        #    superstep ≡ the master's halt-znode watch), master halt, or
        #    all-halted ∧ no messages (BspServiceMaster.java:1681-1685).
        #    An always-halt program has every vertex halted already, so it
        #    ends without the probe. Every other program keeps it: the
        #    probe is also the job that materializes the final state when
        #    the last send plan folds to an empty relation (PageRank's
        #    gated final send). Without it that state is computed after
        #    the gear has released the message cache, from further back
        #    (measured on perfbench's pagerank-powerlaw: shuffle read
        #    6194183 -> 9658459 bytes).
        if state_checkpoint_dir and _consume_halt_file(
            spark, f"{state_checkpoint_dir}/HALT"
        ):
            ctx.halt()
        if ctx._halt:
            break
        if ctx.num_messages == 0 and (
            always_halt or vertices.filter(not_halted).limit(1).count() == 0
        ):
            break

        # 9. Adaptive gear change: re-size the loop's shuffle width from
        #    the live message volume (frontier collapse). Gearing down is
        #    gated on a DECLINING message count — during ramp-up the
        #    frontier fans out by the average degree each superstep, and
        #    gearing down just before the explosion serializes the heavy
        #    supersteps (measured 1.5× slower). The width never drops
        #    below what the per-superstep O(V) state rewrite needs — a
        #    vertex count taken only when the gear could narrow (at width
        #    1 it buys nothing). Gear-up is always allowed (guards against
        #    post-decline regrowth). The 2× hysteresis bounds state re-keys
        #    to O(log nparts) per run; each re-key exchange folds into the
        #    next superstep's job.
        if new_messages is not None:
            if _gear.floor_rows is None and _gear.cur > 1:
                _gear.floor_rows = vertices.count()
            width = _gear.cur
            declining = prev_msg_count is not None and (
                ctx.num_messages < prev_msg_count
            )
            if _gear.resize(ctx.num_messages, declining) != width:
                vertices = vertices.repartition(_gear.cur, id_key)
            prev_msg_count = ctx.num_messages

    return vertices.drop(MSG, HAS_MSG, HALTED, ACTIVE)
