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
With ``checkpoint_dir`` set, every ``checkpoint_every``-th superstep uses a
reliable ``checkpoint()`` instead, which both survives executor loss and
lets long jobs resume (Giraph's CHECKPOINT_FREQUENCY,
``conf/GiraphConstants.java:927``).
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
from .plans.gear import ROWS_PER_PARTITION, LoopGear

MSG = "_msg"
HAS_MSG = "_has_msg"
HALTED = "_halted"
ACTIVE = "_gs_active"

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
    num_vertices: int = 0
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
    (supersteps, sent messages, vertices) + ``GiraphTimers``.

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


def _auto_partitions(graph: Graph, conf_parts: int) -> int:
    """Size the run's shuffle-partition count from the graph, bounded
    above by the session's ``spark.sql.shuffle.partitions`` (the
    cluster-scale ceiling the user configured). Giraph sizes partition
    count from the worker fleet (``USER_PARTITION_COUNT`` default
    workers², ``conf/GiraphConstants.java:914``); a DataFrame loop wants
    it sized from the *data*: at small scale, per-task scheduling
    overhead dominates (measured: PageRank sf0.1 runs 3× faster on 8
    partitions than 32 on a 32-core local box), while at cluster scale
    ``ceil(edges / ROWS_PER_PARTITION)`` exceeds any sane ceiling and
    the session setting governs. The one edge count this costs per run
    is Giraph's input-superstep edge count (``GiraphStats``); on a
    persisted graph it is a cached-count no-op."""
    edge_rows = graph.edges.count()
    return max(1, min(conf_parts, -(-edge_rows // ROWS_PER_PARTITION)))


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

    ``num_partitions`` fixes the loop's shuffle-partition count; the
    default auto-sizes it from the edge count (:func:`_auto_partitions`),
    standing in for the coalescing AQE would have done. The session's
    ``spark.sql.shuffle.partitions`` is set to the chosen value for the
    duration of the run (and restored), so every loop shuffle — inbox
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
    spark = graph.vertices.sparkSession
    if num_partitions is not None:
        nparts = num_partitions
    elif graph.edges_layout is not None:
        # bucketed input: adopt the storage width so the bucketed scan IS
        # the loop partitioning and the input repartition disappears
        nparts = graph.edges_layout[1]
    else:
        nparts = _auto_partitions(
            graph, int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        )
    # The gear releases every frame the run persists on ANY exit — normal
    # return, master_fn exception, executor loss. Without this, a failed
    # attempt (exactly the case run_with_retries exists for) would leave
    # the cached edge relation + message frames in the block manager, and
    # retries would stack copies until OOM.
    with LoopGear(spark, width=nparts) as gear:
        return _pregel_impl(graph, gear=gear, **kwargs)


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
    return pregel(
        graph,
        start_superstep=last + 1,
        _resume_vertices=vdf,
        _resume_messages=mdf,
        **kwargs,
    )


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
    vote_to_halt: Expr | None = None,
    msg_type: str | None = None,
    aggregates: dict[str, Expr] | None = None,
    master_fn: Callable[[PregelContext], None] | None = None,
    skew_metrics: bool = False,
    combine_algebraic: bool = False,
    skew_factor: float = 32.0,
    skew_salts: int = 16,
    halt_file: str | None = None,
    max_supersteps: int = 100,
    start_superstep: int = 0,
    adaptive_partitions: bool = True,
    checkpoint_every: int = 6,
    checkpoint_dir: str | None = None,
    state_checkpoint_dir: str | None = None,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    metrics: PregelMetrics | None = None,
    _resume_vertices: DataFrame | None = None,
    _resume_messages: DataFrame | None = None,
    gear: LoopGear,
) -> DataFrame:
    """Run a Pregel computation; returns the final vertices DataFrame
    (engine columns dropped).

    Parameters
    ----------
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
        inbound message).
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
        ``max_inbox_group`` / ``median_inbox_group`` — the in-loop skew
        observability a 100× user needs to decide when to reach for
        :func:`giraph_spark.partitioning.salt_heavy_keys` (a hot vertex
        is a hot key in the delivery shuffle; max ≫ median is the salt
        signal). Still one action per superstep, but the extra
        ``groupBy(_dst)`` pre-pays the delivery shuffle's cost a second
        time — diagnostic mode, off by default. The reference gets the
        equivalent from per-worker received-message counters
        (``counters/GiraphStats.java:39-51`` + per-superstep counters,
        ``conf/GiraphConstants.java:846``).
    combine_algebraic / skew_factor / skew_salts:
        the closed skew loop (observation → response, ≡ Giraph's
        rebalance-on-observation, ``partition/PartitionBalancer.java:357``
        / ``PartitionExchange.java``). Requires ``skew_metrics=True``.
        When a superstep observes ``max_inbox_group > skew_factor ×
        max(median_inbox_group, 1)`` — a hot vertex — the NEXT
        superstep's delivery runs a two-phase salted aggregation:
        ``groupBy(_dst, _salt)`` partials (hot key spread over
        ``skew_salts`` reducers) merged by the normal ``groupBy(_dst)``.
        This is sound ONLY for self-decomposable combiners —
        ``cmb(cmb(partition), …) == cmb(all)``: sum/min/max/bool —
        so it activates only when the caller declares
        ``combine_algebraic=True``; ``count``-style combiners (merge is
        sum, not count) and the combiner-less ``collect_list`` inbox do
        NOT qualify, and a hot-key observation there emits a one-shot
        warning naming :func:`giraph_spark.partitioning.salt_heavy_keys`
        and the bounded-combiner redesign
        (``algos.components.core_numbers``'s threshold-count message is
        the in-repo example). Why this matters even though map-side
        partial aggregation already combines per map partition: the hot
        vertex's FINAL merge otherwise receives one partial per map
        partition — tens of thousands of rows in a single task on a
        1000-executor cluster — where the salted phase bounds it to
        ``skew_salts``. The trigger re-evaluates every superstep, so the
        extra phase disappears as soon as the frontier de-skews.
    halt_file:
        out-of-band stop signal — the analog of ``bin/halt-application``
        writing the halt znode (``master/BspServiceMaster.java:1685-1691``):
        a path (any Hadoop-reachable filesystem) checked once per
        superstep; if it exists, the file is consumed (deleted) and the
        run halts cleanly after the current superstep, leaving state
        resumable via durable checkpoints. Defaults to
        ``{state_checkpoint_dir}/HALT`` when ``state_checkpoint_dir`` is
        set. Request a halt from outside the driver with
        :func:`request_halt`.
    adaptive_partitions:
        when true (default), the loop re-sizes its shuffle-partition count
        from the live message volume: after a superstep whose
        ``num_messages`` implies a partition count ≥2× smaller (or larger)
        than the current one, the session shuffle setting is changed and
        the vertex state re-keyed once at the new width. This is the
        frontier-collapse optimization: SSSP/BFS/WCC frontiers shrink by
        orders of magnitude in their tail supersteps, and without AQE
        (which must stay off in-loop) every tail superstep would otherwise
        pay the full-width task count for near-empty shuffles — at cluster
        scale, tens of thousands of empty tasks per superstep. The 2×
        hysteresis bounds re-key shuffles to O(log width) per run; the
        cached edge relation keeps its original width (EnsureRequirements
        re-shuffles the tiny frontier side up to meet it, never the edges).
        Mirrors the adaptive compute-thread/partition sizing Giraph gets
        from per-worker message stores draining in place.
    state_checkpoint_dir:
        when set, every ``checkpoint_every``-th superstep the post-update
        vertex state AND the in-flight messages are written as parquet under
        ``{dir}/superstep={N}/`` — Giraph's durable checkpoint
        (``worker/BspServiceWorker.storeCheckpoint``,
        ``BspServiceWorker.java:1340``; cadence ``CHECKPOINT_FREQUENCY``,
        ``conf/GiraphConstants.java:927``). Restart with
        :func:`resume_pregel` (≡ ``loadCheckpoint``,
        ``BspServiceWorker.java:1584``).
    """
    ctx = PregelContext()
    metrics = metrics if metrics is not None else PregelMetrics()

    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col

    if _resume_vertices is not None:
        vertices = _resume_vertices  # engine columns included in the save
    else:
        vertices = graph.vertices
        if initial:
            vertices = vertices.withColumns(
                {k: _resolve(v, ctx) for k, v in initial.items()}
            )
    if HALTED not in vertices.columns:
        vertices = vertices.withColumn(HALTED, F.lit(False))

    edges = graph.edges
    spark = vertices.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    halt_path = halt_file
    if halt_path is None and state_checkpoint_dir:
        halt_path = f"{state_checkpoint_dir}/HALT"

    # Pre-partition the (static) edge relation by its join key ONCE and
    # keep it cached: every superstep's triplet join then sees a
    # co-partitioned build side and ships zero edge bytes — the analog of
    # Giraph loading each vertex's out-edges onto its owning worker at
    # input time (edge store move, BspServiceWorker.java:611). The state
    # side stays hash-partitioned on id because checkpoint/localCheckpoint
    # preserves the physical partitioning from the inbox join.
    nparts = gear.ceiling
    prev_msg_count: int | None = None

    def _persist(df: DataFrame) -> DataFrame:
        return gear.persist(df, storage_level)

    edges_by_src: DataFrame | None = None
    edges_by_dst: DataFrame | None = None
    if messages_fn is None:
        if send_msg is not None:
            if graph.edges_layout == (src_col, nparts):
                # bucketed storage already hash-partitions edges on src at
                # the loop width: cache the scan as-is, zero input shuffle
                edges_by_src = _persist(edges)
                metrics.run_info["edges_from_storage_layout"] = True
            else:
                edges_by_src = _persist(edges.repartition(nparts, F.col(src_col)))
        if send_msg_to_src is not None:
            edges_by_dst = _persist(edges.repartition(nparts, F.col(dst_col)))

    if _resume_vertices is None and graph.vertices_layout == (id_col, nparts):
        vertices = _persist(vertices)
        metrics.run_info["vertices_from_storage_layout"] = True
    else:
        vertices = _persist(vertices.repartition(nparts, F.col(id_col)))
    messages: DataFrame | None = None
    if _resume_messages is not None:
        messages = _persist(_resume_messages)
    prev_vertices: DataFrame | None = None
    prev_messages: DataFrame | None = None
    salt_next = False   # armed by a hot-key observation (skew_metrics)
    skew_warned = False

    null_msg = F.lit(None).cast(msg_type) if msg_type else F.lit(None)

    # start_superstep > 0 = restart path (Giraph's restart-from-checkpoint,
    # ``BspServiceWorker.loadCheckpoint``): the caller passes the saved
    # vertices as graph.vertices / ``initial`` and the superstep counter
    # resumes where it left off, so superstep-indexed logic (fixed-iteration
    # PageRank, phase machines) continues correctly.
    for superstep in range(start_superstep, max_supersteps):
        ctx.superstep = superstep
        t0 = time.monotonic()

        # 1. Deliver: group inbox by destination, combine. (The previous
        #    superstep's engine columns are replaced, not duplicated.)
        base = vertices.drop(MSG, HAS_MSG, ACTIVE)
        salted_this = False
        if messages is None:
            joined = base.withColumns({MSG: null_msg, HAS_MSG: F.lit(False)})
        else:
            cmb = combine_fn(ctx) if combine_fn is not None else combine
            agg = (cmb(F.col("_m")) if cmb else F.collect_list("_m")).alias(MSG)
            src_msgs = messages
            if salt_next and cmb is not None and combine_algebraic:
                # Two-phase salted delivery (skew response): phase 1
                # spreads the hot dst over skew_salts reducers; phase 2
                # (the normal groupBy below) merges <= skew_salts
                # partials per dst. Sound because the caller declared
                # the combiner self-decomposable; result is independent
                # of the salt assignment, so the salt only needs spread,
                # not determinism.
                src_msgs = (
                    messages.withColumn(
                        "_salt",
                        F.pmod(
                            F.xxhash64(F.col("_m")) + F.spark_partition_id(),
                            F.lit(skew_salts),
                        ),
                    )
                    .groupBy("_dst", "_salt")
                    .agg(cmb(F.col("_m")).alias("_m"))
                    .drop("_salt")
                )
                salted_this = True
            inbox = (
                src_msgs.groupBy(F.col("_dst").alias(id_col))
                .agg(agg)
                .withColumn(HAS_MSG, F.lit(True))
            )
            # shuffle_hash hint: the state side is already hash-partitioned
            # on id (from the previous superstep's checkpoint), so this join
            # only shuffles the (combined) inbox — the message-delivery
            # shuffle, and nothing else. Without the hint Spark broadcasts
            # the inbox every superstep: wasted driver round-trips here, an
            # OOM at cluster scale where the inbox is as big as the vertex
            # set.
            joined = base.join(
                inbox.hint("shuffle_hash"), on=id_col, how="left"
            ).withColumn(HAS_MSG, F.coalesce(F.col(HAS_MSG), F.lit(False)))

        # 2. Active set: not-halted ∪ woken-by-message
        #    (ComputeCallable.java:335-338). The update is applied as
        #    conditional expressions over ALL rows (single pass, single
        #    reference to `joined`) rather than filter+union — a union
        #    would embed the previous superstep's plan multiple times and
        #    make the logical plan grow as 3^superstep.
        active = ~F.col(HALTED) | F.col(HAS_MSG)
        joined = joined.withColumn(ACTIVE, active)
        upd = _resolve(update, ctx)
        upd = {k: _resolve(v, ctx) for k, v in upd.items()}
        existing = set(joined.columns)
        cond_upd = {
            k: F.when(F.col(ACTIVE), v).otherwise(
                F.col(k) if k in existing else F.lit(None)
            )
            for k, v in upd.items()
        }
        state = joined.withColumns(cond_upd)
        halt_expr = (
            _resolve(vote_to_halt, ctx) if vote_to_halt is not None else F.lit(False)
        )
        # vote_to_halt is evaluated after the update batch (sees new values,
        # as Giraph's voteToHalt inside compute() does).
        state = state.withColumn(
            HALTED, F.when(F.col(ACTIVE), halt_expr).otherwise(F.col(HALTED))
        )

        # 3. Materialize + truncate lineage EVERY superstep. Truncation is
        #    correctness-of-operation, not an optimization: every other
        #    frame (messages, inbox, next join) derives from this leaf, so
        #    per-superstep plan size stays constant (SURVEY §4.5/§7.3).
        if checkpoint_dir and checkpoint_every and (superstep + 1) % checkpoint_every == 0:
            state = state.checkpoint(eager=False)  # reliable, for resume at scale
        else:
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
        computed = state.filter(F.col(ACTIVE))
        new_messages: DataFrame | None = None
        skew_row: dict[str, Any] | None = None
        if messages_fn is not None:
            new_messages = messages_fn(computed, edges, ctx)
        else:
            # shuffle_hash hint on the state side: state is hash-partitioned
            # on id and the cached edge relation on src (resp. dst), so the
            # triplet join is fully co-partitioned — ZERO exchange, build
            # side = the (smaller) per-partition vertex state. Without the
            # hint Spark re-broadcasts the whole edge relation every
            # superstep (observed via .explain) — wrong at any scale where
            # edges don't fit one executor, and measurable overhead even
            # locally.
            parts = []
            if send_msg is not None:
                e = edges_by_src if edges_by_src is not None else edges
                triplet = computed.hint("shuffle_hash").join(
                    e, computed[id_col] == e[src_col]
                )
                parts.append(
                    triplet.select(
                        F.col(dst_col).alias("_dst"),
                        _resolve(send_msg, ctx).alias("_m"),
                    )
                )
            if send_msg_to_src is not None:
                e = edges_by_dst if edges_by_dst is not None else edges
                triplet = computed.hint("shuffle_hash").join(
                    e, computed[id_col] == e[dst_col]
                )
                parts.append(
                    triplet.select(
                        F.col(src_col).alias("_dst"),
                        _resolve(send_msg_to_src, ctx).alias("_m"),
                    )
                )
            if parts:
                new_messages = parts[0]
                for p in parts[1:]:
                    new_messages = new_messages.unionByName(p)
        # Single action per superstep: counting the messages materializes
        # the (lazily checkpointed) state as a by-product, since messages
        # derive from it. Giraph's per-superstep barrier = this one job.
        if new_messages is not None:
            new_messages = new_messages.filter(F.col("_m").isNotNull())
            if metrics.capture_plans:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    new_messages.explain("formatted")
                metrics.plans.append(buf.getvalue())
            new_messages = _persist(new_messages)
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
                # (or, once de-skewed, disarms) the salted delivery for
                # the NEXT superstep's inbox of these same messages.
                hot = skew_row["max_inbox_group"] > skew_factor * max(
                    skew_row["median_inbox_group"], 1.0
                )
                can_salt = combine_algebraic and (
                    combine is not None or combine_fn is not None
                )
                salt_next = hot and can_salt
                if hot and not can_salt and not skew_warned:
                    skew_warned = True
                    warnings.warn(
                        "pregel: hot destination observed "
                        f"(max_inbox_group={skew_row['max_inbox_group']} > "
                        f"{skew_factor}x median="
                        f"{skew_row['median_inbox_group']}); the combiner is "
                        "not declared self-decomposable so the salted "
                        "delivery cannot engage. Pass combine_algebraic=True "
                        "(sum/min/max-style combiners), pre-salt with "
                        "giraph_spark.partitioning.salt_heavy_keys, or "
                        "redesign the message to a bounded combinable form "
                        "(see algos.components.core_numbers).",
                        stacklevel=2,
                    )
            else:
                ctx.num_messages = new_messages.count()
        else:
            state.count()  # still must materialize before releasing prev
            ctx.num_messages = 0
        ctx.num_vertices = -1  # constant per run; not worth an action

        # 5. Global aggregates → driver (partial-per-worker + merge is
        #    Spark's partial aggregation; ≡ WorkerAggregatorHandler).
        if aggregates:
            row = new_vertices.agg(
                *[
                    _resolve(expr, ctx).alias(name)
                    for name, expr in aggregates.items()
                ]
            ).collect()[0]
            ctx.aggregates = row.asDict()

        # 6. Master compute (driver).
        ctx.vertices = new_vertices
        if master_fn is not None:
            master_fn(ctx)

        metrics.supersteps.append(
            {
                "superstep": superstep,
                "vertices": ctx.num_vertices,
                "messages": ctx.num_messages,
                "partitions": gear.cur,
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
        if halt_path is not None and _consume_halt_file(spark, halt_path):
            ctx.halt()
        if ctx._halt:
            break
        if ctx.num_messages == 0:
            any_active = (
                vertices.filter(~F.col(HALTED)).limit(1).count() > 0
            )
            if not any_active:
                break

        # 9. Adaptive gear change: re-size the loop's shuffle width from
        #    the live message volume (frontier collapse). Gearing down is
        #    gated on a DECLINING message count — during ramp-up the
        #    frontier fans out by the average degree each superstep, and
        #    gearing down just before the explosion serializes the heavy
        #    supersteps (measured 1.5× slower). The width never drops
        #    below what the per-superstep O(V) state rewrite needs. Gear-up
        #    is always allowed (guards against post-decline regrowth). The
        #    2× hysteresis bounds state re-keys to O(log nparts) per run;
        #    each re-key exchange folds into the next superstep's job.
        if adaptive_partitions and new_messages is not None:
            if gear.floor_rows is None:
                gear.floor_rows = vertices.count()
            width = gear.cur
            declining = prev_msg_count is not None and (
                ctx.num_messages < prev_msg_count
            )
            if gear.resize(ctx.num_messages, declining) != width:
                vertices = vertices.repartition(gear.cur, F.col(id_col))
            prev_msg_count = ctx.num_messages

    return vertices.drop(MSG, HAS_MSG, HALTED, ACTIVE)
