"""The kernel's per-superstep driver path: a static program (every
kernel parameter a Column, as sssp, bfs and wcc are) is built once, so
from superstep 2 on a superstep builds no Column and makes the same py4j
round trips; its ``~_has_msg`` seeding survives a resume; an always-halt
run ends without the all-halted probe; a nested gear leaves the exit
``gc.collect()`` to the outermost one; and PageRank's fixed-length loop
runs one job per round."""

import gc
import importlib

import pytest
from pyspark.sql import functions as F

from giraph_spark import Graph, PregelMetrics
from giraph_spark.algos import components, paths
from giraph_spark.algos.pagerank import pagerank
from giraph_spark.pregel import request_halt, resume_pregel

kernel = importlib.import_module("giraph_spark.pregel")


@pytest.fixture(scope="module")
def chain(spark):
    """A weighted path 0 -> 9 with a long detour 0 -> 4 and a shortcut
    2 -> 6: sssp takes 9 supersteps, bfs and wcc fewer."""
    vertices = spark.createDataFrame([(i,) for i in range(10)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(9)] + [(0, 4, 9.0), (2, 6, 1.5)],
        "src long, dst long, weight double",
    )
    return Graph(vertices, edges)


class _SpyF:
    """Stands in for ``pyspark.sql.functions`` and records the functions
    called while ``armed``. Each wrapper is made once, so identity tests
    such as ``combine is F.min`` still hold."""

    def __init__(self, module):
        self._module = module
        self.armed = False
        self.calls: list[str] = []

    def __getattr__(self, name):
        attr = getattr(self._module, name)
        if not callable(attr):
            return attr

        def spy(*args, **kwargs):
            if self.armed:
                self.calls.append(name)
            return attr(*args, **kwargs)

        setattr(self, name, spy)
        return spy


@pytest.mark.parametrize(
    "run",
    [
        lambda g, **kw: paths.sssp(g, 0, **kw),
        lambda g, **kw: paths.bfs(g, 0, **kw),
        lambda g, **kw: components.connected_components(g, **kw),
        lambda g, **kw: paths.sssp_with_paths(g, 0, **kw),
        lambda g, **kw: paths.pivot_distances(g, [0, 5], **kw),
        # the chain reversed, so the max id floods the whole path
        lambda g, **kw: components.max_propagation(
            Graph(g.vertices, g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )),
            **kw,
        ),
    ],
    ids=[
        "sssp", "bfs", "connected_components", "sssp_with_paths",
        "pivot_distances", "max_propagation",
    ],
)
def test_static_program_builds_no_column_after_superstep_1(chain, monkeypatch, run):
    spy = _SpyF(kernel.F)
    for mod in (kernel, paths, components):
        monkeypatch.setattr(mod, "F", spy)
        if mod is not kernel:
            # disarm when the kernel returns: the algorithm's own
            # post-processing (bfs' -1 fill) is not a superstep
            def disarmed(*args, _run=mod.propagate, **kwargs):
                try:
                    return _run(*args, **kwargs)
                finally:
                    spy.armed = False

            monkeypatch.setattr(mod, "propagate", disarmed)

    def arm(ctx):
        if ctx.superstep == 1:
            spy.armed = True

    m = PregelMetrics()
    run(chain, metrics=m, master_fn=arm)
    assert m.num_supersteps >= 4
    assert spy.calls == []


def test_round_trips_per_superstep_are_constant(spark, chain, monkeypatch):
    client = spark._sc._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        # object deletes follow Python's garbage collector, not the kernel
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    marks: list[int] = []
    paths.sssp(chain, 0, master_fn=lambda ctx: marks.append(sent[0]))
    # marks[k] is taken in superstep k's master_fn, so the window
    # marks[k] -> marks[k + 1] holds superstep k's release and superstep
    # k + 1's build: from k = 2 on, supersteps >= 2 only
    windows = [b - a for a, b in zip(marks[2:], marks[3:])]
    assert len(windows) >= 4
    assert len(set(windows)) == 1, windows


def test_resumed_sssp_matches_uninterrupted(spark, chain, tmp_path, monkeypatch):
    """sssp's superstep-0 seed is ``~_has_msg``, not a superstep index: a
    resumed always-halt run computes only woken vertices, so the
    distances and every superstep's message count equal an uninterrupted
    run's."""

    def rows(m):
        return [(s["superstep"], s["messages"]) for s in m.supersteps]

    full_m = PregelMetrics()
    full = {r["id"]: r["distance"] for r in paths.sssp(chain, 0, metrics=full_m).collect()}

    ckpt = str(tmp_path / "ckpt")
    # halt after superstep 3 (checkpoints committed at 1 and 3): the halt
    # request lands while superstep 3 runs, before its sentinel probe
    consume = kernel._consume_halt_file
    probes = []

    def halt_in_superstep_3(spark_, path):
        probes.append(path)
        if len(probes) == 4:
            request_halt(spark_, ckpt)
        return consume(spark_, path)

    monkeypatch.setattr(kernel, "_consume_halt_file", halt_in_superstep_3)
    cut_m = PregelMetrics()
    paths.sssp(
        chain, 0, metrics=cut_m, state_checkpoint_dir=ckpt, checkpoint_every=2,
    )
    monkeypatch.setattr(kernel, "_consume_halt_file", consume)
    # the same sssp kernel arguments, restarted from the checkpoint; the
    # patch is one-shot, as resume_pregel itself enters the kernel's pregel
    run = kernel.pregel

    def resume_once(graph, **kw):
        monkeypatch.setattr(kernel, "pregel", run)
        return resume_pregel(graph, ckpt, **kw)

    monkeypatch.setattr(kernel, "pregel", resume_once)
    res_m = PregelMetrics()
    resumed = {
        r["id"]: r["distance"]
        for r in paths.sssp(chain, 0, metrics=res_m, checkpoint_every=2).collect()
    }
    assert resumed == full
    assert rows(cut_m) + rows(res_m) == rows(full_m)
    assert res_m.supersteps[0]["superstep"] == 4


def _jobs_around_message_counts(spark, monkeypatch, run):
    """(jobs of ``run``, jobs after its last per-superstep message
    count), read as ``DAGScheduler.nextJobId`` deltas."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    count = kernel._rdd_count
    after_count = [0]

    def counted(df):
        n = count(df)
        after_count[0] = dag.nextJobId()
        return n

    monkeypatch.setattr(kernel, "_rdd_count", counted)
    start = dag.nextJobId()
    run()
    end = dag.nextJobId()
    return end - start, end - after_count[0]


def test_always_halt_run_makes_no_termination_probe(spark, chain, monkeypatch):
    """sssp votes to halt every superstep: its run is one edge count plus
    one message count per superstep, with no all-halted probe after the
    last. A program with a halt vote of its own (here a fixed-length
    scatter whose last send is gated off) keeps the probe."""
    m = PregelMetrics()
    jobs, tail = _jobs_around_message_counts(
        spark, monkeypatch, lambda: paths.sssp(chain, 0, metrics=m)
    )
    assert m.num_supersteps >= 4
    assert (jobs, tail) == (1 + m.num_supersteps, 0)

    _, tail = _jobs_around_message_counts(
        spark,
        monkeypatch,
        lambda: kernel.pregel(
            chain,
            initial={"x": F.lit(1.0)},
            update={"x": F.coalesce(F.col(kernel.MSG), F.col("x"))},
            send_msg=lambda ctx: F.when(F.lit(ctx.superstep < 3), F.col("x")),
            combine=F.sum,
            msg_type="double",
            vote_to_halt=lambda ctx: F.lit(ctx.superstep >= 3),
        ),
    )
    assert tail == 1


@pytest.mark.parametrize(
    "dangling,jobs", [(False, 4), (True, 5)], ids=["plain", "dangling"]
)
def test_pagerank_runs_one_job_per_round(spark, chain, dangling, jobs):
    """PageRank's fixed-length loop: one job counts the vertices and the
    messages, then one job per round, and no halting probe; the dangling
    variant adds one job for superstep 0's dangling mass. The superstep
    rows are the Pregel form's: 0..3, the message count on each but the
    last."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    m = PregelMetrics()
    start = dag.nextJobId()
    pagerank(chain, iterations=3, dangling=dangling, metrics=m)
    assert dag.nextJobId() - start == jobs
    assert [(s["superstep"], s["messages"]) for s in m.supersteps] == [
        (0, 11), (1, 11), (2, 11), (3, 0)
    ]


def test_wcc_collects_garbage_once(spark, monkeypatch):
    """wcc's kernel gear nests in wcc's own registry gear: one exit
    ``gc.collect()`` between them, not one each."""
    g = Graph(
        spark.createDataFrame([(i,) for i in range(6)], "id long"),
        spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "src long, dst long"),
    )
    collect = gc.collect
    calls: list[int] = []
    monkeypatch.setattr(gc, "collect", lambda *a: calls.append(1) or collect(*a))
    m = PregelMetrics()
    components.wcc(g, metrics=m)
    # below checkpoint_every, so the kernel's periodic collection is idle
    assert m.num_supersteps < 6
    assert len(calls) == 1
