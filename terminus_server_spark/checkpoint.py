"""Lineage truncation and session scoping for iterative loops (path
closure, components, k-core, PageRank, commit-DAG walk).

Every checkpoint goes through one helper, ``_checkpoint``, which holds
the reliable/local choice; ``loop_checkpoint`` (eager),
``loop_checkpoint_count`` / ``loop_checkpoint_sum`` (lazy, fused with
the loop's fixpoint probe) and ``plan_checkpoint`` (lazy) only add
their action.  A checkpointed frame is a single ``LogicalRDD`` over
the checkpointed RDD, so ``release`` can drop exactly the blocks one
checkpoint wrote once its maker is done with them (the semi-naive
kernel in ``operators.path`` releases every round this way).

Every fixpoint loop runs through ``run_loop``, which plans the loop
in a clone of the caller's session tuned for frontier-sized state.
The clone helper under it, ``run_in_clone``, also scopes the stream
replay harnesses (streaming/events.py): a query started there keeps
its state partition count in the clone.  The caller's own conf is
never written, so other requests on the same session never see a
loop's or a stream's settings.

Default is ``localCheckpoint`` — executor-local block storage, the
fastest way to stop a loop's plan growing exponentially.  Its blocks
die with the executor, so on preemption-prone clusters (spot
instances, dynamic allocation with aggressive downscaling) a lost
executor kills the job instead of recomputing.  Setting
``spark.terminus_server_spark.reliableCheckpoint`` to ``true`` in the
session conf (and, optionally, ``spark.terminus_server_spark.checkpointDir``
to an ``hdfs://`` path) writes reliable checkpoints to the
(fault-tolerant) checkpoint dir instead — slower per iteration,
survives executor loss.  The setting reaches every loop, min-plus
path doubling included.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.core.rdd import RDD
from pyspark.sql import DataFrame, SparkSession

RELIABLE_CONF = "spark.terminus_server_spark.reliableCheckpoint"
DIR_CONF = "spark.terminus_server_spark.checkpointDir"
_DEFAULT_DIR = "/tmp/terminus_server_spark_checkpoints"

# Target rows per partition for *loop state* frames.  Iterative
# operators count their state every round anyway (the fixpoint
# probe), so the count from round k is a free, exact size hint for
# round k+1's materialization — a 15k-row fixpoint tail should be
# one task, not a 32-task stage whose scheduling overhead dominates
# deep loops.  Large states keep their parallelism: the hint only
# ever *reduces* partition count (coalesce), and only when the
# computed target is below the cluster's default parallelism.
_LOOP_ROWS_PER_PARTITION = 500_000


def _sized(df: DataFrame, size_hint: int | None) -> DataFrame:
    if size_hint is None:
        return df
    sc = df.sparkSession.sparkContext
    p = max(1, -(-size_hint // _LOOP_ROWS_PER_PARTITION))
    if p >= sc.defaultParallelism:
        return df
    return df.coalesce(p)


# A size-in-bytes estimate wider than this many bits is past any
# physical meaning (2^200 bytes) — it can only be the compounding
# artifact below, never information the planner can use.
_STATS_SANE_BITS = 200


def _strip_exploded_stats(df: DataFrame) -> DataFrame:
    """Bound the size-in-bytes estimate carried by a checkpoint leaf.

    ``localCheckpoint`` propagates the origin plan's statistics into
    the resulting ``LogicalRDD``, and ``SizeInBytesOnlyStatsPlanVisitor``
    MULTIPLIES child estimates at every join — so an iterative loop
    whose round joins its own checkpointed state (pointer jumping,
    min-label propagation, frontier closures) SQUARES the estimate
    every round.  After tens of rounds the estimate is a
    multi-million-digit BigInteger and every subsequent plan's stats
    pass spends seconds in BigInteger.multiply on the driver
    (measured on graph_scc_incremental: a 48 s driver stall with zero
    jobs running; the whole key 103 s -> 15 s once bounded).

    When the estimate is astronomically past physical meaning the
    checkpointed frame is rebuilt over the SAME RDD without origin
    stats (leaf reverts to the default estimate); genuinely small
    real estimates are kept, so auto-broadcast decisions on loop
    state are unchanged."""
    jdf = df._jdf
    try:
        bits = int(
            jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()
    except Exception:
        return df
    if bits <= _STATS_SANE_BITS:
        return df
    spark = df.sparkSession
    out = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().analyzed().rdd(), jdf.schema(), False
    )
    return DataFrame(out, spark)


def _checkpoint(df: DataFrame, size_hint: int | None, eager: bool) -> DataFrame:
    """The one place that picks reliable or local checkpointing."""
    df = _sized(df, size_hint)
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CONF, "false").lower() == "true":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(spark.conf.get(DIR_CONF, _DEFAULT_DIR))
        return _strip_exploded_stats(df.checkpoint(eager=eager))
    return _strip_exploded_stats(df.localCheckpoint(eager=eager))


def loop_checkpoint(df: DataFrame, size_hint: int | None = None) -> DataFrame:
    """Eagerly checkpoint one loop iteration's result; chain as
    ``.transform(loop_checkpoint)``."""
    return _checkpoint(df, size_hint, eager=True)


def loop_checkpoint_count(
    df: DataFrame, size_hint: int | None = None
) -> tuple[DataFrame, int]:
    """Checkpoint one iteration AND return its row count in a single
    Spark job: the checkpoint is marked *lazily* and the ``count()``
    action materializes the blocks while aggregating.  Iterative
    operators probe a fixpoint every round (k-core's edge count, the
    path closure's empty-frontier test); running that probe as a
    second job over the just-materialized blocks doubles the
    per-round job count — pure driver/scheduler overhead that
    dominates small-data wall time and adds up on deep loops."""
    out = _checkpoint(df, size_hint, eager=False)
    return out, out.count()


def loop_checkpoint_sum(
    df: DataFrame, col: str, size_hint: int | None = None
) -> tuple[DataFrame, int]:
    """Checkpoint one iteration AND aggregate an integer flag column
    in the same materializing job (see loop_checkpoint_count) — for
    loops whose fixpoint probe is "did any row change" rather than
    "is the frontier empty"."""
    from pyspark.sql import functions as F

    out = _checkpoint(df, size_hint, eager=False)
    total = out.agg(F.sum(col)).collect()[0][0]
    return out, int(total or 0)


def plan_checkpoint(df: DataFrame, size_hint: int | None = None) -> DataFrame:
    """Lazy checkpoint used to stop *plan duplication* (not loop
    lineage): an operator that joins a frame against a projection of
    itself duplicates the frame's whole upstream plan per step —
    composing several such steps multiplies the leaf scans
    exponentially.  A lazy checkpoint makes the frame a single
    materialized leaf; blocks are written on first action."""
    return _checkpoint(df, size_hint, eager=False)


def release(df: DataFrame) -> None:
    """Drop the blocks behind a frame returned by one of the
    checkpoints above.  The frame is a single ``LogicalRDD`` over the
    checkpointed RDD, so unpersisting that RDD frees exactly the
    blocks this checkpoint wrote and nothing upstream.  Only the code
    that made the checkpoint may call this, once nothing will read
    the frame again; frames checkpointed FROM it keep their own
    blocks and stay readable."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


# Rows of loop state per shuffle partition inside ``run_loop``.
_LOOP_ROWS_PER_SHUFFLE = 50_000


def _move(x: Any, session: SparkSession) -> Any:
    """``x`` rebound to ``session`` when it is a DataFrame: the same
    analyzed plan (checkpoint leaves keep their RDDs, so ``release``
    still finds them), planned from now on under ``session``'s conf."""
    if not isinstance(x, DataFrame):
        return x
    plan = x._jdf.queryExecution().analyzed()
    dataset = session._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(session._jsparkSession, plan), session)


def run_in_clone(
    spark: SparkSession, conf: dict[str, str], body: Callable[[SparkSession], Any]
) -> Any:
    """``body(clone)`` run in a clone of ``spark`` whose own conf carries
    ``conf``, a DataFrame result bound to ``spark`` again.

    The clone keeps every other setting of ``spark`` (``reliableCheckpoint``,
    ANSI mode, temp views).  Frames the body makes in the clone plan
    under its conf; a DataFrame result is moved back, so later queries
    on it plan under the caller's conf.  Nothing is written to
    ``spark``'s conf, so nothing needs restoring, a raising body leaves
    no trace, and nested calls nest clones."""
    js = spark._jsparkSession.cloneSession()
    own = js.sessionState().conf()
    for key, value in conf.items():
        own.setConfString(key, value)
    to_df = RDD.toDF  # the SparkSession constructor rebinds it
    clone = SparkSession(spark.sparkContext, js)
    RDD.toDF = to_df
    return _move(body(clone), spark)


def run_loop(
    spark: SparkSession, state_rows: int | None, body: Callable[..., Any], *args: Any
) -> Any:
    """``body(*args)`` run in a clone of ``spark`` tuned for a fixpoint
    loop (``run_in_clone``), its result bound to ``spark`` again.

    The clone changes three settings:

    - constraint propagation off: Catalyst's Union.rewriteConstraints
      crashes (key not found: attr) when a checkpointed plan is
      unioned with a plan that shares its attribute ids — exactly the
      shape of semi-naive iteration — and it proves nothing in these
      loops (inputs are not-null-filtered up front);
    - AQE off: it schedules and re-plans a job per exchange, which on
      frontier-sized state is per-round overhead (~18 % of SCC wall
      time at sf0.1), while its small-partition coalescing is what
      the clamp below already delivers;
    - shuffle partitions clamped to the loop state (one per
      50k ``state_rows``, never above the session's width): a 32-way
      exchange over a few thousand frontier rows repeated tens of
      rounds is pure task-scheduling overhead.

    ``state_rows=None`` runs a loop's prologue — the one-time input
    materializations, which keep AQE and the session's width — with
    only constraint propagation off.

    DataFrame arguments are moved into the clone.  The body must read
    its frames through its arguments: a frame it closes over stays
    bound to the caller, and a join it roots plans untuned."""
    conf = {"spark.sql.constraintPropagation.enabled": "false"}
    if state_rows is not None:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        parts = max(1, min(width, -(-state_rows // _LOOP_ROWS_PER_SHUFFLE)))
        conf["spark.sql.shuffle.partitions"] = str(parts)
        conf["spark.sql.adaptive.enabled"] = "false"
    return run_in_clone(
        spark, conf, lambda clone: body(*(_move(a, clone) for a in args))
    )


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin an under-partitioned input up to cluster width —
    for operators whose MAP side multiplies the data (explode to
    n-grams/features) before the first shuffle.  At scale the input
    arrives as many file splits and this is a no-op; a single small
    file (one split) would otherwise run the whole explode serial.
    Only ever *increases* partitioning, and only when the plan's
    current partitioning is below ``defaultParallelism``."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)
