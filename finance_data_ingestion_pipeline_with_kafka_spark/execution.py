"""Execution-level DataFrame utilities shared across operator modules.

Home of :func:`materialize` — the single switch point every operator
that eagerly materializes an intermediate (dedup pipeline stages, the
shared PQ distance subtree) routes through, so the fault posture of the
whole engine flips with one env var — and of :class:`SessionMemo`, the
one per-session memo behind the policy children, prepared plans and
table scans.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: Last ENGINE_RELIABLE_CHECKPOINT value actually applied via
#: setCheckpointDir. Tracked here instead of reverse-parsing
#: getCheckpointDir(): Spark stores ``<dir>/<random-uuid>`` and, on
#: HDFS-class storage, reports it as a scheme-qualified URI
#: (``hdfs://nn:8020/ckpt/uuid``) that never textually matches a bare
#: env value like ``/ckpt`` — dirname/abspath comparison then mismatches
#: on every call and re-invokes setCheckpointDir per materialize(),
#: spawning a fresh UUID directory each time (file sprawl; r11 advice).
_APPLIED_CKPT_DIR: str | None = None


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a (small) intermediate and truncate its
    lineage. Default: ``localCheckpoint`` — blocks live on executors, the
    fastest option, and the right one for interactive/bench sessions
    where losing an executor fails the query and the retry IS the rerun.
    On a long 1000-executor run, executor loss mid-pipeline would kill a
    localCheckpoint-truncated job with no lineage to recompute from —
    set ``ENGINE_RELIABLE_CHECKPOINT=<dir>`` to route through Spark's
    reliable ``checkpoint()`` (HDFS-class storage) so materialized
    intermediates survive executor churn. Same dataframe either way;
    every materialization point goes through here, so the deployment
    flips with one env var.

    Reliable-path mechanics: ``checkpoint(eager=True)`` runs the action
    job and then a SECOND job that re-executes the lineage to write the
    checkpoint files — so the frame is persisted first and unpersisted
    after, the documented Spark idiom that makes the write job read the
    cached blocks instead of recomputing the subtree (on the cluster
    runs this switch targets, the subtree is exactly the expensive
    part). Iterative callers (connected components) should also enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` so superseded
    per-iteration checkpoint files are garbage-collected with their
    RDDs; see SCALE.md.
    """
    global _APPLIED_CKPT_DIR
    ckpt_dir = os.environ.get("ENGINE_RELIABLE_CHECKPOINT")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        # a CHANGED env dir re-routes instead of being silently kept; a
        # stable one is applied exactly once (one UUID subdir per value,
        # compared against our own record — see _APPLIED_CKPT_DIR). A
        # context whose dir was set outside materialize() is also
        # re-pointed once, since the module var starts None.
        # SINGLE-WRITER ASSUMPTION (ADVICE r12): materialize() is the
        # only setCheckpointDir caller in the engine (grep-enforced by
        # test_extension_semantics' no-sprawl test). If external code
        # later re-points the context's dir while ENGINE_RELIABLE_
        # CHECKPOINT stays unchanged, this check keeps checkpointing to
        # the foreign dir rather than re-routing — correct output either
        # way (checkpoint files are location-agnostic), just not our
        # configured location; re-export the env var to force a re-point.
        if ckpt_dir != _APPLIED_CKPT_DIR or sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
            _APPLIED_CKPT_DIR = ckpt_dir
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=True)


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`materialize` fused with the caller's ``count()`` into ONE
    Spark job where the backend allows it (r17, guide §2.4 — the CC
    loop's per-round fixed-point check paid a second job-scheduling
    round trip per contraction round for a count the materialization
    job had already computed).

    Default (local) path: ``localCheckpoint(eager=False)`` marks the
    plan's RDD for checkpointing and lets the ``count()`` action
    materialize the blocks — the count's single pass computes every
    partition, so ``LocalRDDCheckpointData.doCheckpoint`` finds all
    blocks cached and launches no backfill job. Identical rows, lineage
    truncation, and block lifetime as the eager form; one job instead
    of two.

    Reliable path (``ENGINE_RELIABLE_CHECKPOINT``): keeps the eager
    persist→checkpoint→unpersist idiom unchanged (its checkpoint WRITE
    is a separate job by construction, so there is nothing to fuse) and
    counts the checkpointed frame — the count reads checkpoint files,
    exactly as callers did before."""
    if os.environ.get("ENGINE_RELIABLE_CHECKPOINT"):
        out = materialize(df)
        return out, out.count()
    out = df.localCheckpoint(eager=False)
    return out, out.count()


#: Per-session capability flag for the classic ``Dataset.ofRows`` rewrap
#: (ADVICE r16): probed once on first use instead of paying a py4j
#: exception per cache hit on sessions where the internal API moved
#: (Connect, future Spark). ``None`` = not probed yet.
_OFROWS_OK: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_OFROWS_WARNED = False


def rewrap_analyzed(
    df: DataFrame, session: SparkSession | None = None
) -> DataFrame | None:
    """Fresh Dataset over ``df``'s memoized ANALYZED plan — re-executes
    every stage (new RDD, no shuffle-stage reuse), the prepared-statement
    rewrap of :func:`prepared_plan`. With ``session``, the fresh Dataset
    belongs to that session instead of ``df``'s, so it plans and runs
    under that session's runtime conf (the CC loop re-homes its edge set
    onto a narrow-width child this way). Returns ``None`` when the
    JVM-internal ``org.apache.spark.sql.classic.Dataset.ofRows`` hook is
    unavailable (non-classic session, Connect mode, moved internals):
    callers fall back to a full rebuild. The capability is probed at most once per
    session, and the first fallback logs a one-time warning — a Spark
    upgrade that breaks the hook must not silently re-pay the ~1 s
    construction this rewrap exists to remove (ADVICE r16)."""
    global _OFROWS_WARNED
    spark = session if session is not None else df.sparkSession
    ok = _OFROWS_OK.get(spark)
    if ok is False:
        return None
    try:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().analyzed()
        )
        if ok is None:
            _OFROWS_OK[spark] = True
        return DataFrame(jdf, spark)
    except Exception as ex:
        _OFROWS_OK[spark] = False
        if not _OFROWS_WARNED:
            _OFROWS_WARNED = True
            import logging

            logging.getLogger(__name__).warning(
                "classic Dataset.ofRows rewrap unavailable (%s): prepared plans "
                "fall back to full rebuilds — correct but slower (prepared-"
                "statement reuse disabled)", ex,
            )
        return None


class SessionMemo:
    """Bounded, weakly keyed, thread-safe per-session memo: ``session →
    {key: value}``, at most ``cap`` keys per session, evicting
    oldest-first. Every piece of state the engine keeps per session is
    one of these: the policy children (``registry.policy_session``), the
    prepared plans (:func:`prepared_plan`) and the table scans
    (``catalog.load_table``).

    The outer map is WEAKLY keyed by the live session object, not
    ``id(session)``, which CPython can reuse after a stopped session is
    collected: a collected session releases every value it owned, and
    the JVM objects those values pin, with it.

    ``build`` runs outside the lock, because a scan build opens its
    parent session's scan through the same memo and a lake rebuild takes
    seconds. Threads that miss together may each build; the first value
    stored wins, and every caller gets it (one child per policy)."""

    def __init__(self, cap: int):
        self.cap = cap
        #: session → {key: value}, oldest first
        self.by_session: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
        self._lock = threading.Lock()

    def get(self, session: object, key: Hashable, build: Callable[[], T]) -> T:
        with self._lock:
            value = self.by_session.get(session, {}).get(key)
        if value is None:
            value = build()
            with self._lock:
                entries = self.by_session.setdefault(session, {})
                while key not in entries and len(entries) >= self.cap:
                    entries.pop(next(iter(entries)))
                value = entries.setdefault(key, value)
        return value


#: Prepared plans: session → {key: DataFrame}, for the registry's
#: catalog queries (key ``(sf_dir, name, env)``) and for the MinHash
#: signatures+candidates sub-plan below its first checkpoint (key
#: ``(tag, anchor frame)``). Building a catalog query's DataFrame costs
#: 30-300 ms of Python→JVM expression construction (hundreds of py4j
#: round trips for the wider plans, ~1 s for the MinHash subtree) before
#: Spark sees an action: the prepared-statement cost. Only the analyzed
#: plan is kept, never rows. 512 per session: |catalog| × a few sf_dirs
#: × env combos.
_PLANS = SessionMemo(512)


def prepared_plan(
    session: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """Build-once/re-wrap-forever: ``build()`` on the first call for
    ``(session, key)``, a fresh Dataset over the stored ANALYZED plan
    afterwards (:func:`rewrap_analyzed`, a full rebuild when its hook is
    missing). No Dataset object goes to two invocations: repeated actions
    on one Dataset reuse its materialized shuffle stages (skipped
    stages), which would turn a re-run into an incremental computation,
    while a fresh one re-executes every stage. A caller that loses a
    concurrent first build keeps its own Dataset. A key may hold a frame
    (input identity: the MinHash sub-plan keys on the catalog's memoized
    scan); a frame not memoized upstream just misses every time."""
    mine: list[DataFrame] = []

    def build_mine() -> DataFrame:
        mine.append(build())
        return mine[0]

    df = _PLANS.get(session, key, build_mine)
    if mine:
        return mine[0]
    rewrapped = rewrap_analyzed(df)
    return rewrapped if rewrapped is not None else build()
