"""Query registry — the contract between SURVEY §2's operator inventory and
the driver's correctness harness.

Every operator the engine claims is registered here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
a DuckDB oracle SQL string computing the same result with the same column
names. The driver hash-compares the two at sf0.01.

Determinism rules enforced across the catalog (SURVEY §7 hard parts):

* Float aggregation goes through exact ``DECIMAL`` accumulation — double
  sums are order-sensitive under distributed partial aggregation, so
  ``SUM(double)`` can differ from a single-threaded oracle in the last ULP
  and break value-hashing.  ``SUM(CAST(x AS DECIMAL(30,6)))`` is exact and
  order-independent; the final cast back to DOUBLE is deterministic.
* ``first``/``last`` style picks use ``min_by``/``max_by`` with a total
  ordering, never order-dependent ``F.first`` under shuffle.
* Every computed column is aliased identically in Spark and oracle SQL.

Execution policy. A query may declare a ``policy``: a function of
``(spark, sf_dir)`` that returns an :class:`ExecPolicy` (AQE on or off,
and a partition count) or ``None``. The registry wrapper resolves it
once per invocation and runs the query on :func:`policy_session`: the
caller's session for ``None``, otherwise a cached child session whose
runtime conf is the caller's plus only the policy's keys. The caller's
session is never written, so streaming micro-batches and other queries
planned on it concurrently keep its AQE setting and shuffle width. Three
policies exist, each data-aware:

* :func:`sized` — the interactive scan-agg surface. Below
  ``_AQE_OFF_MAX_BYTES`` of input it runs AQE off at a static width of
  ``min(sized_partition_num, cores)``; above it, AQE on with
  ``sized_partition_num`` as the ``initialPartitionNum`` floor. Not for
  the dedup family, whose shuffles are explosion-dominated (shingle rows
  ≫ input bytes, so a bytes heuristic underestimates).
* :func:`tiny_static` — the tiny branch of :func:`sized` and ``None``
  above it: plain AQE on the caller's session, no floor. For
  top_revenue_orders, whose plan above the threshold depends on AQE's
  runtime shuffle→broadcast conversion (its filtered customer⋈orders
  side only proves small at execution time, an exact-bytes check no
  static hint can replace scale-safely). Measured: AQE on 0.44/0.88 s
  at 1×/30× vs AQE off 0.72/1.24 s, and the floor's bytes proxy
  mis-sizes a join whose cost is the probe side (floor 62 at 30× ran
  1.20 s vs 0.87 s without). In the tiny regime its fn steers the
  broadcast itself (``tiny_input``), so the static plan is already the
  good one (sf0.1 A/B: AQE 0.613/0.670 min/med vs static + steer
  0.288/0.353).
* ``operators.dedup._dedup_shuffle_width`` — the dedup pipelines'
  explosion-aware static width, ``None`` outside its measured-tiny
  regime.

Two stages choose a policy mid-query instead, because their callers are
other queries' fns: ``minhash_near_dup``'s checkpointed stages (under
``_dedup_shuffle_width``) and the connected-components loop (from its
measured edge count). Each runs on a :func:`policy_session` child and
hands its result back on the caller's session.

A query with no policy runs on the caller's session as the caller set it.

Verification order. The driver checks ``queries()`` in dict order and
records rows for only the first 50 entries each round, so :func:`load_all`
orders the catalog by what a fresh driver row is worth, derived from the
committed ``CORRECTNESS_r<N>.json`` files next to the package (read once
per process, rounds compared as integers). First come the queries never
hash-green or whose latest row is not green; then the ``_MODIFIED_SINCE``
names whose last green round is at or before its stamp, because their
code changed after that round; then the rest by ascending last-green
round, stalest evidence first. Registration order breaks ties, and is the
whole order when no round files are present.
"""

from __future__ import annotations

import functools
import json
import re
import weakref
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .execution import SessionMemo, prepared_plan


@dataclass(frozen=True)
class ExecPolicy:
    """How one invocation executes. ``aqe=False`` runs statically at
    ``partitions`` shuffle partitions. ``aqe=True`` runs adaptively, with
    ``partitions`` (when set) as AQE's ``initialPartitionNum`` floor."""

    aqe: bool
    partitions: int | None = None

    def confs(self) -> dict[str, str]:
        """The runtime conf keys this policy sets on its child session."""
        if not self.aqe:
            return {_AQE_KEY: "false", _SHUFFLE_KEY: str(self.partitions)}
        out = {_AQE_KEY: "true"}
        if self.partitions:
            out[_INIT_PARTITION_KEY] = str(self.partitions)
        return out


Policy = Callable[[SparkSession, str], ExecPolicy | None]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    #: include in bench.py's 10× scale-crossover phase. Off for queries
    #: whose work grows super-linearly in block occupancy (pair
    #: verification kernels) or that iterate to convergence — at 10×
    #: their DuckDB twins become the phase's wall-clock, not its signal.
    crossover: bool = True
    #: execution policy, resolved per invocation with the caller's
    #: ``(spark, sf_dir)``: an :class:`ExecPolicy` runs the query on a
    #: child session carrying it (:func:`policy_session`), ``None`` (or
    #: no policy) on the caller's session. Policies must be data-aware
    #: and return ``None`` or an adaptive policy at lake scale; see the
    #: module docstring for the three in use and their measurements.
    policy: Policy | None = None
    #: memoize the constructed plan per (session, sf_dir, env); off for
    #: queries whose construction materializes data (see :func:`query`)
    prepared: bool = True


QUERIES: dict[str, QuerySpec] = {}


#: Target post-shuffle bytes per reduce partition for sized queries. 8 MB
#: (not AQE's 64 MB advisory) because the INITIAL number must err toward
#: parallelism: AQE can coalesce small partitions afterwards but cannot
#: split an oversized aggregation partition, so undershooting the count is
#: unrecoverable while overshooting merely leaves AQE some merging to do.
_SIZED_PARTITION_TARGET_BYTES = 8 * 1024 * 1024
_SIZED_PARTITION_MIN = 8

_DIR_BYTES_CACHE: dict[str, int] = {}


def _dir_bytes(sf_dir: str) -> int:
    cached = _DIR_BYTES_CACHE.get(sf_dir)
    if cached is None:
        import glob
        import os

        cached = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(sf_dir, "*.parquet"))
        )
        _DIR_BYTES_CACHE[sf_dir] = cached
    return cached


def _cores(spark: SparkSession) -> int:
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return 32


def sized_partition_num(spark: SparkSession, sf_dir: str) -> int:
    """Reduce-parallelism floor sized to input volume, not a constant.

    Measured motivation (sf0.1, local[32]): the scan-agg headline family
    spends most of its wall-clock on stage machinery — 32 reduce tasks
    each carrying ~100 kB. Capping AQE's ``initialPartitionNum`` at 8
    halved the family total (6.2 s → 3.4 s), but a static 8 inverts at
    30× volume where 64 measures best — so the right knob is
    ``clamp(input_bytes / 8 MB, 8, max(64, 2·cores))``: compressed input
    bytes (parquet on disk × replication factor) proxy post-shuffle
    volume, the floor keeps tiny queries from over-scheduling, and the
    cap keeps the heuristic from exceeding what the executor pool can
    use. At cluster scale the cap term (2·cores) dominates and the knob
    degrades to ordinary AQE behavior — it can never UNDER-parallelize a
    100 TB shuffle, because AQE starts from ≥2 tasks per core and
    coalesces by size from there."""
    from .catalog import scan_replicate

    bytes_total = _dir_bytes(sf_dir) * scan_replicate()
    cap = max(64, 2 * _cores(spark))
    return max(_SIZED_PARTITION_MIN, min(cap, bytes_total // _SIZED_PARTITION_TARGET_BYTES or _SIZED_PARTITION_MIN))


_INIT_PARTITION_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
#: Below this input volume, sized queries run with AQE OFF and a
#: data-sized STATIC ``shuffle.partitions`` instead of the AQE floor:
#: adaptive re-planning costs one scheduler round-trip per materialized
#: stage (plan → run → re-optimize → next stage), a fixed ~50-100 ms tax
#: that dominates sub-second queries while buying nothing — runtime
#: stats on sub-GB inputs can't change any join/partition decision the
#: statically sized plan didn't already get right. Measured (sf0.1,
#: local[32], min-of-5 warm): tumbling 0.23→0.17 s, window_rank_topk
#: 0.22→0.15 s, session_window 0.23→0.15 s, top_revenue 0.53→0.41 s at
#: 1×; at 30× (0.5 GB) the static path also beat AQE+floor on the whole
#: floor-bound family (e.g. session_window 1.1-1.6 s → 0.85 s). At
#: 100 TB the check is never true and AQE (skew joins, runtime
#: broadcast, coalescing) stays on — the knob only ever removes
#: overhead from queries too small to need replanning.
_AQE_OFF_MAX_BYTES = 1 << 30


def tiny_input(sf_dir: str) -> bool:
    """True when the (replication-adjusted) input volume is below the
    tiny-input threshold — the regime where the registry runs sized
    queries with AQE off and a static partition count. Query fns use it
    to apply strategy hints that are only SAFE at bounded volume (e.g.
    broadcasting a filtered fact-join side whose size Catalyst's static
    estimator inflates past the real fact table's): above the threshold
    the hint vanishes and AQE's exact-bytes runtime decisions govern, so
    the hint can never force an unbounded broadcast at lake scale —
    data-aware by construction, same pattern as the sizing knobs here."""
    from .catalog import scan_replicate

    return _dir_bytes(sf_dir) * scan_replicate() < _AQE_OFF_MAX_BYTES


def tiny_static(spark: SparkSession, sf_dir: str) -> ExecPolicy | None:
    """Policy: AQE off at ``min(sized_partition_num, cores)`` on tiny
    input, ``None`` above it. The static width is capped at the core
    count because without AQE nothing coalesces sliver partitions, and
    more than one wave of sub-second tasks is pure scheduling overhead
    (measured: 32 beats 64 at 0.5 GB on 32 cores across the floor-bound
    family)."""
    if not tiny_input(sf_dir):
        return None
    return ExecPolicy(False, min(sized_partition_num(spark, sf_dir), _cores(spark)))


def sized(spark: SparkSession, sf_dir: str) -> ExecPolicy:
    """Policy: :func:`tiny_static` on tiny input, otherwise AQE on with
    the data-aware ``initialPartitionNum`` floor."""
    return tiny_static(spark, sf_dir) or ExecPolicy(True, sized_partition_num(spark, sf_dir))


#: Child sessions: parent session → {(policy, parent conf): child}. A
#: child is ``cloneSession()`` of its parent (runtime conf, temp views,
#: functions) plus the policy's keys, so everything the engine memoizes
#: per session (prepared plans) follows the child on its own, and the
#: catalog's scans start from the parent's (:func:`parent_session`).
#: ``newSession()`` would not do: it starts from the SparkContext conf and
#: drops what the parent's session options or caller set (e.g.
#: ``parquet.nanosAsLong``, the session timezone). Keying on the parent's
#: runtime conf makes a conf the caller sets on the parent after a first
#: invocation govern the next one. 16 per parent.
_CHILDREN = SessionMemo(16)
#: Child → weak reference to the parent it was cloned from, so the
#: catalog's scan cache can re-home a parent's scans onto its children
#: (:func:`parent_session`). Weak both ways: the parent holds its
#: children, not the reverse.
_PARENTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def parent_session(spark: SparkSession) -> SparkSession | None:
    """The session :func:`policy_session` cloned ``spark`` from, or
    ``None`` for a session it did not create (or whose parent is gone)."""
    ref = _PARENTS.get(spark)
    return ref() if ref is not None else None


def policy_session(spark: SparkSession, policy: ExecPolicy | None) -> SparkSession:
    """The session an invocation under ``policy`` runs on: ``spark``
    itself for ``None``, otherwise a cached child whose runtime conf is
    ``spark``'s plus ``policy.confs()``. ``spark`` is never written."""
    if policy is None:
        return spark

    def clone() -> SparkSession:
        child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        for k, v in policy.confs().items():
            child.conf.set(k, v)
        _PARENTS[child] = weakref.ref(spark)
        return child

    # one py4j call: dict(spark.conf.getAll) costs ~60 ms of per-entry
    # round trips, the JVM map's string form ~1 ms
    return _CHILDREN.get(spark, (policy, spark._jsparkSession.conf().getAll().toString()), clone)


def _env_fingerprint() -> tuple:
    import os

    from .catalog import scan_replicate

    return (scan_replicate(), os.environ.get("ENGINE_LAKE_CACHE", "0"))


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    prepared: bool = True,
    crossover: bool = True,
    policy: Policy | None = None,
):
    """Decorator registering a query in the catalog. The registered
    callable runs the query on ``policy_session(spark, policy(spark,
    sf_dir))`` (see :attr:`QuerySpec.policy`) and, when ``prepared``,
    through :func:`execution.prepared_plan` per (session, sf_dir, env):
    repeat invocations reuse the analyzed plan and skip its 30-300 ms of
    construction, while execution still happens per action, exactly like
    a prepared statement.

    ``prepared=False`` opts out, for queries whose construction
    materializes data into their returned lineage (``localCheckpoint``,
    iterative loops): caching those would replay stored ROWS, not re-run
    the query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark = policy_session(spark, policy(spark, sf_dir) if policy else None)
            if not prepared:
                return fn(spark, sf_dir)
            return prepared_plan(spark, (sf_dir, name, _env_fingerprint()), lambda: fn(spark, sf_dir))

        QUERIES[name] = QuerySpec(
            name=name, fn=run, oracle=oracle, tags=tags, bench=bench,
            crossover=crossover, policy=policy, prepared=prepared,
        )
        return fn

    return deco


#: Queries whose own operator code or registration changed after the
#: driver round in the stamp was committed, so their rows from that round
#: or earlier vouch for code that no longer ships. Each ranks right after
#: the never-green queries until a later round records it green, which
#: drops it back on its own. Mechanical registration renames and
#: shared-helper changes (``dsum``, the lake open) do not count:
#: ``tools/driver_mimic.py`` checks those across the whole catalog. A
#: change after a newer round is committed restamps it with that round.
_MODIFIED_SINCE = (17, frozenset({
    "ann_recall",
    "dedup_survivors",
    "incremental_clusters",
    "ivf_probe_sweep",
    "ivfpq_recall",
    "lsh_bucket_profile",
    "minhash_band_sweep",
    "minhash_incremental",
    "minhash_jaccard_estimate",
    "minhash_near_dup",
    "minhash_recall",
    "ngram_jaccard_pairs",
    "phash_incremental",
    "phash_near_dup",
    "phash_recall",
    "phash_survivors",
    "simhash_near_dup",
    "simhash_recall",
    "sq8_recall",
}))

_ROUND_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def read_rounds(root: Path) -> dict[int, dict[str, dict]]:
    """The driver's ``CORRECTNESS_r<N>.json`` rows under ``root`` as
    ``{N: {name: row}}``. A round file that is present but not a JSON
    object raises instead of being skipped."""
    rounds = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _ROUND_FILE.fullmatch(path.name)
        if m is None:
            continue
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError) as ex:
            raise ValueError(f"unreadable driver round file {path}: {ex}") from ex
        if not isinstance(rows, dict):
            raise ValueError(f"driver round file {path} is not a JSON object")
        rounds[int(m.group(1))] = rows
    return rounds


@functools.cache
def _committed_rounds() -> dict[int, dict[str, dict]]:
    return read_rounds(Path(__file__).parents[1])


def verification_order(
    names: Iterable[str],
    rounds: Mapping[int, Mapping[str, Mapping]],
    modified: tuple[int, frozenset[str]] = _MODIFIED_SINCE,
) -> list[str]:
    """``names``, given in registration order, ranked for the driver's
    window over the parsed ``{round: rows}`` (see the module docstring):
    never green or latest row not green, then ``modified`` names last
    green at or before its stamp, then ascending last-green round."""
    last_green: dict[str, int] = {}
    latest_green: dict[str, bool] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            latest_green[name] = bool(row.get("hash_match"))
            if latest_green[name]:
                last_green[name] = rnd
    stamp, since = modified

    def rank(item: tuple[int, str]) -> tuple[int, int, int]:
        i, name = item
        last = last_green.get(name)
        if last is None or not latest_green[name]:
            return (0, 0, i)
        if name in since and last <= stamp:
            return (1, 0, i)
        return (2, last, i)

    return [name for _, name in sorted(enumerate(names), key=rank)]


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so its queries register, then return
    the catalog in :func:`verification_order` over the committed
    ``CORRECTNESS_r*.json`` files (registration order without them)."""
    from .operators import (  # noqa: F401
        aggregations,
        attribution,
        bootstrap,
        bpe,
        decision_support,
        dedup,
        gif,
        graph,
        jpeg,
        joins,
        mp3,
        mp4,
        layout,
        logrank,
        multimodal,
        pandas_udfs,
        phash,
        relational,
        sampling,
        setops,
        similarity,
        sketches,
        survival,
        text,
        timeseries,
        training,
        unigram,
        windows,
    )

    return {name: QUERIES[name] for name in verification_order(QUERIES, _committed_rounds())}
