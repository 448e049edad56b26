"""Reuse of work within one analysis session — the engine's only reuse layer.

What is reused, for how long, and keyed on what:

* **Cached DataFrames** (:func:`persist_once`): a frame is persisted
  unless Spark's CacheManager already holds its plan. Lifetime is the
  session's cache; the key is the logical plan, matched by the
  CacheManager itself.
* **Scalar counts and constructed Column trees** (:func:`count_once`,
  :func:`expr_once`): both live in one scope owned by the live
  ``SparkContext``. The first use under a different context (a
  ``spark.stop()`` followed by a new session) clears the scope in
  place, so no count or Column of an earlier session is ever served.
  Each memo holds at most ``_SCOPE_MAX_ENTRIES`` entries and drops the
  oldest first. Counts are keyed on the analyzed plan, so inputs must
  not change under a path while one context is live; rewriting an
  input path mid-session is unsupported.
* **Shared guardrail artifacts** (:func:`shared_artifact`): a
  deterministic table is published once per corpus snapshot as a
  manifest.py snapshot table and read back by every later consumer.
  The store is a per-process temporary directory removed at exit, and
  a corpus's root is keyed on its real path plus its documents' file
  signature, so a rewritten corpus resolves to a new root. Artifacts
  outlive sessions within one process, never the process: a recorded
  run always computes them from its inputs.

Scoping reuse to one analysis session follows incremental top-k
similarity search in interactive sessions (EDBT 2020).
"""

from __future__ import annotations

import atexit
import collections
import hashlib
import os
import shutil
import tempfile
import time

from pyspark import SparkContext
from pyspark.sql import DataFrame

from etl_tj_project_spark import manifest as mf


def persist_once(df: DataFrame) -> DataFrame:
    """persist() unless the CacheManager already holds this plan.

    ``df.storageLevel`` does a CacheManager lookup by logical plan, so a
    SECOND DataFrame object with the same plan (e.g. bench.py's
    best-of-2 repeat of a query builder) reports the cached level and we
    skip the redundant persist — which would otherwise log
    "Asked to cache already cached data" and do nothing useful.
    (``df.is_cached`` only reflects persist() called on THIS object.)

    Accretion bound: operators deliberately do NOT unpersist these
    frames — a composed downstream plan (e.g. canonicalize ->
    containment) may still read them lazily after the operator returns,
    which is exactly the lifetime bug the connected-components temp-dir
    fix was about. Each cached frame is id/pair-table-sized (KB-MB at
    test scale, << corpus), the default MEMORY_AND_DISK level is
    LRU-evicted under pressure, so a long session's cache footprint is
    bounded by executor storage memory, never OOM. Long-running
    multi-entry sessions (the full replay, bench cohorts) additionally
    call ``spark.catalog.clearCache()`` at cohort boundaries."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        df = df.persist()
    return df


# --- the SparkContext-scoped memos ----------------------------------------

_SCOPE_MAX_ENTRIES = 256
_scope_context = None  # the SparkContext the memos below belong to
# Both memos are cleared in place, never rebound: operators.dedup
# re-exports the count memo, and callers measure a miss as its growth.
_COUNTS = collections.deque(maxlen=_SCOPE_MAX_ENTRIES)  # (plan, count)
_EXPRS: dict = {}  # key -> Column, oldest first


def _enter_scope() -> None:
    global _scope_context
    sc = SparkContext._active_spark_context
    if sc is not _scope_context:
        _COUNTS.clear()
        _EXPRS.clear()
        _scope_context = sc


def count_once(df: DataFrame) -> int:
    """``df.count()``, paid once per plan within the live SparkContext.

    Lookup uses LogicalPlan.sameResult — exactly the CacheManager's
    matching rule — because a string or hash key is not safe: two
    LocalRelations with the same schema but different rows canonicalize
    to the same string, and a stale count would size a tiered operator
    wrong (tests/test_verify_tiers.py)."""
    _enter_scope()
    try:
        plan = df._jdf.queryExecution().analyzed()
        for p, n in _COUNTS:
            if p.sameResult(plan):
                return n
    except Exception:
        return df.count()
    n = df.count()
    _COUNTS.append((plan, n))
    return n


def expr_once(key: tuple, build):
    """Return the memoized Column for ``key``, building it on miss.

    ``key`` must uniquely determine the expression: include every
    column name and shape constant the builder closes over. Column
    objects are immutable ASTs, so reuse is what hoisting the
    expression to a constant would do; building one costs tens of
    py4j round trips, paid again on every rebuild of the same query
    without the memo. Only plan fragments are memoized — results are
    computed from the inputs every run."""
    _enter_scope()
    col = _EXPRS.get(key)
    if col is None:
        col = build()
        if len(_EXPRS) >= _SCOPE_MAX_ENTRIES:
            del _EXPRS[next(iter(_EXPRS))]
        _EXPRS[key] = col
    return col


# --- the per-process artifact store ----------------------------------------

ARTIFACT_EVENTS: list = []  # (artifact_name, "miss" | "hit"), append-only
# Observability: the first consumer of each shared artifact pays its
# compute, later consumers read a parquet FileScan, so per-query timings
# of the guardrail family are order-dependent. bench.py and perfbench
# snapshot this list around each timed query to record who paid.
_PROCESS_STORE: list = []  # the store base, made on first use


def _documents_signature(sf_dir: str) -> tuple:
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(p):
        # Keyed by sorted RELATIVE path: bare basenames under os.walk's
        # unspecified subdirectory order made identical partitioned
        # corpora order-sensitive (spurious memo miss) and two
        # same-named files in different subdirectories indistinguishable
        # (theoretical stale serve).
        sig = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                sig.append(
                    (os.path.relpath(full, p), st.st_size, st.st_mtime_ns)
                )
        return tuple(sorted(sig))
    st = os.stat(p)
    return (st.st_size, st.st_mtime_ns)


def shared_artifact_root(sf_dir: str) -> str:
    """The manifest.py snapshot root holding ``sf_dir``'s shared
    guardrail artifacts, under this process's store base. Deterministic
    in (realpath, documents snapshot signature — sorted relative paths
    + sizes + mtime_ns, see _documents_signature; staleness-safe, NOT
    content-addressed: a byte-identical corpus copied with fresh mtimes
    resolves to a different root and recomputes, which only costs work,
    never serves stale data). Same snapshot → same root; any file
    change → a different root."""
    if not _PROCESS_STORE:
        base = tempfile.mkdtemp(prefix="tj_shared_artifacts_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        _PROCESS_STORE.append(base)
    key = repr((os.path.realpath(sf_dir), _documents_signature(sf_dir)))
    digest = hashlib.sha256(key.encode()).hexdigest()[:20]
    root = os.path.join(_PROCESS_STORE[0], digest)
    os.makedirs(root, exist_ok=True)
    return root


def shared_artifact(spark, sf_dir, table, cols, build):
    """Read ``table`` from the corpus's artifact snapshot, publishing
    it first if this is the corpus's first consumer. Publication goes
    through manifest.commit — atomic pointer swap, optimistic
    concurrency — so a concurrent first consumer of the same store
    either wins the version claim or reads the winner's table (the
    artifact is deterministic; both outcomes are the same data)."""
    root = shared_artifact_root(sf_dir)
    m = mf.current_manifest(root)
    if m is not None and table in m.get("tables", {}):
        ARTIFACT_EVENTS.append((table, "hit"))
        return mf.read_table(spark, root, table).select(*cols)
    ARTIFACT_EVENTS.append((table, "miss"))
    df = build()
    try:
        mf.commit(root, {table: df})
    except FileExistsError:
        # Lost the optimistic version claim. Either a concurrent
        # publisher is mid-commit (their pointer lands shortly) or a
        # crashed commit orphaned the claim (pointer never advances).
        for _ in range(20):
            m = mf.current_manifest(root)
            if m is not None and table in m.get("tables", {}):
                return mf.read_table(spark, root, table).select(*cols)
            time.sleep(0.5)
        # Orphaned claim (vacuum() is the recovery path): serve the
        # computed lineage rather than failing the consumer.
        return df.select(*cols)
    return mf.read_table(spark, root, table).select(*cols)
