"""Session-scoped reuse of plans and checkpointed intermediates.

The driver gate and the bench run many keys in one SparkSession, and
several rebuild the same thing: fixture parquet plans, the SQL suite's
temp views, the checkpointed co-purchase pairs, the sampled-seed BFS.
`SessionMemo` is the one implementation of that reuse; each memoized
value owns one instance with its own bound.

A value is served only while every input it was built from is
unchanged. The key holds the applicationId and `session_token` (plans
and checkpoint blocks belong to one session), the SPARK_GRAFT_CHAOS
value (catalog._chaos_wrap binds it at plan-construction time), and the
`_fixture_identity` of every table the value reads, nested files of a
directory dataset included. Eviction is oldest first at `max_entries`;
a `release` callback frees what an evicted value pins. `reset()`
empties every memo in the process.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from .fallback import warn_once

_MEMOS: list["SessionMemo"] = []


def _fixture_identity(sf_dir: str, name: str) -> tuple:
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    ident: tuple = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    if os.path.isdir(path):
        # recursive walk (ADVICE r16): a nested/partitioned layout can
        # rewrite a leaf file without changing the top directory's
        # size/mtime; one flat scandir level would then serve a stale
        # listing from the memo
        entries = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for fn in files:
                fst = os.stat(os.path.join(root, fn))
                entries.append((os.path.join(rel, fn), fst.st_size, fst.st_mtime_ns))
        ident += tuple(sorted(entries))
    return ident


def session_token(spark: SparkSession) -> str:
    """Non-recyclable identity for a SparkSession (ADVICE r16): id() can
    be recycled after a sibling session is GC'd, which could serve a
    plan bound to a dead session. A uuid stashed on the session object
    lives exactly as long as the session and never repeats."""
    import uuid

    tok = getattr(spark, "_b2g_session_token", None)
    if tok is None:
        tok = uuid.uuid4().hex
        spark._b2g_session_token = tok
    return tok


def release_checkpoints(dfs: Iterable[DataFrame]) -> None:
    """Unpersist the blocks behind localCheckpoint'd DataFrames (the RDD
    of their LogicalRDD leaf; `df.rdd` would be a fresh, never-persisted
    conversion RDD). A frame that is not a checkpoint, or a context that
    is already gone, leaves its blocks to the session and warns once."""
    for df in dfs:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Py4JError as e:
            warn_once("memo eviction", f"checkpoint blocks not released ({e})")


class SessionMemo:
    """Bounded oldest-first memo keyed by `key(spark, sf_dir, tables)`."""

    def __init__(
        self, max_entries: int, release: Callable[[object], None] | None = None
    ) -> None:
        self.max_entries = max_entries
        self._release = release
        self._entries: dict = {}
        _MEMOS.append(self)

    def key(
        self, spark: SparkSession, sf_dir: str | None, tables: Iterable[str] = (), *extra
    ) -> tuple:
        """Session, chaos spec and fixture identity of `tables` (read
        from `sf_dir`), plus caller-specific `extra` parts."""
        return (
            spark.sparkContext.applicationId,
            session_token(spark),
            os.environ.get("SPARK_GRAFT_CHAOS", ""),
            tuple(_fixture_identity(sf_dir, t) for t in tables),
        ) + extra

    def get(self, key: tuple):
        return self._entries.get(key)

    def put(self, key: tuple, value):
        """Store `value` as the newest entry (evicting the oldest past the
        bound) and return it."""
        self._entries.pop(key, None)
        while len(self._entries) >= self.max_entries:
            self._evict(next(iter(self._entries)))
        self._entries[key] = value
        return value

    def reset(self) -> None:
        for key in list(self._entries):
            self._evict(key)

    def _evict(self, key: tuple) -> None:
        value = self._entries.pop(key)
        if self._release is not None:
            self._release(value)


def reset() -> None:
    """Empty every session memo, releasing what their values pin."""
    for memo in _MEMOS:
        memo.reset()
