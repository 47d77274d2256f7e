"""The benchmark's three closed-loop workloads.

Each workload is a fixed sequence of operations that the seed fixes. An
operation runs the engine's public functions, returns its result for the
check, and records how long each layer took. Checks and releases happen
outside the timed part of an operation.

- graph_iterative: the registry's iterative graph keys.
- query_mix: relational, join, window, text and similarity keys.
- chain_sync: block-file sync with reorg rollback, each sync followed by
  an `address_stats` read of the held state.
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import contextmanager

import chainref
import fingerprint

GRAPH_KEYS = [
    "wallet_components", "topo_order", "bfs_distance",
    "label_propagation", "eigenvector_centrality",
]
QUERY_KEYS = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q18",
    "agg_sum", "two_hop_join", "counterparties", "window_topk_per_group",
    "join_range", "triangle_count", "similarity_topk", "text_token_stats",
    "text_tfidf", "upsert_merge",
]

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# chain_sync shape: 16-block batches in blk files of 8 blocks. From the
# third batch on, every other batch first arrives as an alternative tip,
# and the next delivery re-sends its canonical blocks with the batch after
# it, which rolls the tip back. Delivery 0 is the cold pass and delivery 1
# the warm-up. A timed pass is an alternative tip and its rollback; the
# timed deliveries 2-5 form a cycle of two passes that restarts from the
# state after warm-up.
BATCH_BLOCKS = 16
BLOCKS_PER_FILE = 8
REORG_EVERY = 2
N_BATCHES = 6
PASS_DELIVERIES = 2


class Op:
    """One operation: `run(rec)` does the timed work and returns the
    result; `check(result, rec)` returns an error string or None."""

    def __init__(self, kind: str, run, check) -> None:
        self.kind, self.run, self.check = kind, run, check


# Spark job groups of an operation's layers: input decode, the
# plan-building call (with the eager jobs it runs) and the final action.
JOB_GROUPS = ("decode", "builder", "action")


class Record:
    """Per-operation layer timings, filled in by the operation."""

    def __init__(self) -> None:
        self.layers: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.final_df = None  # the DataFrame whose action ends the operation

    @contextmanager
    def timed(self, tracer, name: str, layer: str, group: str | None = None):
        """Time a layer of the operation as a span of `tracer`."""
        with tracer.span(name, group):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.layers[layer] = self.layers.get(layer, 0.0) + time.perf_counter() - t0


def _load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)["keys"]


class RegistryWorkload:
    """Cycles registry keys over the generated fixture, shuffled per pass."""

    def __init__(self, keys: list[str], seed: int) -> None:
        self.keys = keys
        self.rng = random.Random(seed)

    def stage(self, ctx) -> None:
        from blockchain2graphdb_spark import catalog

        missing = [t for t in catalog.TABLES
                   if not os.path.exists(os.path.join(ctx.data_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"fixture tables missing: {missing}")
        expected = _load_expected()
        self.expected = {k: expected[k] for k in self.keys}

    def _op(self, ctx, key: str) -> Op:
        spec = ctx.specs[key]

        def run(rec: Record):
            with rec.timed(ctx.tracer, "registry.builder", "builder_s", "builder"):
                df = spec.builder(ctx.spark, ctx.data_dir)
            with rec.timed(ctx.tracer, "action", "action_s", "action"):
                pdf = df.toPandas()
            rec.final_df = df
            return pdf

        def check(pdf, rec: Record) -> str | None:
            got, want = fingerprint.of_pandas(pdf), self.expected[key]
            return None if got == want else f"{key}: got {got}, want {want}"

        return Op(key, run, check)

    def first_pass(self, ctx) -> list[Op]:
        return self.next_pass(ctx)

    def warmup(self, ctx) -> list[Op]:
        return self.next_pass(ctx)

    def next_pass(self, ctx) -> list[Op]:
        order = list(self.keys)
        self.rng.shuffle(order)
        return [self._op(ctx, k) for k in order]


def _release_checkpoint(df) -> None:
    """Drop the blocks behind a localCheckpoint'ed DataFrame."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _time_maintain_steps(ctx) -> None:
    """Traced run only: time `find_fork_height` and `reorg_rollback`, which
    `chain.maintain.resume` calls through its module, into the current
    operation's record."""
    from blockchain2graphdb_spark.chain import maintain

    def wrap(fn, layer):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"chain.maintain.{fn.__name__}"):
                    return fn(*args, **kwargs)
            finally:
                extra = ctx.record.extra
                extra[layer] = extra.get(layer, 0.0) + time.perf_counter() - t0
        return timed

    maintain.find_fork_height = wrap(maintain.find_fork_height, "chain.maintain.fork_detect_s")
    maintain.reorg_rollback = wrap(maintain.reorg_rollback, "chain.maintain.rollback_s")


class ChainSync:
    """Block-file sync with reorgs, each sync followed by an
    `address_stats` read of the held state. The seed fixes the chain."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.state = self.base = self.empty = None
        self.decoded = None

    def stage(self, ctx) -> None:
        from blockchain2graphdb_spark.sources import blockfile

        with ctx.tracer.span("chain.fixtures.plan"):
            rows, self.deliveries = chainref.plan(self.seed, N_BATCHES, BATCH_BLOCKS, REORG_EVERY)
        with ctx.tracer.span("sources.blockfile.write"):
            self.globs = []
            for i, d in enumerate(self.deliveries):
                out = os.path.join(ctx.stage_dir, f"d{i:03d}")
                blockfile.write_blk_files(rows.subset([b[0] for b in d.blocks]), out, BLOCKS_PER_FILE)
                self.globs.append(os.path.join(out, "*.dat"))
        with ctx.tracer.span("expected.replay"):
            self.expected = [chainref.expected(rows, d) for d in self.deliveries]
            self.rollback_rows = {
                i: sum(chainref.table_sizes(rows.subset([b[0] for b in self.deliveries[i - 1].blocks])).values())
                for i, d in enumerate(self.deliveries) if d.kind == "rollback"
            }
        if ctx.tracer.enabled:
            _time_maintain_steps(ctx)
        self.cycle_start = 2
        self.next = 0

    def _sync(self, ctx, i: int) -> Op:
        from blockchain2graphdb_spark.chain import maintain
        from blockchain2graphdb_spark.sources.blockfile import normalize, read_blocks

        def run(rec: Record):
            with rec.timed(ctx.tracer, "sources.blockfile.decode", "decode_s", "decode"):
                decoded = read_blocks(ctx.spark, self.globs[i])
                if ctx.tracer.enabled:
                    decoded = self.decoded = decoded.localCheckpoint(eager=True)
                incoming = normalize(decoded)
            with rec.timed(ctx.tracer, "chain.maintain.resume", "builder_s", "builder"):
                merged = maintain.resume(self.state, incoming)
            with rec.timed(ctx.tracer, "chain.maintain.checkpoint", "action_s", "action"):
                new = {n: df.localCheckpoint(eager=True) for n, df in merged.items()}
            return new

        def check(new, rec: Record) -> str | None:
            if self.decoded is not None:
                _release_checkpoint(self.decoded)
                self.decoded = None
            self._replace_state(new)
            sizes = {n: df.count() for n, df in new.items()}
            want = self.expected[i]["sizes"]
            rec.extra["chain.state_rows"] = sum(sizes.values())
            if self.deliveries[i].kind == "rollback":
                rec.extra["chain.maintain.rollback_rows"] = self.rollback_rows[i]
            return None if sizes == want else f"sync d{i}: sizes {sizes}, want {want}"

        return Op("sync", run, check)

    def _stats(self, ctx, i: int) -> Op:
        from blockchain2graphdb_spark.chain import derive

        def run(rec: Record):
            with rec.timed(ctx.tracer, "chain.derive.derive_all", "builder_s", "builder"):
                stats = derive.derive_all(self.state)["address_stats"]
            with rec.timed(ctx.tracer, "action", "action_s", "action"):
                pdf = stats.toPandas()
            rec.final_df = stats
            return pdf

        def check(pdf, rec: Record) -> str | None:
            got, want = fingerprint.of_pandas(pdf), self.expected[i]["address_stats"]
            return None if got == want else f"stats d{i}: got {got}, want {want}"

        return Op("stats", run, check)

    def _replace_state(self, new) -> None:
        old, self.state = self.state, new
        if old is not self.base and old is not self.empty:
            for df in old.values():
                _release_checkpoint(df)

    def _pair(self, ctx) -> list[Op]:
        if self.next == len(self.deliveries):
            # cycle done: restart it from the state held after warm-up
            self._replace_state(self.base)
            self.next = self.cycle_start
        i = self.next
        self.next += 1
        return [self._sync(ctx, i), self._stats(ctx, i)]

    def first_pass(self, ctx) -> list[Op]:
        from blockchain2graphdb_spark.streaming.ingest import empty_tables

        self.state = self.empty = empty_tables(ctx.spark)
        return self._pair(ctx)

    def warmup(self, ctx) -> list[Op]:
        return self._pair(ctx)

    def next_pass(self, ctx) -> list[Op]:
        if self.base is None:
            self.base = self.state
        return [op for _ in range(PASS_DELIVERIES) for op in self._pair(ctx)]


def make(name: str, seed: int):
    if name == "graph_iterative":
        return RegistryWorkload(GRAPH_KEYS, seed)
    if name == "query_mix":
        return RegistryWorkload(QUERY_KEYS, seed)
    if name == "chain_sync":
        return ChainSync(seed)
    raise ValueError(f"unknown workload {name!r}")

