"""Memory-adaptive broadcast gating: `broadcast_hint` is the one gate.

Every operator that joins against a checkpointed or driver-sized table
gates its `broadcast` hint on a row-count threshold (the
checkpoint-loses-stats story in plans/iterate.py: Catalyst can't
auto-broadcast a LogicalRDD with no statistics, so the operators count
once and hint explicitly). The threshold used to be a fixed 4M-row
config — SURVEY §8 listed that as an honest limit, because whether 4M
rows of labels actually fit depends on the executor heap, not on a
constant.

`adaptive_broadcast_rows` derives the threshold from the session's
memory configuration instead:

  threshold_rows = (heap_bytes * fraction) / bytes_per_row

- **heap_bytes**: `spark.executor.memory` on a cluster; in local mode
  executors live inside the driver JVM, so `spark.driver.memory` is the
  real heap. Spark's default when unset is 1g.
- **fraction** (default 0.10): a broadcast relation is materialized
  ONCE per executor and coexists with execution/shuffle memory
  (`spark.memory.fraction`≈0.6 of heap) and any other live broadcasts;
  10% of the heap for one relation keeps the loop's broadcast from
  evicting the very shuffle pages its rounds need. The driver also
  builds the relation, so driver heap bounds it even on a cluster —
  which is why local mode reading driver memory is not a special case
  but the general constraint.
- **bytes_per_row** (default 64): a conservative estimate for the
  (key, small-attr) rows these loops broadcast — an 8-byte long key +
  attr + the ~2-3× overhead of the JVM broadcast hash map. Callers
  with wide attrs (string block hashes ≈ 64-char hex) should pass a
  larger estimate; the graph loops' label/pointer tables are
  long/long-shaped.

The result is clamped to [floor, cap]: `floor` (default 100k) keeps a
tiny test heap from degrading small-graph runs to shuffles, and `cap`
(default 64M) bounds the driver-side build + serialize time even on a
very large heap (a 64M-row hash relation is already ~4 GiB serialized —
past that the per-round keyed shuffle with AQE skew handling wins on
wall-clock anyway, because the broadcast rebuild itself is a scan of
the loop-carried table every round).

`broadcast_hint(spark, n_rows, schema)` applies that model with
bytes_per_row = `est_row_bytes(schema)` of the side being broadcast,
so callers state only how many rows they would broadcast and what those
rows look like; no caller carries its own constant.

The threshold is resolved ONCE per loop (not per round) from static
conf — deliberately: a loop flip-flopping join strategies between
rounds would thrash executor block managers with alternating broadcast
registrations.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SIZE_RE = re.compile(r"^\s*(\d+)\s*([kmgt]?)b?\s*$", re.IGNORECASE)

_UNIT = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_mem(s: str) -> int:
    """JVM/Spark memory string ('8g', '512m', '1024') -> bytes.
    Bare numbers are MiB, matching spark.executor.memory semantics."""
    m = _SIZE_RE.match(s)
    if not m:
        raise ValueError(f"unparseable memory size {s!r}")
    n, unit = int(m.group(1)), m.group(2).lower()
    return n * (_UNIT["m"] if unit == "" else _UNIT[unit])


def heap_bytes(spark: SparkSession) -> int:
    """The per-JVM heap that bounds one broadcast relation: executor
    memory on a cluster, driver memory in local mode (where the
    'executors' are threads in the driver JVM and
    spark.executor.memory is ignored)."""
    conf = spark.conf
    master = conf.get("spark.master", "")
    if master.startswith("local"):
        return parse_mem(conf.get("spark.driver.memory", "1g"))
    return parse_mem(conf.get("spark.executor.memory", "1g"))


def adaptive_broadcast_rows(
    spark: SparkSession,
    bytes_per_row: int = 64,
    fraction: float = 0.10,
    floor: int = 100_000,
    cap: int = 64_000_000,
) -> int:
    """Max rows an iterative loop should broadcast per round on THIS
    session's memory config (see module docstring for the model)."""
    budget = int(heap_bytes(spark) * fraction)
    return max(floor, min(cap, budget // bytes_per_row))


# JVM defaultSize analogues for the types iterative loops actually
# broadcast (Catalyst's DataType.defaultSize, which PySpark does not
# expose), padded by the broadcast-hash-relation overhead factor below.
_TYPE_BYTES = {
    "boolean": 1,
    "byte": 1,
    "short": 2,
    "integer": 4,
    "long": 8,
    "float": 4,
    "double": 8,
    "date": 4,
    "timestamp": 8,
    "timestamp_ntz": 8,
    "string": 20,
    "binary": 100,
}

# an in-memory BroadcastHashJoin relation (LongHashedRelation /
# UnsafeHashedRelation) costs roughly 2-3x the raw row payload in map
# entries and UnsafeRow headers; 3x keeps the estimate conservative
_HASH_RELATION_OVERHEAD = 3


def est_row_bytes(schema) -> int:
    """Broadcast-relation bytes per row for a StructType: per-field
    defaultSize (recursing into structs/arrays/maps/decimals) times the
    hash-relation overhead. Used by the iterative loops to size the
    adaptive gate from the ACTUAL vertex schema instead of a constant
    (SURVEY §8 r11 residual)."""

    def field_bytes(dt) -> int:
        name = dt.typeName()
        if name in _TYPE_BYTES:
            return _TYPE_BYTES[name]
        if name == "decimal":
            return 8 if dt.precision <= 18 else 16
        if name == "struct":
            return sum(field_bytes(f.dataType) for f in dt.fields)
        if name == "array":
            return 4 * field_bytes(dt.elementType)  # assume short arrays
        if name == "map":
            return 4 * (field_bytes(dt.keyType) + field_bytes(dt.valueType))
        return 20  # unknown: a conservative scalar default

    raw = sum(field_bytes(f.dataType) for f in schema.fields)
    return max(16, raw) * _HASH_RELATION_OVERHEAD


def _no_hint(df: DataFrame) -> DataFrame:
    return df


def broadcast_hint(
    spark: SparkSession, n_rows: int, schema, max_rows: int | None = None
) -> Callable[[DataFrame], DataFrame]:
    """`F.broadcast` when `n_rows` rows of `schema` fit the adaptive
    budget of this session, else the identity (the join shuffles, with
    AQE skew handling). `max_rows` replaces the derived limit; it exists
    for tests that force one join side."""
    if max_rows is None:
        max_rows = adaptive_broadcast_rows(spark, bytes_per_row=est_row_bytes(schema))
    return F.broadcast if n_rows <= max_rows else _no_hint
