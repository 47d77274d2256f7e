"""The builder contract: `registry.query` wraps every builder so the
session confs are pinned by `catalog.prep` before the builder body runs.
Builders never call `prep` themselves."""

from __future__ import annotations

import pytest

from blockchain2graphdb_spark import catalog, registry
from blockchain2graphdb_spark.operators.ingestion import utxo_balances
from blockchain2graphdb_spark.operators.timeseries import gap_detect, stickiness_dau_mau

_TZ = "spark.sql.session.timeZone"
_ARROW = "spark.sql.execution.arrow.pyspark.enabled"
_PARTS = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("builder", [gap_detect, stickiness_dau_mau, utxo_balances])
def test_builder_pins_confs_left_by_previous_key(spark, sf_dir, builder):
    """A direct module call pins the confs a previous key left behind."""
    pinned = {
        _TZ: "UTC",
        _ARROW: "true",
        _PARTS: str(max(4, spark.sparkContext.defaultParallelism)),
    }
    saved = {k: spark.conf.get(k) for k in pinned}
    try:
        for k, v in {_TZ: "America/Los_Angeles", _ARROW: "false", _PARTS: "3"}.items():
            spark.conf.set(k, v)
        builder(spark, sf_dir)
        assert {k: spark.conf.get(k) for k in pinned} == pinned
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_every_registered_builder_pins_before_its_body(monkeypatch):
    """Every spec's builder reaches the prep hook before any body code:
    with the hook raising, no builder touches the (fake) session."""

    class Pinned(Exception):
        pass

    def hook(spark):
        raise Pinned

    specs = registry.load_all()  # import every module before patching
    assert specs
    monkeypatch.setattr(catalog, "prep", hook)
    for name, spec in specs.items():
        with pytest.raises(Pinned):
            spec.builder(object(), "/nonexistent-sf-dir")
        assert spec.builder.__name__ == spec.builder.__wrapped__.__name__, name


def test_engine_sessions_run_without_call_site_capture(spark):
    """`get_spark` turns PySpark's per-call DataFrame call-site capture
    off: with it on, every Column/DataFrame call pays py4j round trips
    only to record its Python call site."""
    from blockchain2graphdb_spark.session import get_spark

    assert get_spark().conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_engine_sessions_size_the_codegen_cache_to_the_registry(spark):
    """`get_spark` sizes Spark's codegen cache (static, default 100) so
    the classes of the whole `bench.py` key set stay cached."""
    from blockchain2graphdb_spark.session import get_spark

    assert get_spark().conf.get("spark.sql.codegen.cache.maxEntries") == "4000"


@pytest.mark.slow  # ~45 s: five iterative keys, twice
def test_warm_graph_keys_compile_no_codegen_classes(spark, sf_dir):
    """A second round of the five graph_iterative keys reuses every
    generated class. Together they generate ~200 classes, so at the
    100-entry default they evict each other and every warm call
    recompiles; one key run back-to-back would fit, so all five run."""
    from blockchain2graphdb_spark.session import codegen_stats

    specs = registry.load_all()
    keys = ["wallet_components", "topo_order", "bfs_distance",
            "label_propagation", "eigenvector_centrality"]
    for key in keys:
        specs[key].builder(spark, sf_dir).collect()
    before, _ = codegen_stats(spark)
    for key in keys:
        specs[key].builder(spark, sf_dir).collect()
    assert codegen_stats(spark)[0] - before == 0


def test_builder_docstrings_have_no_unformatted_placeholders():
    """A docstring that names a module constant as `{NAME}` must be
    formatted after the builder (`fn.__doc__ = fn.__doc__.format(...)`),
    or `help()` and the registry show the braces instead of the value."""
    import re

    placeholder = re.compile(r"\{[A-Za-z_]\w*\}")
    raw = {
        key: placeholder.findall(spec.builder.__doc__ or "")
        for key, spec in registry.load_all().items()
    }
    assert not {k: v for k, v in raw.items() if v}
