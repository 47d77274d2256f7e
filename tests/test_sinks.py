"""Sink surface (SURVEY.md §2.1 S4/S5): graph writes and whole-graph
export as columnar file sinks."""

from __future__ import annotations

from blockchain2graphdb_spark import registry
from conftest import SF_DIR
import pytest

SPECS = registry.load_all()


def test_export_edges_parquet_roundtrip(spark, tmp_path):
    """S5: whole-graph export (B:1248 GraphML) -> parquet + csv sinks."""
    df = SPECS["export_edges"].builder(spark, SF_DIR)
    n = df.count()

    pq_dir = str(tmp_path / "edges_parquet")
    df.write.mode("overwrite").parquet(pq_dir)
    assert spark.read.parquet(pq_dir).count() == n

    csv_dir = str(tmp_path / "edges_csv")
    df.write.mode("overwrite").option("header", True).csv(csv_dir)
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.count() == n
    assert back.columns == ["src", "dst", "rel"]


def test_partitioned_graph_sink(spark, tmp_path):
    """S4: vertex-table sink partitioned by the pruning key (blocks by
    height band at scale; here orders by status) — partition pruning on
    read-back proves the layout."""
    df = SPECS["update_columns"].builder(spark, SF_DIR)  # (status, n)
    out = str(tmp_path / "by_status")
    df.write.mode("overwrite").partitionBy("status").parquet(out)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.select("status", "n").collect())) == sorted(
        map(tuple, df.collect())
    )
    # pruned read: the status predicate becomes a PartitionFilter on the
    # scan (never a data filter), proving layout-level pruning works
    from blockchain2graphdb_spark.plans.inspect import plan_string

    one = spark.read.parquet(out).where("status = 'X'")
    plan = plan_string(one)
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters", 1)[1][:200]


def test_graphml_export_roundtrip(spark, tmp_path):
    """S5 (B:1248 graph.io(IoCore.graphml()), commented out in the
    reference): export the mini-chain's block graph as GraphML and parse
    it back — node/edge counts and attributes must survive."""
    import xml.etree.ElementTree as ET

    from blockchain2graphdb_spark.chain import fixtures
    from blockchain2graphdb_spark.sources.graphml import write_graphml
    from pyspark.sql import functions as F

    chain = fixtures.generate(n_blocks=8, seed=3)
    tables = chain.to_spark(spark)
    vertices = tables["blocks"].select(
        F.col("hash").alias("id"), F.col("height").cast("string").alias("height")
    )
    edges = (
        tables["blocks"]
        .where(F.col("prev_hash").isNotNull())
        .select(F.col("prev_hash").alias("src"), F.col("hash").alias("dst"))
        .withColumn("label", F.lit("chain"))
    )
    out = str(tmp_path / "chain.graphml")
    write_graphml(vertices, edges, out)

    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.parse(out).getroot()
    nodes = root.findall(".//g:node", ns)
    xedges = root.findall(".//g:edge", ns)
    assert len(nodes) == vertices.count() == 8
    assert len(xedges) == edges.count() == 7
    heights = {
        n.get("id"): n.find("g:data", ns).text for n in nodes
    }
    exp = {r["id"]: r["height"] for r in vertices.collect()}
    assert heights == exp
    # edges reference declared nodes
    ids = set(heights)
    assert all(e.get("source") in ids and e.get("target") in ids for e in xedges)


@pytest.mark.slow  # >9s measured r13; full lane still runs it
def test_graphml_quotes_hostile_values_and_column_names(spark, tmp_path):
    """Attribute values containing double quotes (and <>&) must produce
    well-formed XML, and an exotic column name must use the SAME key id
    in its <key> declaration and every <data> element."""
    import xml.etree.ElementTree as ET

    from blockchain2graphdb_spark.sources.graphml import write_graphml

    hostile = 'he said "hi" <&>'
    vertices = spark.createDataFrame(
        [(hostile, "v1"), ("plain", "v2")], ["id", 'we"ird <col>']
    )
    edges = spark.createDataFrame([(hostile, "plain")], ["src", "dst"])
    out = str(tmp_path / "hostile.graphml")
    write_graphml(vertices, edges, out)

    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.parse(out).getroot()  # raises if malformed
    nodes = {n.get("id"): n for n in root.findall(".//g:node", ns)}
    assert set(nodes) == {hostile, "plain"}
    key_decl = root.find(".//g:key[@for='node']", ns)
    data = nodes[hostile].find("g:data", ns)
    assert key_decl.get("id") == data.get("key")  # ids match exactly
    assert key_decl.get("attr.name") == 'we"ird <col>'
    edge = root.find(".//g:edge", ns)
    assert edge.get("source") == hostile and edge.get("target") == "plain"
