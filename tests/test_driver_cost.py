"""Fixed driver cost of a read: the schema-pinned parquet reader, the
property-path closure loop (no probe job per round) and the py4j round
trips of a point-query plan build."""

from __future__ import annotations

import threading
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from aruna_spark.catalog import read_parquet
from aruna_spark.ingest.jsonld import TRIPLES_SCHEMA
from aruna_spark.sparql.engine import SparqlEngine


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs (counted on a job group)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ----------------------------------------------------------- read_parquet
def test_read_parquet_pins_schema_after_first_read(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(6).withColumn("part", F.col("id") % 2).write.partitionBy(
        "part"
    ).parquet(path)
    assert _jobs(spark, lambda: read_parquet(spark, path)) >= 1
    assert _jobs(spark, lambda: read_parquet(spark, path)) == 0
    # the pinned read keeps the partition column and its pruning
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    rows = df.filter(F.col("part") == 1).collect()
    assert sorted(r.id for r in rows) == [1, 3, 5]


def test_read_parquet_rereads_a_table_overwritten_in_place(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).withColumn("twice", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "twice"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, 0), (1, 2), (2, 4)]


def test_read_parquet_leaves_a_missing_path_to_spark(spark, tmp_path):
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent"))


# ------------------------------------------------------ path closure loop
X = "urn:x:"
PRED = f"{X}p"


def _engine(spark, edges, other=()):
    """An engine over ``PRED`` edges plus ``other`` (s, o) pairs under a
    second predicate and one literal, so zero-length paths range over
    nodes that have no ``PRED`` edge."""
    rows = [("g", X + s, PRED, "iri", X + o, None, None) for s, o in edges]
    rows += [("g", X + s, f"{X}q", "iri", X + o, None, None) for s, o in other]
    rows.append(("g", f"{X}a", f"{X}name", "literal", "a", None, None))
    return SparqlEngine(spark, spark.createDataFrame(rows, TRIPLES_SCHEMA))


def _model(op, edges, other):
    """The SPARQL answer for ``?s <p>op ?o`` over the same graph."""
    nodes = {n for pair in (*edges, *other) for n in pair} | {"a"}
    plus = set(edges)
    while True:
        more = {(s, o2) for s, o in plus for s2, o2 in edges if o == s2} - plus
        if not more:
            break
        plus |= more
    identity = {(n, n) for n in nodes}
    return {"+": plus, "*": plus | identity, "?": set(edges) | identity}[op]


CYCLIC = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "c"), ("d", "a")]


@pytest.mark.parametrize("op", ["+", "*", "?"])
@pytest.mark.parametrize(
    "edges,other", [(CYCLIC, []), ([], [("a", "b")])], ids=["cyclic", "no-edges"]
)
def test_closure_equals_python_model(spark, op, edges, other):
    engine = _engine(spark, edges, other)
    rows = engine.query_flat(f"SELECT ?s ?o WHERE {{ ?s <{PRED}>{op} ?o }}").collect()
    got = sorted((r.s[len(X):], r.o[len(X):]) for r in rows)
    assert got == sorted(_model(op, edges, other))


def test_closure_loop_runs_no_take(spark, monkeypatch):
    k = 5
    chain = [(f"n{i}", f"n{i + 1}") for i in range(k)]
    engine = _engine(spark, chain)
    cls = type(spark.range(1))
    takes = []
    take = cls.take
    monkeypatch.setattr(cls, "take", lambda self, n: takes.append(n) or take(self, n))
    rows = engine.query_flat(f"SELECT ?s ?o WHERE {{ ?s <{PRED}>+ ?o }}").collect()
    assert takes == []
    got = {(r.s[len(X):], r.o[len(X):]) for r in rows}
    assert got == {(f"n{i}", f"n{j}") for i in range(k) for j in range(i + 1, k + 1)}


# ------------------------------------------------------------- py4j guard
def test_point_query_plan_build_py4j_budget(spark, sf_dir, monkeypatch):
    """Compiling a two-pattern point query makes ~250 py4j round trips;
    with PySpark's per-call call-site capture on it makes ~1,000
    (``session.get_spark`` turns it off)."""
    from aruna_spark.store import triples_store

    engine = SparqlEngine(spark, triples_store(spark, sf_dir))
    text = (
        "PREFIX schema: <http://schema.org/> SELECT ?s ?lang WHERE "
        '{ ?s schema:name "doc-%d" ; schema:inLanguage ?lang }'
    )
    engine.query(text % 1)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = []

    def counting(*args, **kwargs):
        if threading.get_ident() == me:  # not another test's live threads
            calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    engine.query(text % 2)
    monkeypatch.undo()
    assert len(calls) <= 400, len(calls)
