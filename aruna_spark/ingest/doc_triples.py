"""Deterministic documents → triples projection (the RDF metadata plane).

The reference projects RO-Crate JSON-LD documents into per-document named
graphs of quads (``operations/src/metadata/handle.rs:3466-3878``; graph IRI
scheme ``core/src/structs/metadata_registry.rs:31-33``). Real ingest of
arbitrary JSON-LD lives in :mod:`aruna_spark.ingest.jsonld`; this module
derives an equivalent graph *deterministically* from the driver's
``documents.parquet`` so every SPARQL query has a DuckDB-SQL oracle over the
same parquet.

Derivation (pure column expressions — no UDFs, fully pushdown-friendly):

Each document row ``(doc_id, text, lang, source, n_chars)`` becomes one
named graph ``https://w3id.org/aruna/{doc_id}`` whose subject
``urn:aruna:doc:{doc_id}`` carries:

- ``rdf:type``           → ``schema:Dataset`` if doc_id % 5 == 0 else ``schema:File``
- ``schema:name``        → ``"doc-{doc_id}"`` (plain literal)
- ``schema:identifier``  → ``"{source}-{doc_id}"``
- ``schema:inLanguage``  → lang
- ``schema:contentSize`` → n_chars as xsd:integer literal
- ``schema:keywords``    → first whitespace token of text
- ``schema:encodingFormat`` → ``"text/plain"``
- ``schema:description`` → first 80 chars of text, ONLY when n_chars >= 200
  (gives OPTIONAL/unbound coverage)
- ``schema:isPartOf``    → IRI ``urn:aruna:collection:{doc_id % 7}``

plus one graph per collection k ∈ distinct(doc_id % 7):
``urn:aruna:collection:{k}`` with ``rdf:type schema:Collection``,
``schema:name "collection-{k}"``, and for k>0 ``schema:isPartOf
urn:aruna:collection:{(k-1)//2}`` — a tree, so property paths
(``isPartOf+``) have real transitive structure.

At 100 TB this projection is ONE narrow map stage over the documents
scan (a conditional struct array exploded per row — no shuffle at all,
and no per-predicate re-scan), plus the tiny distinct-collection frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aruna_spark.catalog import load_table, read_parquet
from aruna_spark.sparql.terms import RDF, SCHEMA, XSD_INTEGER

DOC_NS = "urn:aruna:doc:"
COLL_NS = "urn:aruna:collection:"
GRAPH_NS = "https://w3id.org/aruna/"
PROFILE_NS = "urn:aruna:profile:"
DCTERMS = "http://purl.org/dc/terms/"

TRIPLE_COLS = (
    "graph_iri",
    "subject",
    "predicate",
    "object_kind",
    "object_value",
    "object_datatype",
    "object_lang",
)


def _cell(predicate, kind, value, datatype=None):
    """One (predicate, object_*) struct of the per-row triple array."""
    return F.struct(
        F.lit(predicate).alias("predicate"),
        F.lit(kind).alias("object_kind"),
        value.alias("object_value"),
        (
            F.lit(datatype) if datatype else F.lit(None).cast("string")
        ).alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
    )


def documents_to_triples(docs: DataFrame) -> DataFrame:
    """Project the documents table into the triples schema (see module doc).

    Execution shape (r15): ONE documents scan emits every doc-subject
    triple via a conditional struct array + explode (was a 10-branch
    union = 10 scans per consumer; rocrate_export_page referenced the
    relation 4x for 72 scans in one plan). The collection graphs still
    aggregate the tiny distinct-k frame. Row multiset is identical."""
    d = docs.select(
        F.col("doc_id"),
        F.col("text"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
        F.concat(F.lit(GRAPH_NS), F.col("doc_id").cast("string")).alias("g"),
        F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("s"),
    )

    base = [
        _cell(
            RDF + "type", "iri",
            F.when(F.col("doc_id") % 5 == 0, F.lit(SCHEMA + "Dataset")).otherwise(
                F.lit(SCHEMA + "File")
            ),
        ),
        _cell(SCHEMA + "name", "literal",
              F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))),
        _cell(SCHEMA + "identifier", "literal",
              F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string"))),
        _cell(SCHEMA + "inLanguage", "literal", F.col("lang")),
        _cell(SCHEMA + "contentSize", "literal",
              F.col("n_chars").cast("string"), datatype=XSD_INTEGER),
        _cell(SCHEMA + "keywords", "literal",
              F.split_part(F.col("text"), F.lit(" "), F.lit(1))),
        _cell(SCHEMA + "encodingFormat", "literal", F.lit("text/plain")),
        _cell(SCHEMA + "isPartOf", "iri",
              F.concat(F.lit(COLL_NS), (F.col("doc_id") % 7).cast("string"))),
        # dcterms:conformsTo profile IRI (search prefilter substrate,
        # operations/src/metadata/api.rs:1165-1180)
        _cell(DCTERMS + "conformsTo", "iri",
              F.concat(F.lit(PROFILE_NS), (F.col("doc_id") % 4).cast("string"))),
    ]
    desc = _cell(SCHEMA + "description", "literal",
                 F.substring(F.col("text"), 1, 80))
    rows = F.when(F.col("n_chars") >= 200, F.array(*base, desc)).otherwise(
        F.array(*base)
    )
    doc_part = d.select(
        F.col("g").alias("graph_iri"),
        F.col("s").alias("subject"),
        F.explode(rows).alias("r"),
    ).select("graph_iri", "subject", "r.*")

    colls = (
        docs.select((F.col("doc_id") % 7).alias("k"))
        .distinct()
        .select(
            F.col("k"),
            F.concat(F.lit(GRAPH_NS), F.lit("coll"), F.col("k").cast("string")).alias("g"),
            F.concat(F.lit(COLL_NS), F.col("k").cast("string")).alias("s"),
        )
    )
    ctype = _cell(RDF + "type", "iri", F.lit(SCHEMA + "Collection"))
    cname = _cell(SCHEMA + "name", "literal",
                  F.concat(F.lit("collection-"), F.col("k").cast("string")))
    cpart = _cell(SCHEMA + "isPartOf", "iri",
                  F.concat(F.lit(COLL_NS),
                           ((F.col("k") - 1) / 2).cast("long").cast("string")))
    coll_rows = F.when(F.col("k") > 0, F.array(ctype, cname, cpart)).otherwise(
        F.array(ctype, cname)
    )
    coll_part = colls.select(
        F.col("g").alias("graph_iri"),
        F.col("s").alias("subject"),
        F.explode(coll_rows).alias("r"),
    ).select("graph_iri", "subject", "r.*")

    return doc_part.unionByName(coll_part)


def load_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triples table for an sf_dir — projection over documents.parquet."""
    return documents_to_triples(load_table(spark, sf_dir, "documents"))


# DuckDB SQL fragment reconstructing the SAME triples relation from the
# pre-registered `documents` view — prepend as a CTE in oracle queries:
#   WITH triples AS ({TRIPLES_ORACLE_SQL}) SELECT ...
TRIPLES_ORACLE_SQL = """
    SELECT 'https://w3id.org/aruna/' || doc_id AS graph_iri,
           'urn:aruna:doc:' || doc_id AS subject,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
           'iri' AS object_kind,
           CASE WHEN doc_id % 5 = 0 THEN 'http://schema.org/Dataset'
                ELSE 'http://schema.org/File' END AS object_value,
           NULL AS object_datatype, NULL AS object_lang
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/name', 'literal', 'doc-' || doc_id, NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/identifier', 'literal', source || '-' || doc_id, NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/inLanguage', 'literal', lang, NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/contentSize', 'literal', CAST(n_chars AS VARCHAR),
           'http://www.w3.org/2001/XMLSchema#integer', NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/keywords', 'literal', split_part(text, ' ', 1), NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/encodingFormat', 'literal', 'text/plain', NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/description', 'literal', substring(text, 1, 80), NULL, NULL
    FROM documents WHERE n_chars >= 200
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://schema.org/isPartOf', 'iri',
           'urn:aruna:collection:' || (doc_id % 7), NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/' || doc_id, 'urn:aruna:doc:' || doc_id,
           'http://purl.org/dc/terms/conformsTo', 'iri',
           'urn:aruna:profile:' || (doc_id % 4), NULL, NULL
    FROM documents
    UNION ALL
    SELECT 'https://w3id.org/aruna/coll' || k, 'urn:aruna:collection:' || k,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'iri',
           'http://schema.org/Collection', NULL, NULL
    FROM (SELECT DISTINCT doc_id % 7 AS k FROM documents)
    UNION ALL
    SELECT 'https://w3id.org/aruna/coll' || k, 'urn:aruna:collection:' || k,
           'http://schema.org/name', 'literal', 'collection-' || k, NULL, NULL
    FROM (SELECT DISTINCT doc_id % 7 AS k FROM documents)
    UNION ALL
    SELECT 'https://w3id.org/aruna/coll' || k, 'urn:aruna:collection:' || k,
           'http://schema.org/isPartOf', 'iri',
           'urn:aruna:collection:' || CAST((k - 1) // 2 AS VARCHAR), NULL, NULL
    FROM (SELECT DISTINCT doc_id % 7 AS k FROM documents) WHERE k > 0
"""


def materialize_triples(triples: DataFrame, path: str) -> None:
    """Write the triples relation as a predicate-partitioned parquet
    table sorted by (graph_iri, subject) within files.

    This is the 100 TB layout: predicates are low-cardinality (a schema
    vocabulary), so ``partitionBy("predicate")`` turns every constant-
    predicate triple pattern — the overwhelmingly common case — into a
    *partition-pruned* scan that never touches other predicates' files,
    and the in-file (graph, subject) sort gives parquet min/max skipping
    for graph-scoped queries. The SPARQL compiler's pattern filters
    (``predicate == <iri>``) become PartitionFilters automatically."""
    (
        triples.repartition("predicate")
        .sortWithinPartitions("graph_iri", "subject")
        .write.mode("overwrite")
        .partitionBy("predicate")
        .parquet(path)
    )


def load_materialized_triples(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized triples table back in canonical column order."""
    return read_parquet(spark, path).select(*TRIPLE_COLS)


def materialize_triples_bucketed(
    triples: DataFrame, table: str, path: str, buckets: int = 16
) -> None:
    """Write triples as a predicate-partitioned, **subject-bucketed**
    table — the co-located-join layout for the 100 TB store.

    Every subject-keyed join in the engine — per-subject describe for
    search enrichment (``handle.rs:5245-5307``), backlink expansion
    (``iri_index.rs:48-71``), graph snapshot assembly — joins triples to
    triples (or hits to triples) on the subject IRI. ``bucketBy(subject)``
    makes two scans of this table co-partitioned: Catalyst sees matching
    ``HashPartitioning(subject, N)`` on both sides and plans the join with
    ZERO Exchange — at 1000 executors that removes the all-to-all shuffle
    of the whole triples relation, the dominant cost of enrichment joins.
    ``partitionBy(predicate)`` is kept, so constant-predicate patterns
    still prune to one directory before the bucketed join.

    Bucket count is a layout decision: at 100 TB pick buckets so one
    bucket × one predicate ≈ a few hundred MB (e.g. 4,096); 16 keeps the
    local test layout small. Requires ``saveAsTable`` (bucket metadata
    lives in the session catalog), hence the explicit external ``path``.
    """
    (
        triples.write.mode("overwrite")
        .option("path", path)
        .partitionBy("predicate")
        .bucketBy(buckets, "subject")
        .sortBy("subject")
        .saveAsTable(table)
    )
