"""Incremental postings-index maintenance over a versioned table.

The reference's search index is a MAINTAINED structure: document writes
update the persistent Tantivy index in place
(``operations/src/metadata/search_enrichment.rs`` enriches per write;
``handle.rs:3466-3878`` updates stores at ingest) — it is never rebuilt
from the corpus. The batch analog here: the postings index lives in a
:class:`~aruna_spark.ops.versioned.VersionedTable` whose committed
files are token-shard leaf directories (``part-<uuid>/shard=N``), and a
document upsert/delete batch rewrites ONLY the affected shards:

1. materialize the batch once: its postings with their on-row ``dl``
   (a local checkpoint whose observed metrics also return the token
   buckets the batch hashes to), and the drop set (changed subjects ∪
   the batch's subjects);
2. affected shards = shards of the NEW postings ∪ shards holding any
   OLD posting of a dropped subject. The old-side lookup is a
   column-pruned (subject, token) scan of the leaves the batch does not
   already cover, so it is skipped when the batch covers every leaf —
   at scale this is the classic doc→shards sidecar; the scan form keeps
   this module dependency-free;
3. rewrite each affected shard: old rows minus dropped subjects, plus
   the new postings — one shuffle over the affected leaves only;
4. commit a new manifest: unaffected shard files carried over BY
   REFERENCE (no data movement), rewritten shards' new files appended.
   Optimistic concurrency via the versioned table's O_EXCL claim.

Fan-out. A token's bucket is ``pmod(xxhash64(token), 256)``; a version
with ``n`` shards (a power of two ≤ 256) keeps bucket ``b`` in shard
``b % n``, which equals ``pmod(xxhash64(token), n)``. ``n`` is sized to
the index — the smallest power of two ≥ rows / :data:`SHARD_ROWS`, at
most 256 — so a small index is one leaf, not hundreds of near-empty
files. :func:`init_postings_table` and :func:`compact_postings` size
``n``; an upsert keeps its snapshot's ``n`` unless it rewrites every
shard, when it re-sizes from the snapshot's rows (its leaves' parquet
footers).

Rewrite cost. A batch whose postings hold ``T`` distinct tokens touches
about ``n(1 - e^(-T/n))`` of the ``n`` shards — roughly ``min(T, n)``
shards of up to ``SHARD_ROWS`` rows each. While ``n <= T`` that is
nearly the whole index, and at ``n = 1`` (every index of at most
``SHARD_ROWS`` rows) every upsert rewrites the whole index. The fixed
256-way layout rewrote only a ``1 - e^(-T/256)`` share, in many more,
smaller files: on an index of ~1M rows (``n = 16``) a 100-token batch
now rewrites ~1M rows where it rewrote ~320k.

Manifest keys beyond the versioned table's own:

- ``aux``: the version's scoring-sidecar dir (``dl``, ``stats``);
- ``shards``: the fan-out ``n``, an int because the orphan sweep treats
  every string value of a manifest as a path it must keep. A manifest
  without it was written by the fixed 256-way layout and reads as 256.

Every read of this module's layouts (leaves, ``dl``, ``stats``) pins the
schema, so no read starts a schema-inference job. A version holds at
most one leaf per shard (a rewrite replaces all of a shard's leaves), so
reads stay under Spark's 32-path parallel-listing threshold up to a
fan-out of 32 (~2M rows).

Query-time shard pruning is manifest-level: a k-token query selects the
``shard=N`` paths from the pinned manifest (exact, driver-side, no
storage listing) — see :func:`read_pruned`.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from aruna_spark.ops.mat import DISK_ONLY
from aruna_spark.ops.versioned import CommitConflict, VersionedTable
from aruna_spark.search.bm25 import build_doc_lengths, build_field_stats

# token bucket space: the largest fan-out, and a keyless manifest's
BUCKETS = 256
SHARD_ROWS = 65_536  # postings rows per shard the fan-out is sized for

_SHARD_RE = re.compile(r"shard=(\d+)")

_AUX = "_aux"

_POSTINGS_SCHEMA = (
    "subject string, field string, graph_iri string, token string, "
    "tf bigint, dl bigint, df bigint"
)
_DL_SCHEMA = "subject string, field string, dl bigint"
_STATS_SCHEMA = "field string, n bigint, avgdl double"


def fanout(rows: int) -> int:
    """Shard count for an index of ``rows`` postings rows: the smallest
    power of two ≥ rows / SHARD_ROWS, at most BUCKETS."""
    n = 1
    while n < BUCKETS and n * SHARD_ROWS < rows:
        n *= 2
    return n


def _shard(n: int):
    return F.pmod(F.xxhash64("token"), F.lit(n)).cast("int")


def _by_shard(files: list[str]) -> dict[int, list[str]]:
    by_shard: dict[int, list[str]] = {}
    for f in files:
        if m := _SHARD_RE.search(f):
            by_shard.setdefault(int(m.group(1)), []).append(f)
    return by_shard


def _snapshot(table: VersionedTable, version: int | None) -> dict:
    """The manifest of the pinned version (default latest). A manifest
    without ``shards`` predates fan-out sizing; its leaves must still
    carry the on-row scoring columns every reader here relies on."""
    if version is None:
        version = table.latest_version()
    files = table.files(version)  # NoSuchVersion for a missing/empty one
    manifest = table._manifest(version)
    if "shards" not in manifest:
        _require_scoring_columns(table, files[0])
    return manifest


def _require_scoring_columns(table: VersionedTable, leaf: str) -> None:
    """Refuse a snapshot written before the on-row ``dl``/``df``
    columns: read one leaf file's footer (driver-side, no Spark job)."""
    import pyarrow.parquet as pq

    from aruna_spark.store import LAYOUT_VERSION

    leaf_dir = os.path.join(table.path, leaf)
    name = min(f for f in os.listdir(leaf_dir) if f.endswith(".parquet"))
    columns = pq.read_schema(os.path.join(leaf_dir, name)).names
    if not {"dl", "df"} <= set(columns):
        raise ValueError(
            f"postings index {table.path} predates the on-row dl/df "
            f"scoring columns: rebuild required (layout {LAYOUT_VERSION}, "
            "init_postings_table)"
        )


def _read_leaves(
    spark: SparkSession, table: VersionedTable, leaves: list[str]
) -> DataFrame:
    return spark.read.schema(_POSTINGS_SCHEMA).parquet(
        *[os.path.join(table.path, f) for f in leaves]
    )


def _leaf_rows(table: VersionedTable, leaves: list[str]) -> int:
    """Rows in ``leaves``, from their parquet footers (driver-side)."""
    import pyarrow.parquet as pq

    total = 0
    for leaf in leaves:
        leaf_dir = os.path.join(table.path, leaf)
        for name in os.listdir(leaf_dir):
            if name.endswith(".parquet"):
                path = os.path.join(leaf_dir, name)
                total += pq.read_metadata(path).num_rows
    return total


def _write_leaves(
    table: VersionedTable, postings: DataFrame, n: int
) -> list[str]:
    """Write ``postings`` (rows with on-row ``dl``; any ``df`` is
    recomputed) as one fresh part of ``shard=N`` leaves at fan-out
    ``n``, one file per shard sorted by token; returns the leaves.

    ``df`` is computed here per (field, token) over the rows written: a
    token lives entirely in its shard, so the shard repartition already
    clusters it (one shuffle), and every row whose df a batch could
    change is in a rewritten shard. ``dl`` stays valid for kept rows
    because a document's rows rewrite together."""
    part = f"part-{uuid.uuid4().hex}"
    out = os.path.join(table.path, part)
    (
        postings.select(
            "subject", "field", "graph_iri", "token", "tf", "dl"
        )
        .withColumn("shard", _shard(n))
        .repartition("shard")
        .withColumn(
            "df",
            F.count(F.lit(1)).over(
                Window.partitionBy("shard", "field", "token")
            ),
        )
        .sortWithinPartitions("shard", "token", "subject")
        .write.partitionBy("shard")
        .parquet(out)
    )
    return sorted(
        f"{part}/{d}" for d in os.listdir(out) if d.startswith("shard=")
    )


def _write_aux(table: VersionedTable, dl: DataFrame) -> str:
    """Materialize the scoring sidecars (per-field doc lengths + corpus
    stats) for one commit ATTEMPT under a UNIQUE ``_aux/<uuid>/`` dir,
    written BEFORE the manifest claim. The winning attempt's dir is
    recorded in its manifest (``aux`` key) — the same immutability rule
    as data files. Keying the dir by attempt (not by version number)
    means two racing writers can never overwrite each other's sidecars:
    the loser leaves only an unreferenced dir for the orphan sweep.

    ``dl`` is written first and stats are derived from the WRITTEN
    parquet, so the corpus-scale doc-length aggregation executes once
    per commit, not once per sidecar. The algebraic refinement for very
    large corpora (store per-field (n, sum_dl) and roll deltas forward)
    drops even the dl re-scan; dl is ≤4 rows/doc, so that scan is cheap
    far past this sandbox's scale."""
    aux_rel = f"{_AUX}/{uuid.uuid4().hex}"
    base = os.path.join(table.path, aux_rel)
    dl_path = os.path.join(base, "dl")
    dl.coalesce(1).write.parquet(dl_path)
    written_dl = dl.sparkSession.read.schema(_DL_SCHEMA).parquet(dl_path)
    build_field_stats(written_dl).coalesce(1).write.parquet(
        os.path.join(base, "stats")
    )
    return aux_rel


def read_aux(
    spark: SparkSession, table: VersionedTable, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The pinned version's (dl, stats) scoring sidecars, resolved
    through the version's manifest (``aux`` key) — never by guessing a
    path from the version number."""
    if version is None:
        version = table.latest_version()
    base = os.path.join(table.path, table._manifest(version)["aux"])
    return (
        spark.read.schema(_DL_SCHEMA).parquet(os.path.join(base, "dl")),
        spark.read.schema(_STATS_SCHEMA).parquet(
            os.path.join(base, "stats")
        ),
    )


def read_snapshot(
    spark: SparkSession, table: VersionedTable, version: int | None = None
) -> DataFrame:
    """Every postings row of the pinned version (default latest)."""
    return _read_leaves(spark, table, _snapshot(table, version)["files"])


_SHARD_CACHE: dict[str, int] = {}


def token_shards(spark: SparkSession, tokens: list[str]) -> set[int]:
    """Driver-side token buckets for query tokens (memoized): one 1-row
    constant-folded job for the uncached tokens — no Python xxhash64
    reimplementation to drift from the JVM's, no data scan. A bucket
    is a shard id in every version: :func:`read_pruned` reduces it to
    the pinned version's fan-out."""
    missing = [t for t in dict.fromkeys(tokens) if t not in _SHARD_CACHE]
    if missing:
        row = (
            spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(F.lit(t)), F.lit(BUCKETS))
                    .cast("int")
                    .alias(f"s{i}")
                    for i, t in enumerate(missing)
                ]
            )
            .collect()[0]
        )
        for i, t in enumerate(missing):
            _SHARD_CACHE[t] = row[i]
    return {_SHARD_CACHE[t] for t in tokens}


def init_postings_table(
    spark: SparkSession, postings: DataFrame, path: str
) -> VersionedTable:
    """Create version 0: the full postings written as one part dir of
    shard leaves at the fan-out their row count sizes, manifest listing
    each ``shard=N`` leaf separately so later versions can swap
    individual shards. The postings are materialized once (their row
    count observed on it); the scoring sidecars (dl/stats) are written
    from them before the leaves, which take ``dl`` from the written
    sidecar."""
    table = VersionedTable(path)
    latest = table.latest_version()
    seen = Observation()
    postings = postings.observe(
        seen, F.count(F.lit(1)).alias("rows")
    ).localCheckpoint(eager=True, storageLevel=DISK_ONLY)
    n = fanout(seen.get["rows"])
    aux_rel = _write_aux(table, build_doc_lengths(postings))
    dl = spark.read.schema(_DL_SCHEMA).parquet(
        os.path.join(path, aux_rel, "dl")
    )
    leaves = _write_leaves(table, postings.join(dl, ["subject", "field"]), n)
    table._commit_manifest(
        leaves,
        "overwrite",
        VersionedTable.next_version(latest),
        extra={"aux": aux_rel, "shards": n},
    )
    return table


def upsert_postings(
    table: VersionedTable,
    spark: SparkSession,
    new_postings: DataFrame,
    changed_subjects: DataFrame,
    expected_version: int | None = None,
) -> int:
    """Apply one write batch: every subject in ``changed_subjects`` OR
    appearing in ``new_postings`` has its old postings dropped, and
    ``new_postings`` (possibly empty for pure deletes) inserted — the
    drop set is the UNION, so an upsert whose subject was omitted from
    ``changed_subjects`` can never leave stale duplicate (subject,
    token) rows behind. Only affected shards are read and rewritten;
    all other shard files carry into the new manifest untouched."""
    latest = table.latest_version()
    if expected_version is not None and latest != expected_version:
        raise CommitConflict(
            f"expected version {expected_version}, log is at {latest}"
        )
    # pin the snapshot this batch validated — a re-resolved `latest`
    # here would widen the window between the conflict check above and
    # the data actually read
    manifest = _snapshot(table, latest)
    n = manifest.get("shards", BUCKETS)
    by_shard = _by_shard(manifest["files"])

    seen = Observation()
    batch = (
        new_postings.select("subject", "graph_iri", "field", "token", "tf")
        .withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("subject", "field"))
        )
        .observe(
            seen,
            F.collect_set(
                F.pmod(F.xxhash64("token"), F.lit(BUCKETS)).cast("int")
            ).alias("buckets"),
        )
        .localCheckpoint(eager=True, storageLevel=DISK_ONLY)
    )
    drop = (
        changed_subjects.select("subject")
        .unionByName(batch.select("subject"))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=DISK_ONLY)
    )
    new_shards = {b % n for b in seen.get["buckets"]}
    uncovered = [
        f for s, fs in by_shard.items() if s not in new_shards for f in fs
    ]
    affected = new_shards | _old_shards(spark, table, uncovered, drop, n)
    if not affected:
        return latest  # nothing to do: no new manifest

    rewrite = [f for s in sorted(affected) for f in by_shard.get(s, [])]
    carried = sorted(
        f for s, fs in by_shard.items() if s not in affected for f in fs
    )
    if not carried:
        n = fanout(_leaf_rows(table, rewrite))
    rewritten = batch
    if rewrite:
        rewritten = (
            _read_leaves(spark, table, rewrite)
            .join(F.broadcast(drop), "subject", "left_anti")
            .drop("df")
            .unionByName(batch)
        )
    new_leaves = _write_leaves(table, rewritten, n)

    # maintain the scoring sidecars incrementally: dropped subjects' dl
    # rows out, new docs' dl rows in; stats re-aggregated from the small
    # dl relation (see _write_aux)
    old_dl, _ = read_aux(spark, table, latest)
    new_dl = old_dl.join(
        F.broadcast(drop), "subject", "left_anti"
    ).unionByName(batch.select("subject", "field", "dl").distinct())
    return table._commit_manifest(
        carried + new_leaves,
        "overwrite",
        VersionedTable.next_version(latest),
        extra={"aux": _write_aux(table, new_dl), "shards": n},
    )


def _old_shards(
    spark: SparkSession,
    table: VersionedTable,
    leaves: list[str],
    drop: DataFrame,
    n: int,
) -> set[int]:
    """Shards among ``leaves`` holding a posting of a dropped subject."""
    if not leaves:
        return set()
    hits = (
        _read_leaves(spark, table, leaves)
        .select("subject", "token")
        .join(F.broadcast(drop), "subject", "left_semi")
        .select(_shard(n).alias("shard"))
        .distinct()
    )
    return {r.shard for r in hits.collect()}


def read_pruned(
    spark: SparkSession,
    table: VersionedTable,
    shards: set[int],
    version: int | None = None,
) -> DataFrame:
    """Manifest-level shard pruning: read only the leaves of the pinned
    version that hold the given token buckets (:func:`token_shards`) —
    bucket ``b`` lives in shard ``b % n`` of a version with fan-out
    ``n``."""
    manifest = _snapshot(table, version)
    n = manifest.get("shards", BUCKETS)
    by_shard = _by_shard(manifest["files"])
    files = [
        f for s in sorted({b % n for b in shards}) for f in by_shard.get(s, [])
    ]
    if not files:
        return spark.createDataFrame([], _POSTINGS_SCHEMA)
    return _read_leaves(spark, table, files)


def compact_postings(table: VersionedTable, spark: SparkSession) -> int:
    """Layout-aware OPTIMIZE for the postings index (the generic
    :meth:`VersionedTable.compact` refuses layout-bearing tables):
    rewrites the latest snapshot's shard leaves — spread over one part
    dir per upsert that touched them — into ONE fresh part of one file
    per shard at the fan-out the snapshot's rows size (a partial
    upsert keeps its snapshot's fan-out, so an index that grew or shrank
    past a power of two is re-sized here), preserving the ``shard=N``
    path encoding the manifest prunes on, and carrying
    the scoring sidecars forward BY REFERENCE (compaction does not
    change the corpus, so the committed ``aux`` dir is reused, not
    rewritten). Optimistic like any commit."""
    latest = table.latest_version()
    manifest = _snapshot(table, latest)
    n = fanout(_leaf_rows(table, manifest["files"]))
    leaves = _write_leaves(
        table, _read_leaves(spark, table, manifest["files"]), n
    )
    return table._commit_manifest(
        leaves,
        "overwrite",
        VersionedTable.next_version(latest),
        extra={"aux": manifest["aux"], "shards": n},
    )
