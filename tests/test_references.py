"""By-reference blob versions (BlobVersionState::Reference,
blob.rs:837-841): cached-metadata reads, the monotonic refresh stale
guard (refresh_reference_metadata.rs:345-372), and the sweep job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aruna_spark.api import Engine
from aruna_spark.sources.objects import (
    apply_metadata_refresh,
    load_reference_versions,
    load_source_truth,
    reference_as_versions,
)


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


@pytest.fixture(scope="module")
def one_ref(spark, sf_dir):
    return (
        load_reference_versions(spark, sf_dir).orderBy("key").limit(1).collect()[0]
    )


def test_reference_rows_carry_no_blob(spark, sf_dir):
    """blob_hash()/blob_backend() are None for Reference
    (blob.rs:846-861): the VERSION_COLS projection has NULL blob_hash
    and answers size/etag from the cache."""
    refs = load_reference_versions(spark, sf_dir)
    as_v = reference_as_versions(refs).cache()
    assert as_v.filter(F.col("blob_hash").isNotNull()).count() == 0
    assert as_v.filter(F.col("is_delete_marker")).count() == 0
    joined = as_v.join(
        refs.select("bucket", "key", "cached_length", "cached_etag"),
        ["bucket", "key"],
    )
    assert (
        joined.filter(
            (F.col("size") != F.col("cached_length"))
            | (F.col("etag") != F.col("cached_etag"))
        ).count()
        == 0
    )


def test_head_reference_surfaces_cache(engine, one_ref, collect_calls):
    d = engine.head_object(one_ref.key, bucket="staging")
    # the resolution and the reference binding come back in one action
    assert len(collect_calls) == 1
    assert d["status"] == 200 and d["referenced"]
    assert d["etag"] == one_ref.cached_etag
    assert d["content_length"] == one_ref.cached_length
    assert d["source_kind"] == one_ref.source_kind
    assert d["source_path"] == one_ref.source_path
    assert d["connector_id"] == one_ref.connector_id
    assert d["content_type"] == one_ref.cached_content_type
    assert d["last_refresh"] == one_ref.last_refresh
    assert "content_range" not in d
    # conditionals evaluate against the CACHED etag
    assert (
        engine.head_object(one_ref.key, bucket="staging", if_match="wrong")[
            "status"
        ]
        == 412
    )
    # an unknown key is a 404 that is not referenced and carries no
    # binding fields
    collect_calls.clear()
    missing = engine.head_object(one_ref.key + ".nope", bucket="staging")
    assert len(collect_calls) == 1
    assert missing["status"] == 404 and not missing["referenced"]
    assert "source_kind" not in missing and "content_type" not in missing


def test_get_object_attributes_reference_branch(engine, one_ref):
    out = engine.get_object_attributes(one_ref.key, bucket="staging")
    a = out["attributes"]
    assert out["status"] == 200 and a["referenced"]
    assert a["location"] is None and a["version_created_at"] is None
    assert a["size"] == one_ref.cached_length
    assert out["parts"] == []
    # explicit unknown version on a reference key: 404
    assert (
        engine.get_object_attributes(
            one_ref.key, bucket="staging", version_id="v9"
        )["status"]
        == 404
    )


def test_refresh_stale_guard(engine, one_ref):
    """refreshed_at <= last_refresh is a no-op (rs:345-350); strictly
    newer rewrites the cache and advances last_refresh."""
    stale = engine.refresh_reference_metadata(
        one_ref.key,
        refreshed_at=one_ref.last_refresh,
        new_length=1,
        new_etag="x",
    )
    assert not stale["applied"]
    assert stale["cached_etag"] == one_ref.cached_etag
    assert stale["last_refresh"] == one_ref.last_refresh
    fresh = engine.refresh_reference_metadata(
        one_ref.key,
        refreshed_at=one_ref.last_refresh + 7,
        new_length=123,
        new_etag="fresh-etag",
    )
    assert fresh["applied"]
    assert fresh["cached_length"] == 123
    assert fresh["cached_etag"] == "fresh-etag"
    assert fresh["last_refresh"] == one_ref.last_refresh + 7


def test_refresh_skips_missing_and_materialized(engine):
    """A refresh for a missing key or a non-Reference (materialized)
    version is a silent skip (rs:345-349,374-376)."""
    gone = engine.refresh_reference_metadata("ext/no/such.bin", 9999)
    assert not gone["applied"] and gone["reason"] == "not-a-reference"
    # a corpus key is Materialized, never in the reference relation
    mat = engine.refresh_reference_metadata(
        "data/web/en/doc-1.txt", 9999, bucket="corpus"
    )
    assert not mat["applied"]


def test_refresh_reheads_source_when_metadata_omitted(engine, one_ref):
    """Omitting the metadata arguments re-heads the staging connector
    listing: the applied cache equals the source truth."""
    out = engine.refresh_reference_metadata(
        one_ref.key, refreshed_at=one_ref.last_refresh + 100
    )
    assert out["applied"]
    truth = (
        load_source_truth(engine.spark, engine.sf_dir)
        .filter(F.col("source_path") == one_ref.source_path)
        .collect()[0]
    )
    assert out["cached_length"] == truth.truth_length
    assert out["cached_etag"] == truth.truth_etag


def test_sweep_guard_partition(spark, sf_dir, engine):
    """Sweep: refreshed rows carry the truth metadata and the queue
    tick; guard losers keep the stale cache bit-for-bit."""
    refs = load_reference_versions(spark, sf_dir).cache()
    swept = engine.staging_refresh_sweep().cache()
    truth = load_source_truth(spark, sf_dir)
    j = (
        swept.join(
            refs.select(
                "bucket",
                "key",
                F.col("cached_length").alias("old_len"),
                F.col("cached_etag").alias("old_etag"),
                F.col("last_refresh").alias("old_lr"),
            ),
            ["bucket", "key"],
        )
        .join(truth, ["source_kind", "source_path"])
        .cache()
    )
    # losers: unchanged
    assert (
        j.filter(~F.col("refreshed"))
        .filter(
            (F.col("cached_length") != F.col("old_len"))
            | (F.col("cached_etag") != F.col("old_etag"))
            | (F.col("last_refresh") != F.col("old_lr"))
        )
        .count()
        == 0
    )
    # winners: truth landed, last_refresh strictly advanced
    assert (
        j.filter(F.col("refreshed"))
        .filter(
            (F.col("cached_length") != F.col("truth_length"))
            | (F.col("cached_etag") != F.col("truth_etag"))
            | (F.col("last_refresh") <= F.col("old_lr"))
        )
        .count()
        == 0
    )
    assert swept.filter(F.col("refreshed")).count() > 0
    assert swept.filter(~F.col("refreshed")).count() > 0


def test_refresh_is_idempotent_at_same_tick(spark, sf_dir):
    """Re-draining the same queue tick is a no-op: applying the sweep's
    refresh batch twice equals applying it once (the guard eats the
    duplicate — duplicate_reference_metadata_refresh tests' semantics)."""
    refs = load_reference_versions(spark, sf_dir)
    truth = load_source_truth(spark, sf_dir)
    tick = (
        F.lit(1000)
        + F.regexp_extract(F.col("key"), r"doc-(\d+)\.bin$", 1).cast("long") % 9
    )
    batch = (
        refs.select("bucket", "key", "source_kind", "source_path")
        .join(truth, ["source_kind", "source_path"])
        .select(
            "bucket",
            "key",
            tick.alias("refreshed_at"),
            F.col("truth_length").alias("new_length"),
            F.lit("text/plain").alias("new_content_type"),
            F.col("truth_etag").alias("new_etag"),
        )
    )
    once = apply_metadata_refresh(refs, batch).drop("refreshed")
    twice = apply_metadata_refresh(once, batch).drop("refreshed")
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_list_objects_staging_bucket(engine):
    """ListObjectsV2 over the staging bucket lists reference heads from
    cache (list_objects_v2.rs:511-529); the corpus listing never leaks
    ext/ keys and vice versa."""
    page = engine.list_objects(prefix="ext/", bucket="staging").collect()
    assert page and all(r.entry.startswith("ext/") for r in page)
    corpus = engine.list_objects(prefix="ext/").collect()
    assert corpus == []
    rolled = engine.list_objects(
        prefix="ext/", delimiter="/", bucket="staging"
    ).collect()
    assert rolled and all(r.kind == "common_prefix" for r in rolled)


# ----------------------------------------------- staging_refresh_drain
def test_refresh_drain_page_is_key_ordered_first_64(spark, sf_dir):
    """The page is the first REFRESH_BATCH_SIZE due jobs in KEY order
    (refresh_reference_metadata.rs:611-620 — the scan collects as
    encountered and stops at the limit, never sorting by due)."""
    from aruna_spark.queries.references import (
        REFRESH_BATCH_SIZE,
        REFRESH_NOW_MS,
        load_refresh_jobs,
        staging_refresh_drain,
    )

    jobs = [r.asDict() for r in load_refresh_jobs(spark, sf_dir).collect()]
    due = sorted(
        (j for j in jobs if j["due_at_ms"] <= REFRESH_NOW_MS),
        key=lambda j: (j["bucket"], j["key"]),
    )
    rows = staging_refresh_drain(spark, sf_dir).collect()
    assert {r.key for r in rows} == {
        j["key"] for j in due[:REFRESH_BATCH_SIZE]
    }
    has_more = len(due) >= REFRESH_BATCH_SIZE
    assert all(r.has_more_due == has_more for r in rows)


def test_refresh_drain_retry_feeds_rearm(spark, sf_dir):
    """When the batch does not fill, the re-arm interval is the min of
    the earliest future job and the earliest minted retry
    (rs:521-528, 552-557). At sf0.001 the retries are earlier than
    the future lane, so the retry branch decides."""
    from aruna_spark.queries.references import (
        REFRESH_NOW_MS,
        load_refresh_jobs,
        staging_refresh_drain,
    )

    rows = staging_refresh_drain(spark, sf_dir).collect()
    assert rows and all(not r.has_more_due for r in rows)
    resched = [r for r in rows if r.result == "rescheduled"]
    assert resched, "failure lane must be alive at sf0.001"
    for r in resched:
        assert r.next_attempts == r.attempts + 1
        assert r.next_due_at_ms == REFRESH_NOW_MS + min(
            250 << min(r.attempts + 1, 7), 30_000
        )
    jobs = load_refresh_jobs(spark, sf_dir).collect()
    future = min(
        j.due_at_ms for j in jobs if j.due_at_ms > REFRESH_NOW_MS
    )
    expected = min(
        min(r.next_due_at_ms for r in resched), future
    ) - REFRESH_NOW_MS
    assert all(r.next_due_after_ms == expected for r in rows)


def test_refresh_drain_fills_and_goes_silent_on_deep_queue(spark):
    """A queue with >= one batch of due jobs reports has_more_due with
    a None re-arm — the drain kicks itself (rs:552-557)."""
    from pyspark.sql import functions as F

    from aruna_spark.queries.references import (
        REFRESH_BATCH_SIZE,
        refresh_drain_tick,
    )

    n = REFRESH_BATCH_SIZE + 20
    jobs = spark.range(n).select(
        F.lit("staging").alias("bucket"),
        F.format_string("ext/k%05d", F.col("id")).alias("key"),
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id")).alias("due_at_ms"),
        F.lit(0).cast("int").alias("attempts"),
    )
    out = refresh_drain_tick(jobs, 10_000).collect()
    assert len(out) == REFRESH_BATCH_SIZE
    assert all(r.has_more_due and r.next_due_after_ms is None for r in out)
    # exactly-one-batch: the early-return flag still trips (>= limit)
    exact = jobs.limit(REFRESH_BATCH_SIZE)
    out = refresh_drain_tick(exact, 10_000).collect()
    assert all(r.has_more_due for r in out)
