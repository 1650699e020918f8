"""End-to-end drives of the :class:`aruna_spark.api.Engine` facade —
the reference-route-shaped switch-over surface (SURVEY §3). Route glue
only; plane semantics are tested in their own suites. The search-walk
checks mirror the reference's route-level cursor harness
(``api/src/routes/metadata.rs:3943-4600``): two-page walk with no
skip/no dup, tampered cursor rejected, cursor bound to its query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aruna_spark.api import DEFAULT_PAGE, Engine
from aruna_spark.search.cursor import SearchCursorError

QUERY = "doc"


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_sparql_route_matches_lazy_form(engine):
    text = """
    SELECT ?s ?name WHERE {
      ?s <http://schema.org/name> ?name .
    } ORDER BY ?s LIMIT 10
    """
    rows = engine.sparql(text)  # route form: governed, flat values
    lazy = engine.sparql_df(text).collect()  # lazy form: term structs
    assert len(rows) == 10
    assert [tuple(r) for r in rows] == [
        tuple(term.value if term is not None else None for term in r)
        for r in lazy
    ]


def test_search_two_page_walk_no_skip_no_dup(engine, spark, sf_dir):
    from aruna_spark.store import bm25_scored

    p1 = engine.search(QUERY)
    assert len(p1.hits) == DEFAULT_PAGE and p1.next_cursor
    p2 = engine.search(QUERY, cursor=p1.next_cursor)
    keys = lambda page: [
        (r.score_q, r.graph_iri, r.subject) for r in page.hits
    ]
    walked = keys(p1) + keys(p2)
    # exactly the top-2*PAGE of the scored relation in merge order —
    # nothing skipped at the page boundary (tie-bucket invariant),
    # nothing duplicated
    want = [
        (r.score_q, r.graph_iri, r.subject)
        for r in bm25_scored(spark, sf_dir, QUERY)
        .orderBy(F.desc("score_q"), "graph_iri", "subject")
        .limit(2 * DEFAULT_PAGE)
        .collect()
    ]
    assert walked == want
    assert len(set(walked)) == len(walked)


def test_search_cursor_tamper_and_mismatch_rejected(engine):
    p1 = engine.search(QUERY)
    # bit-flip near the middle of the encoded cursor -> reject
    raw = p1.next_cursor
    flipped = raw[: len(raw) // 2] + (
        "A" if raw[len(raw) // 2] != "A" else "B"
    ) + raw[len(raw) // 2 + 1 :]
    with pytest.raises(SearchCursorError):
        engine.search(QUERY, cursor=flipped)
    # a valid cursor replayed against a DIFFERENT query -> fingerprint
    # mismatch
    with pytest.raises(SearchCursorError):
        engine.search("name", cursor=p1.next_cursor)


def test_search_validates_query(engine):
    with pytest.raises(ValueError):
        engine.search("x")  # below min chars
    with pytest.raises(ValueError):
        engine.search("!!")  # no indexable tokens


def test_list_objects_matches_registered_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.list_objects(
        prefix="data/", delimiter="/", max_keys=20
    ).collect()
    want = REGISTRY["listing_v2_root"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ingest_export_roundtrip(engine, spark):
    from aruna_spark.ingest.jsonld import GRAPH_NS

    doc = (
        '{"@id": "urn:x:1", "@type": "http://schema.org/Dataset", '
        '"name": "hello"}'
    )
    docs = spark.createDataFrame(
        [("urn:g:1", doc)], "document_id string, jsonld string"
    )
    triples = engine.ingest_jsonld(docs)
    assert triples.count() >= 2  # @type + name
    crate = engine.export_rocrate(triples)
    back = engine.ingest_jsonld(
        crate.select(
            F.regexp_replace(
                "graph_iri", f"^{GRAPH_NS}", ""
            ).alias("document_id"),
            F.col("jsonld"),
        )
    )
    a = {tuple(r) for r in triples.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_backlinks_route_matches_registered_demo(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.backlinks import TARGET

    load_all()
    got = engine.backlinks(TARGET).collect()
    want = REGISTRY["backlinks_references"][0](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_drs_object_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.drs import W3ID_DATA_PREFIX

    load_all()
    batch = REGISTRY["drs_object_lookup"][0](spark, sf_dir).collect()
    assert batch
    one = engine.drs_object(batch[0].id)
    # the route envelope = the registered response + the rest of the
    # one-pass checksum family (sha1/crc32 beyond DRS-standard md5/sha256)
    want = batch[0].asDict()
    got = one.asDict()
    assert {k: got[k] for k in want} == want
    import hashlib
    import zlib

    content = f"blob:{want['size']}".encode()
    assert got["checksum_sha1"] == hashlib.sha1(content).hexdigest()
    assert got["checksum_crc32"] == zlib.crc32(content)
    # unknown blob -> the route's 404 (None)
    assert engine.drs_object(W3ID_DATA_PREFIX + "nope") is None
    with pytest.raises(ValueError):
        engine.drs_object("urn:not-a-drs-id")


def test_search_depth_cap_truncates_walk(engine, spark, sf_dir, monkeypatch):
    """The walk truncates at MAX_PAGINATION_DEPTH consumed hits
    (search_cursor.rs:15, rs:386-397): the page straddling the cap is
    cut to it and carries no next cursor. Exercised with the real cap
    by replaying a deep cursor, and end-to-end with a lowered cap."""
    import aruna_spark.api as api
    from aruna_spark.search.cursor import (
        MAX_PAGINATION_DEPTH,
        SearchCursor,
        SearchWatermark,
        query_fingerprint,
    )

    # a (signed, legitimate) cursor one hit short of the real cap:
    # the next page must serve exactly 1 hit and stop
    fp = query_fingerprint(QUERY)
    deep = SearchCursor.new_signed(
        fp,
        SearchWatermark(2**62, "", ""),  # watermark above every hit
        resume=[(engine.node_key.node_id, MAX_PAGINATION_DEPTH - 1)],
        signer=engine.node_key,
    ).encode()
    page = engine.search(QUERY, cursor=deep)
    assert len(page.hits) == 1 and page.next_cursor is None
    # at the cap exactly: empty page, no cursor
    at_cap = SearchCursor.new_signed(
        fp,
        SearchWatermark(2**62, "", ""),
        resume=[(engine.node_key.node_id, MAX_PAGINATION_DEPTH)],
        signer=engine.node_key,
    ).encode()
    page = engine.search(QUERY, cursor=at_cap)
    assert page.hits == [] and page.next_cursor is None
    # end-to-end with a lowered cap: the full walk stops at the cap
    monkeypatch.setattr(api, "MAX_PAGINATION_DEPTH", 40)
    walked, cur = [], None
    while True:
        p = engine.search(QUERY, page_size=25, cursor=cur)
        walked.extend(p.hits)
        cur = p.next_cursor
        if cur is None:
            break
    assert len(walked) == 40
    assert len({(r.graph_iri, r.subject) for r in walked}) == 40


def test_unified_search_route_matches_registered_demo(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.search import UNIFIED_QUERY

    load_all()
    got = engine.unified_search(UNIFIED_QUERY).collect()
    want = REGISTRY["search_unified"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a different query produces a (valid) different section relation
    other = engine.unified_search("collection").collect()
    assert {r.section for r in other} <= {
        "documents", "buckets", "groups", "users"
    }


def test_search_page_size_zero_rejected(engine):
    with pytest.raises(ValueError, match="positive"):
        engine.search(QUERY, page_size=0)


def test_graph_scope_gates_search_and_backlinks(spark, sf_dir):
    from aruna_spark.api import Engine
    from aruna_spark.queries.backlinks import TARGET

    wide = Engine(spark, sf_dir)
    all_hits = wide.search(QUERY, page_size=100).hits
    graphs = sorted({r.graph_iri for r in all_hits})
    assert len(graphs) >= 2, "need multiple graphs to test scoping"
    allowed = spark.createDataFrame(
        [(graphs[0],)], "graph_iri string"
    )
    scoped = Engine(spark, sf_dir, visible_graphs=allowed)
    got = scoped.search(QUERY, page_size=100).hits
    assert got and {r.graph_iri for r in got} == {graphs[0]}
    # backlinks likewise never leaves the scope (empty scope -> empty)
    none = Engine(
        spark,
        sf_dir,
        visible_graphs=spark.createDataFrame(
            [("urn:nope",)], "graph_iri string"
        ),
    )
    assert none.backlinks(TARGET).count() == 0


def test_scoped_unified_search_scopes_documents_section(spark, sf_dir):
    """A scoped engine SERVES unified search (the reference runs every
    section under the caller's auth, search.rs:271-330): the documents
    section equals the scoped search()'s top slice — same semi-join —
    and leaks nothing outside the scope; buckets/groups/users stay
    realm-wide."""
    from aruna_spark.api import Engine
    from aruna_spark.queries.search import SECTION_LIMIT, UNIFIED_QUERY

    wide = Engine(spark, sf_dir)
    graphs = sorted(
        {r.graph_iri for r in wide.search(UNIFIED_QUERY, page_size=100).hits}
    )
    assert len(graphs) >= 2, "need multiple graphs to test scoping"
    allowed = spark.createDataFrame([(g,) for g in graphs[:2]], "graph_iri string")
    scoped = Engine(spark, sf_dir, visible_graphs=allowed)

    rows = scoped.unified_search(UNIFIED_QUERY).collect()
    docs = sorted(
        (r for r in rows if r.section == "documents"), key=lambda r: r.rank
    )
    want = scoped.search(UNIFIED_QUERY, page_size=SECTION_LIMIT).hits
    assert [(d.key, d.score_q) for d in docs] == [
        (h.subject, h.score_q) for h in want
    ]
    # nothing outside the visible graphs leaks into the documents section
    visible_subjects = {
        h.subject
        for h in scoped.search(UNIFIED_QUERY, page_size=100).hits
    }
    assert {d.key for d in docs} <= visible_subjects
    # the realm-wide sections are unchanged by the scope
    wide_rows = wide.unified_search(UNIFIED_QUERY).collect()
    for sec in ("buckets", "groups", "users"):
        assert sorted(
            tuple(r) for r in rows if r.section == sec
        ) == sorted(tuple(r) for r in wide_rows if r.section == sec)


def test_default_node_keys_are_not_forgeable_across_engines(
    spark, sf_dir
):
    """Two default-constructed engines must NOT honor each other's
    cursors: the default signing key is random per instance, so a
    publicly-derivable key cannot forge cursors (e.g. resetting the
    depth-cap resume count)."""
    from aruna_spark.api import Engine

    a = Engine(spark, sf_dir)
    b = Engine(spark, sf_dir)
    p1 = a.search(QUERY)
    with pytest.raises(SearchCursorError):
        b.search(QUERY, cursor=p1.next_cursor)


def test_metadata_listing_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.metadata_listing(order="recent", limit=50).collect()
    want = REGISTRY["registry_listing_recent"][0](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # limit rules: anonymous clamp + invalid rejection
    assert len(engine.metadata_listing(limit=5000, anonymous=True).collect()) <= 100
    with pytest.raises(ValueError):
        engine.metadata_listing(limit=0)
    with pytest.raises(ValueError):
        engine.metadata_listing(order="sideways")


def test_path_lookup_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    all_claims = {
        r.path: r
        for r in REGISTRY["registry_path_claims"][0](spark, sf_dir).collect()
    }
    some_path = sorted(all_claims)[0]
    got = engine.path_lookup(some_path)
    assert tuple(got) == tuple(all_claims[some_path])
    assert engine.path_lookup("p/never-claimed") is None


def test_usage_counters_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.usage_counters(by_group=True).collect()
    want = REGISTRY["usage_counters_by_group"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert engine.usage_counters(by_group=False).count() == 1


# ---------------------------------------------------- object-plane routes
def _some_object(engine):
    # a LIVE head (not a delete marker) so get/put expectations hold
    return (
        engine._versions()
        .filter(F.col("is_latest") & ~F.col("is_delete_marker"))
        .orderBy("key")
        .limit(1)
        .collect()[0]
    )


def _some_deleted_key(engine):
    return (
        engine._versions()
        .filter(F.col("is_latest") & F.col("is_delete_marker"))
        .orderBy("key")
        .limit(1)
        .collect()[0]
    )


def test_put_object_route(engine):
    prior = _some_object(engine)
    # new content at an existing key -> next version_idx, not deduplicated
    row = engine.put_object(prior.key, 123, "brand-new-blob-hash")
    assert row.version_idx == prior.version_idx + 1
    assert row.is_latest and not row.deduplicated
    # same CONTENT at a fresh key -> version v0, deduplicated
    dup = engine.put_object("data/fresh/key.txt", 123, prior.blob_hash)
    assert dup.version_idx == 0 and dup.deduplicated


def test_get_head_object_routes(engine, collect_calls):
    obj = _some_object(engine)
    got = engine.get_object(obj.key)
    assert (got.status, got.etag, got.content_length) == (
        200,
        obj.etag,
        obj.size,
    )
    # explicit version
    v0 = engine.get_object(obj.key, version_id="v0")
    assert v0.status == 200 and v0.resolved_version_id == "v0"
    # conditionals
    assert engine.get_object(obj.key, if_match="wrong").status == 412
    assert engine.get_object(obj.key, if_none_match=obj.etag).status == 304
    # ranges
    rng = engine.get_object(obj.key, range_start=0, range_end=9)
    assert rng.status == 206 and rng.content_length == 10
    assert rng.content_range == f"bytes 0-9/{obj.size}"
    sfx = engine.get_object(obj.key, range_suffix=4)
    assert sfx.status == 206 and sfx.content_length == min(4, obj.size)
    # missing key -> 404
    assert engine.get_object("data/not/there.txt").status == 404
    # HEAD: same resolution, no content_range key, one Spark action
    collect_calls.clear()
    head = engine.head_object(obj.key)
    assert len(collect_calls) == 1
    assert head["status"] == 200 and head["etag"] == obj.etag
    assert head["content_length"] == obj.size and not head["referenced"]
    assert "content_range" not in head
    with pytest.raises(ValueError):
        engine.get_object(obj.key, range_start=0)  # StartEnd needs end
    with pytest.raises(ValueError):
        engine.get_object(obj.key, range_start=0, range_end=1, range_suffix=2)


def test_complete_multipart_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    # the registered demo's part manifest fed through the route equals
    # the registered relation (same fold)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = docs.select(
        F.concat(F.lit("up-"), (F.col("doc_id") % 25).cast("string")).alias(
            "upload_id"
        ),
        ((F.col("doc_id") / 25).cast("long") + 1).alias("part_number"),
        F.col("n_chars").alias("part_size"),
        F.md5(F.col("text")).alias("part_etag"),
    )
    got = engine.complete_multipart(parts).collect()
    want = REGISTRY["s3_multipart_complete"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a gapped manifest fails contiguity
    gapped = spark.createDataFrame(
        [("up-x", 1, 10, "aa"), ("up-x", 3, 10, "bb")],
        "upload_id string, part_number long, part_size long, part_etag string",
    )
    row = engine.complete_multipart(gapped).collect()[0]
    assert not row.is_contiguous


def test_multipart_lifecycle_routes(engine):
    # an upload exists and is listable
    ups = engine.list_multipart_uploads(prefix="data/", max_uploads=5).collect()
    assert len(ups) == 5
    uid = ups[0].upload_id
    # ListParts pages with the reference's truncation envelope
    page = engine.list_parts(uid, max_parts=2)
    assert len(page["parts"]) == 2
    if page["is_truncated"]:
        assert page["next_part_number_marker"] == page["parts"][-1].part_number
        nxt = engine.list_parts(
            uid, part_number_marker=page["next_part_number_marker"], max_parts=100
        )
        assert all(
            p.part_number > page["next_part_number_marker"]
            for p in nxt["parts"]
        )
    # re-uploading an existing part number replaces it
    p1 = page["parts"][0]
    redo = engine.upload_part(uid, p1.part_number, 999)
    assert redo["replaced"] and redo["part_etag"] != p1.part_etag
    # a fresh part number does not replace
    fresh = engine.upload_part(uid, 9999, 10)
    assert not fresh["replaced"] and fresh["status"] == 200
    # unknown upload: validated FIRST -> 404 NoSuchUpload envelope
    # (upload_part.rs:155), like abort/part-copy
    missing = engine.upload_part("mpu-nope", 1, 10)
    assert missing["status"] == 404 and missing["error"] == "NoSuchUpload"
    # max_parts=0: truncated-but-empty page still resumes — the next
    # marker falls back to the input marker or 0 (list_parts.rs:192-198)
    zero = engine.list_parts(uid, max_parts=0)
    assert zero["parts"] == [] and zero["is_truncated"]
    assert zero["next_part_number_marker"] == 0
    zero2 = engine.list_parts(uid, part_number_marker=1, max_parts=0)
    if zero2["is_truncated"]:
        assert zero2["next_part_number_marker"] == 1
    # create mints a new listable id past the current sequence
    rec = engine.create_multipart_upload("data/new/thing.bin")
    assert rec["upload_id"].startswith("mpu-")
    # abort: known id 204, unknown 404
    assert engine.abort_multipart_upload(uid).status == 204
    assert engine.abort_multipart_upload("mpu-nope").status == 404


def test_list_object_versions_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.list_object_versions(prefix="data/src3/", max_keys=50).collect()
    want = REGISTRY["listing_versions"][0](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_list_object_versions_keyset_walk(engine):
    """Paging the versions listing by (key_marker, version_id_marker)
    covers everything exactly once in order — the keyset discipline of
    list_object_versions.rs:60-61,88-89."""
    full = engine.list_object_versions(
        prefix="data/src3/", max_keys=10**6
    ).collect()
    walked, marker = [], None
    while True:
        page = engine.list_object_versions(
            prefix="data/src3/",
            key_marker=marker[0] if marker else None,
            version_idx_marker=marker[1] if marker else None,
            max_keys=7,
        ).collect()
        if not page:
            break
        walked.extend(page)
        last = page[-1]
        marker = (last.key, int(last.version_id[1:]))
    assert [tuple(r) for r in walked] == [tuple(r) for r in full]


def test_delete_object_routes(engine):
    obj = _some_object(engine)
    # unversioned delete -> NEW marker one past the current head
    res = engine.delete_object(obj.key)
    assert res.delete_marker and res.status == 204
    assert int(res.version_id[1:]) == obj.version_idx + 1
    # versioned delete of an existing version -> removed, not a marker
    res = engine.delete_object(obj.key, version_id="v0")
    assert res.status == 204 and not res.delete_marker
    # versioned delete of a missing version -> NoSuchVersion
    assert engine.delete_object(obj.key, version_id="v99").status == 404
    # unversioned delete of an already-deleted key STACKS a marker
    dead = _some_deleted_key(engine)
    res = engine.delete_object(dead.key)
    assert res.delete_marker and int(res.version_id[1:]) == dead.version_idx + 1
    # versioned delete OF the marker itself reports delete_marker=true
    res = engine.delete_object(dead.key, version_id=dead.version_id)
    assert res.status == 204 and res.delete_marker


def test_get_object_attributes_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.s3_suite import COMPOSITE_MOD, COMPOSITE_RESIDUE

    load_all()
    batch = REGISTRY["s3_object_attributes"][0](spark, sf_dir).collect()
    comp = next(r for r in batch if r.n_parts is not None)
    got = engine.get_object_attributes(comp.key, include_parts=True)
    a = got["attributes"]
    assert (a.status, a.etag, a.checksum_sha256, a.n_parts) == (
        200,
        comp.etag,
        comp.checksum_sha256,
        comp.n_parts,
    )
    assert a.checksum_type == "COMPOSITE"
    # the exploded part list reassembles exactly the object bytes,
    # sorted by part_number (get_object_attributes.rs:357)
    parts = got["parts"]
    assert len(parts) == a.n_parts
    assert [p[0] for p in parts] == list(range(1, a.n_parts + 1))
    assert sum(p[1] for p in parts) == a.object_size
    assert {p[1] for p in parts} <= {a.min_part_size, a.max_part_size}
    # a non-composite object is FULL_OBJECT with no parts even when asked
    plain = next(
        r
        for r in batch
        if r.status == 200 and r.checksum_type == "FULL_OBJECT"
    )
    got2 = engine.get_object_attributes(plain.key, include_parts=True)
    assert got2["attributes"].n_parts is None and got2["parts"] == []
    # marker head -> 404
    dead = _some_deleted_key(engine)
    assert engine.get_object_attributes(dead.key)["attributes"].status == 404


def test_upload_part_copy_route(engine):
    obj = _some_object(engine)
    ups = engine.list_multipart_uploads(prefix="data/", max_uploads=1).collect()
    uid = ups[0].upload_id
    # full copy into a fresh part number
    res = engine.upload_part_copy(uid, 77, obj.key)
    assert res.status == 200 and not res.replaced
    assert res.part_size == obj.size and res.source_version_id == obj.version_id
    # range copy replacing an existing part
    res2 = engine.upload_part_copy(
        uid, 1, obj.key, range_start=0, range_end=4
    )
    assert res2.status == 200 and res2.replaced and res2.part_size == 5
    # copy-source conditions are 412, including the if-none-match remap
    assert (
        engine.upload_part_copy(uid, 2, obj.key, if_match="wrong").status
        == 412
    )
    assert (
        engine.upload_part_copy(
            uid, 2, obj.key, if_none_match=obj.etag
        ).status
        == 412
    )
    # unknown upload -> 404 NoSuchUpload; marker source -> 404
    assert engine.upload_part_copy("mpu-nope", 1, obj.key).status == 404
    dead = _some_deleted_key(engine)
    assert engine.upload_part_copy(uid, 3, dead.key).status == 404


def test_copy_object_route(engine):
    obj = _some_object(engine)
    # plain copy: dest version minted, source etag travels, dedup'd
    res = engine.copy_object(obj.key, "data/copies/api-test.txt")
    assert res.status == 200 and res.etag == obj.etag and res.deduplicated
    assert res.copy_source_version_id == obj.version_id
    assert res.dest_version_id == "v0"  # fresh destination key
    # copy onto an EXISTING key mints past its head
    res2 = engine.copy_object(obj.key, obj.key)
    assert res2.status == 200
    assert res2.dest_version_id == f"v{obj.version_idx + 1}"
    # explicit source version
    v0 = engine.copy_object(
        obj.key, "data/copies/api-v0.txt", source_version_id="v0"
    )
    assert v0.status == 200 and v0.copy_source_version_id == "v0"
    # copy-source conditions fail as 412
    assert (
        engine.copy_object(obj.key, "d.txt", if_match="wrong").status == 412
    )
    assert (
        engine.copy_object(obj.key, "d.txt", if_none_match=obj.etag).status
        == 412
    )
    # marker head is 404; missing source is 404
    dead = _some_deleted_key(engine)
    assert engine.copy_object(dead.key, "d.txt").status == 404
    assert engine.copy_object("data/not/there.txt", "d.txt").status == 404


def test_deleted_head_hidden_from_get_and_listing(engine):
    dead = _some_deleted_key(engine)
    # GET on a marker head is NoSuchKey, with the marker surfaced
    got = engine.get_object(dead.key)
    assert got.status == 404 and got.delete_marker
    # an EXPLICIT version request naming the marker is 405
    assert engine.get_object(dead.key, version_id=dead.version_id).status == 405
    # ListObjectsV2 hides the key; ListObjectVersions shows the marker
    prefix = dead.key.rsplit("/", 1)[0] + "/"
    listed = engine.list_objects(prefix=prefix, max_keys=10**6).collect()
    assert dead.key not in {r.entry for r in listed}
    vers = engine.list_object_versions(prefix=dead.key, max_keys=10).collect()
    assert any(r.is_delete_marker and r.is_latest for r in vers)


# ------------------------------------------------------ streaming routes
def test_watch_routes_match_registered_queries(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.watch_summary().collect()
    want = REGISTRY["stream_watch_matches"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    got = engine.unread().collect()
    want = REGISTRY["stream_unread_counts"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_watch_subscribe_matches_glob_and_mask(engine):
    m = engine.watch("users/*/click", ["click"], watch_id="w_t")
    rows = m.select("watch_id", "event_type", "path").collect()
    assert rows and all(r.watch_id == "w_t" for r in rows)
    assert {r.event_type for r in rows} == {"click"}
    # the kind mask prunes even when the glob matches
    none = engine.watch("users/*/click", ["view"], watch_id="w_t2")
    assert none.count() == 0


# -------------------------------------------------- remaining route glue
def test_staging_list_route_matches_registered_demo(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.staging_list("data/src1", offset=0, limit=15).collect()
    want = REGISTRY["staging_list_level"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_quota_check_route(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.usage import INCOMING_BYTES

    load_all()
    got = engine.quota_check(INCOMING_BYTES).collect()
    want = REGISTRY["usage_quota_gate"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a zero-byte write against an absurd ceiling is always allowed;
    # an over-ceiling write is always denied
    assert all(r.allowed for r in engine.quota_check(0, quota_bytes=2**62).collect())
    assert not any(r.allowed for r in engine.quota_check(2**61, quota_bytes=1).collect())


def test_import_archive_route_matches_registered_demo(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    # drive the route with the same crate batch the demo derives
    from aruna_spark.ingest.doc_triples import load_triples
    from aruna_spark.ingest.jsonld import GRAPH_NS, export_rocrate

    graphs = [f"{GRAPH_NS}{i}" for i in range(20)]
    crates = export_rocrate(
        load_triples(spark, sf_dir).filter(F.col("graph_iri").isin(graphs))
    )
    old_id = F.regexp_extract("graph_iri", r"/([0-9]+)$", 1)
    got = engine.import_archive(
        crates.select(
            F.concat(F.lit("imp"), old_id).alias("document_id"),
            "jsonld",
            F.concat(
                F.lit('{"urn:aruna:doc:'),
                old_id,
                F.lit('":"urn:aruna:doc:imp'),
                old_id,
                F.lit('"}'),
            ).alias("targets_json"),
        )
    ).collect()
    want = REGISTRY["archive_import_rewrite"][0](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_dashboard_epochs_route_matches_registered_demo(engine, spark, sf_dir):
    from aruna_spark.queries import REGISTRY, load_all

    load_all()
    got = engine.dashboard_epochs().collect()
    want = REGISTRY["stream_dashboard_epoch"][0](spark, sf_dir).collect()
    # the registered query projects the same columns from the same scan
    assert sorted(
        (r.window_start_us, r.n_events, r.n_relevant, r.epoch) for r in got
    ) == sorted(
        (r.window_start_us, r.n_events, r.n_relevant, r.epoch) for r in want
    )


def test_prune_inbox_route(engine):
    from aruna_spark.streaming.watch import inbox_records

    cap = 5
    verdicts = engine.prune_inbox(
        direct_ttl_ms=20 * 86_400_000,
        transient_ttl_ms=10 * 86_400_000,
        per_user_cap=cap,
    )
    rows = verdicts.collect()
    assert any(r.expired for r in rows) and any(r.capped for r in rows)
    # read records expire like unread (prune.rs read_records_expire_like_unread)
    assert any(r.expired and r.read for r in rows)
    survivors = [r for r in rows if not r.pruned]
    # cap honored: ≤cap surviving transients per recipient, and they are
    # the NEWEST unexpired ones (inverted-timestamp walk order)
    by_user: dict[int, list] = {}
    for r in survivors:
        if r["class"] == "transient":
            by_user.setdefault(r.recipient, []).append(r)
    assert by_user and all(len(v) <= cap for v in by_user.values())
    for r in rows:
        if r.capped:
            kept = by_user.get(r.recipient, [])
            assert all(
                (k.created_at_ms, -k.notification_id)
                > (r.created_at_ms, -r.notification_id)
                for k in kept
            )
    # defaults are the reference constants: 90 d / 30 d TTLs dwarf the
    # 30-day corpus and cap 500 never fires -> nothing pruned
    assert engine.prune_inbox().filter(F.col("pruned")).count() == 0


def test_list_notifications_route(engine):
    page = engine.list_notifications(7, limit=10)
    assert len(page["records"]) == 10 and page["next_cursor"] is not None
    # newest-first walk order, recipient-scoped
    keys = [(r.created_at_ms, -r.notification_id) for r in page["records"]]
    assert keys == sorted(keys, reverse=True)
    assert all(r.recipient == 7 for r in page["records"])
    # cursor resume: disjoint continuation strictly past the cursor
    page2 = engine.list_notifications(7, cursor=page["next_cursor"], limit=10)
    got1 = {r.notification_id for r in page["records"]}
    got2 = {r.notification_id for r in page2["records"]}
    assert got1.isdisjoint(got2) and len(got2) == 10
    c_ms, c_id = page["next_cursor"]
    assert all(
        (r.created_at_ms, -r.notification_id) < (c_ms, -c_id)
        for r in page2["records"]
    )
    # limit clamps to 1..200
    assert len(engine.list_notifications(7, limit=0)["records"]) == 1


def test_mark_read_route(engine):
    page = engine.list_notifications(7, limit=50)["records"]
    unread = [r.notification_id for r in page if not r.read]
    read = [r.notification_id for r in page if r.read]
    assert unread and read
    # already-read ids never re-mark (mark_read.rs:175-178)
    got = engine.mark_read(7, ids=unread[:5] + read[:3])
    assert got["marked"] == 5
    # duplicate ids dedup before the cap check (mark_read.rs:76-78)
    assert engine.mark_read(7, ids=unread[:1] * 600)["marked"] == 1
    # horizon form marks everything created at or before up_to_ms
    hi = max(r.created_at_ms for r in page)
    n_unread = sum(1 for r in page if not r.read)
    full = engine.list_notifications(7, limit=200)["records"]
    want = sum(1 for r in full if not r.read and r.created_at_ms <= hi)
    assert engine.mark_read(7, up_to_ms=hi)["marked"] == want >= n_unread
    # empty request is a no-op; oversized id set errors
    assert engine.mark_read(7) == {"marked": 0}
    with pytest.raises(ValueError):
        engine.mark_read(7, ids=list(range(513)))


def test_scoped_facade_fts_scores_are_scope_derived(spark, sf_dir):
    """ADVICE r5: a scoped engine must NOT inject the corpus-global BM25
    resolver — its IDF/doc-length stats would observably reflect
    invisible documents. The scoped facade's fts: scores must equal a
    scoped SparqlEngine with the default DERIVED resolver (scores from
    the visible slice only)."""
    from aruna_spark.api import Engine
    from aruna_spark.sparql.engine import SparqlEngine
    from aruna_spark.store import triples_store

    wide = Engine(spark, sf_dir)
    graphs = sorted({r.graph_iri for r in wide.search(QUERY, page_size=100).hits})
    allowed = spark.createDataFrame(
        [(g,) for g in graphs[: len(graphs) // 2]], "graph_iri string"
    )
    q = """
    SELECT ?s ?score WHERE {
      ?s fts:match "doc" ; fts:score ?score .
    } ORDER BY DESC(?score) ?s LIMIT 20
    """
    got = Engine(spark, sf_dir, visible_graphs=allowed).sparql(q)
    want = SparqlEngine(
        spark, triples_store(spark, sf_dir), visible_graphs=allowed
    ).execute(q)
    assert got == want and got


# ------------------------------------------------- r9 route families
def test_bucket_cors_routes(engine):
    ok = engine.put_bucket_cors(
        "corpus",
        [{"allowed_origins": ["https://a.test"], "allowed_methods": ["get"]}],
    )
    assert ok["status"] == 200
    assert ok["rules"][0]["allowed_methods"] == ["GET"]
    assert engine.put_bucket_cors("no-such-bucket", [])["status"] == 404
    bad = engine.put_bucket_cors("corpus", [])
    assert bad["status"] == 400 and bad["error"] == "MalformedXML"
    bad = engine.put_bucket_cors(
        "corpus",
        [{"allowed_origins": ["https://a.test"], "allowed_methods": ["PATCH"]}],
    )
    assert bad["status"] == 400 and "PATCH" in bad["message"]
    assert engine.get_bucket_cors("b0")["status"] == 200
    assert engine.get_bucket_cors("corpus")["status"] == 404


def test_cors_preflight_route(engine):
    hit = engine.cors_preflight("b0", "https://evil.test", "GET")
    assert hit["status"] == 204 and hit["allow_origin"] == "*"
    assert hit["rule_id"] == "b0-any-read"
    # headers push past rule0 (empty allowed list) onto rule1
    hit = engine.cors_preflight(
        "b0", "https://app.example.org", "GET", "Content-Type"
    )
    assert hit["status"] == 204 and hit["rule_id"] == "b0-app-write"
    assert hit["allow_origin"] == "https://app.example.org"
    assert hit["allow_headers"] == ["content-type"]
    assert engine.cors_preflight("b0", "https://evil.test", "DELETE") == {
        "status": 403
    }
    assert engine.cors_preflight("b3", "https://evil.test", "GET") == {
        "status": 403
    }


def test_put_bucket_replication_route(engine):
    ok = engine.put_bucket_replication(
        "bkt0",
        [
            {"destination_arn": "arn:aruna:realmA:node2:s3/corpus",
             "delete_markers_enabled": True},
            {"status": "Disabled", "destination_arn": "nonsense"},
        ],
    )
    assert ok["status"] == 200
    assert ok["targets"] == [
        {"node_id": "node2", "bucket": "corpus",
         "replicate_delete_markers": True}
    ]
    bad = engine.put_bucket_replication(
        "bkt0", [{"destination_arn": "arn:aruna:realmB:node2:s3/corpus"}]
    )
    assert bad["status"] == 400 and bad["reason"] == "foreign_realm"
    ws = engine.put_bucket_replication(
        "ws-scratch", [{"destination_arn": "arn:aruna:realmA:node2:s3/c"}]
    )
    assert ws["status"] == 400 and ws["reason"] == "ws_source"
    # zero resolved targets rejects the whole config
    # (s3_service.rs:366-371) — both the empty rule list and the
    # all-disabled case
    empty = engine.put_bucket_replication("bkt0", [])
    assert empty["status"] == 400
    assert empty["reason"] == "no_enabled_target"
    disabled = engine.put_bucket_replication(
        "bkt0",
        [{"status": "Disabled",
          "destination_arn": "arn:aruna:realmA:node2:s3/corpus"}],
    )
    assert disabled["status"] == 400
    assert disabled["reason"] == "no_enabled_target"
    # the reference parses the type segment before requiring a path:
    # an unsupported type first-fails bad_type (replication.rs:129-137)
    typeless = engine.put_bucket_replication(
        "bkt0", [{"destination_arn": "arn:aruna:realmA:node1:foo"}]
    )
    assert typeless["status"] == 400 and typeless["reason"] == "bad_type"


def test_user_access_routes(engine):
    made = engine.create_user_access("NEWKEY1", "user-3", "grp-1")
    assert made["status"] == 201 and len(made["secret"]) == 30
    assert made["expiry_ms"] > 500_000
    assert engine.create_user_access("", "u", "g")["status"] == 400
    assert engine.create_user_access("has space", "u", "g")["status"] == 400
    assert engine.create_user_access("x" * 129, "u", "g")["status"] == 400

    rows = engine.list_user_access("user-7").collect()
    assert rows and [r.access_key for r in rows] == sorted(
        r.access_key for r in rows
    )

    missing = engine.revoke_user_access("NOPE")
    assert missing["status"] == 404
    fresh = engine.revoke_user_access(rows[0].access_key)
    assert fresh["status"] == 200
    # idempotency: an already-revoked credential echoes its original stamp
    from aruna_spark.queries.user_access import load_user_access

    revoked = (
        load_user_access(engine.spark, engine.sf_dir)
        .filter("revoked_at_ms IS NOT NULL")
        .first()
    )
    again = engine.revoke_user_access(revoked.access_key)
    assert again["already_revoked"]
    assert again["revoked_at_ms"] == revoked.revoked_at_ms


def test_get_user_access_redacts_secret(engine):
    """GetUserAccess is a keyed read whose response is the REDACTED
    summary (credentials.rs:371-394): the secret echoes exactly once,
    in the create response, and never from a fetch."""
    assert engine.get_user_access("NOPE")["status"] == 404
    rows = engine.list_user_access("user-7").collect()
    got = engine.get_user_access(rows[0].access_key)
    assert got["status"] == 200
    assert got["access_key"] == rows[0].access_key
    assert got["group_id"] == rows[0].group_id
    assert "secret" not in got
    assert got["credential_status"] in ("active", "expired", "revoked")
    # a revoked credential fetches with its stamp and status
    from aruna_spark.queries.user_access import load_user_access

    revoked = (
        load_user_access(engine.spark, engine.sf_dir)
        .filter("revoked_at_ms IS NOT NULL")
        .first()
    )
    got = engine.get_user_access(revoked.access_key)
    assert got["credential_status"] == "revoked"
    assert got["revoked_at_ms"] == revoked.revoked_at_ms
    assert "secret" not in got


def test_bucket_routing_config_routes(engine):
    """Put/GetBucketRouting (bucket_routing.rs:49-170, 262-300):
    reject envelopes name the first failing rule; stored configs echo
    rules + advisory warnings."""
    assert engine.put_bucket_routing("nope", [])["status"] == 404
    assert engine.get_bucket_routing("nope")["status"] == 404
    assert engine.get_bucket_routing("corpus") == {
        "status": 200, "bucket": "corpus", "rules": [], "warnings": [],
    }
    ok = engine.put_bucket_routing(
        "corpus",
        [
            {"key_prefix": "data/", "target_kind": "class",
             "target": "std"},
            {"key_prefix": "cold/", "target_kind": "class",
             "target": "glacier"},
            {"key_prefix": "x/y.bin", "exact": True,
             "target_kind": "group_backend",
             "target": "gb-grp-main-0"},
        ],
    )
    assert ok["status"] == 200 and len(ok["rules"]) == 3
    # 'glacier' is a valid class name but not offered — advisory only
    assert ok["warnings"] == ["class_not_offered"]
    # duplicate (exact, prefix) rejects the whole config at rule 1
    dup = engine.put_bucket_routing(
        "corpus",
        [
            {"key_prefix": "data/", "target_kind": "class",
             "target": "std"},
            {"key_prefix": "data/", "target_kind": "class",
             "target": "hot"},
        ],
    )
    assert dup["status"] == 400 and dup["reason"] == "duplicate_rule"
    assert dup["rule_index"] == 1
    # the same prefix exact vs non-exact is NOT a duplicate
    both = engine.put_bucket_routing(
        "corpus",
        [
            {"key_prefix": "data/", "target_kind": "class",
             "target": "std"},
            {"key_prefix": "data/", "exact": True,
             "target_kind": "class", "target": "hot"},
        ],
    )
    assert both["status"] == 200
    # invalid class name, node-backend target, foreign backend
    bad = engine.put_bucket_routing(
        "corpus",
        [{"key_prefix": "a/", "target_kind": "class", "target": "BAD"}],
    )
    assert bad["status"] == 400 and bad["reason"] == "invalid_class"
    nb = engine.put_bucket_routing(
        "corpus",
        [{"key_prefix": "a/", "target_kind": "node_backend",
          "target": "nb-1"}],
    )
    assert nb["status"] == 400
    assert nb["reason"] == "operator_backend_target"
    foreign = engine.put_bucket_routing(
        "corpus",
        [{"key_prefix": "a/", "target_kind": "group_backend",
          "target": "gb-grp-other-0"}],
    )
    assert foreign["status"] == 400
    assert foreign["reason"] == "foreign_backend"
    # pass-1 errors shadow pass-2 errors even on later rules
    mixed = engine.put_bucket_routing(
        "corpus",
        [
            {"key_prefix": "a/", "target_kind": "node_backend",
             "target": "nb-1"},
            {"key_prefix": "b/", "target_kind": "class",
             "target": "BAD"},
        ],
    )
    assert mixed["status"] == 400 and mixed["reason"] == "invalid_class"
    assert mixed["rule_index"] == 1


def test_group_routing_routes(engine):
    """Put/GetGroupRouting (group_routing.rs:183-300, 324-326):
    validate_tenant_target gates the put, clearing is a write, an
    absent record is no default — not an error."""
    from aruna_spark.queries.routing import load_group_backend_index

    # group 2 (n % 3 == 2): absent record — no default, not an error
    assert engine.get_group_routing(2) == {
        "status": 200,
        "group_id": 2,
        "present": False,
        "default_target": None,
    }
    # group 0: stored class default
    got = engine.get_group_routing(0)
    assert got["present"]
    assert got["default_target"] == {"kind": "class", "target": "std"}
    # group 6 (% 4 == 2): CLEARED record — present, target None
    cleared = engine.get_group_routing(6)
    assert cleared["present"] and cleared["default_target"] is None

    # put: a valid class stores; clearing stores
    ok = engine.put_group_routing(3, {"kind": "class", "target": "cold"})
    assert ok["status"] == 200
    assert ok["default_target"]["target"] == "cold"
    assert engine.put_group_routing(3, None)["status"] == 200
    # a node-backend target always rejects (never bind node topology)
    nb = engine.put_group_routing(
        3, {"kind": "node_backend", "target": "nb-1"}
    )
    assert nb == {
        "status": 400,
        "error": "InvalidTarget",
        "reason": "operator_backend_target",
    }
    # class names re-validate [a-z0-9-]{1,32}
    bad = engine.put_group_routing(
        3, {"kind": "class", "target": "BAD_CLASS"}
    )
    assert bad["status"] == 400 and bad["reason"] == "invalid_class"

    # group backends: the group's own enabled backend stores; the same
    # id from another group is ForeignBackend; a disabled backend is
    # never collected by the scan, so it too is foreign
    idx = load_group_backend_index(engine.spark, engine.sf_dir)
    row = (
        idx.filter(
            ~F.col("disabled")
            & (F.col("record_group_id") == F.col("group_id"))
        )
        .orderBy("backend_id")
        .first()
    )
    mine = engine.put_group_routing(
        row.group_id,
        {"kind": "group_backend", "target": f"bk-{row.backend_id}"},
    )
    assert mine["status"] == 200
    foreign = engine.put_group_routing(
        (row.group_id + 1) % 25,
        {"kind": "group_backend", "target": f"bk-{row.backend_id}"},
    )
    assert foreign["status"] == 400
    assert foreign["reason"] == "foreign_backend"
    drow = idx.filter(F.col("disabled")).orderBy("backend_id").first()
    dis = engine.put_group_routing(
        drow.group_id,
        {"kind": "group_backend", "target": f"bk-{drow.backend_id}"},
    )
    assert dis["status"] == 400 and dis["reason"] == "foreign_backend"


def test_connector_crud_routes(engine):
    """get/replace/delete source connector (get/replace/
    delete_source_connector.rs): group-scoped reads, secrets never
    echo, validation precedes the read, the reference-version guard
    fires only on secret CHANGE (replace) and always (delete)."""
    # get: group-scoped — another group's connector is NotFound
    got = engine.get_source_connector("grp-main", "conn-0")
    assert got["status"] == 200 and got["has_secret_config"]
    assert "secret_config" not in got
    assert "stored-secret" not in repr(got)
    assert engine.get_source_connector("grp-main", "conn-3") == {
        "status": 404, "error": "NotFound",
    }
    assert (
        engine.get_source_connector("grp-other", "conn-3")["status"]
        == 200
    )
    assert (
        engine.get_source_connector("grp-main", "nope")["status"] == 404
    )
    listed = engine.list_source_connectors("grp-main")
    assert {c["connector_id"] for c in listed["connectors"]} == {
        "conn-0", "conn-1", "conn-2", "conn-4",
    }
    assert "stored-secret" not in repr(listed)

    # replace: validation runs BEFORE the read (rs:130-137) — an
    # invalid input on an unknown id is 400, not 404
    bad = engine.replace_source_connector(
        "grp-main", "nope", "x", "s3", {"bucket": "b"}, {}
    )
    assert bad["status"] == 400
    assert (
        engine.replace_source_connector(
            "grp-main", "nope", "x", "http",
            {"endpoint": "https://ok.example.com"}, {},
        )["status"]
        == 404
    )
    # conn-0 is referenced (doc fixture binds reference-strategy
    # versions to conn-0..3): same secret -> no scan, stores; changed
    # secret -> 409
    same = engine.replace_source_connector(
        "grp-main", "conn-0", "refdata-renamed", "s3",
        {"endpoint": "https://s3.example.com", "bucket": "reads2"},
        {"access_key_id": "AK0", "secret_access_key": "stored-secret-0"},
    )
    assert same["status"] == 200
    assert same["name"] == "refdata-renamed"
    assert same["public_config"]["bucket"] == "reads2"
    assert "stored-secret" not in repr(same)
    rotated = engine.replace_source_connector(
        "grp-main", "conn-0", "refdata-s3", "s3",
        {"endpoint": "https://s3.example.com", "bucket": "reads"},
        {"access_key_id": "AK9", "secret_access_key": "rotated"},
    )
    assert rotated == {
        "status": 409, "error": "ReferencedByObjectVersion",
    }
    # adding a secret where none was stored is also a CHANGE
    add = engine.replace_source_connector(
        "grp-main", "conn-1", "mirror-http", "http",
        {"endpoint": "https://data.example.com"},
        {"token": "t0"},
    )
    assert add["status"] == 409
    # conn-4 is unbound: secret changes store; empty secret deletes
    # the secret record (has_secret_config false)
    put = engine.replace_source_connector(
        "grp-main", "conn-4", "scratch-http", "http",
        {"endpoint": "https://scratch.example.com"},
        {"token": "t1"},
    )
    assert put["status"] == 200 and put["has_secret_config"]
    drop = engine.replace_source_connector(
        "grp-main", "conn-4", "scratch-http", "http",
        {"endpoint": "https://scratch.example.com"}, {},
    )
    assert drop["status"] == 200 and not drop["has_secret_config"]

    # delete: referenced connectors 409; the unbound one deletes with
    # its secret in the same transaction
    assert engine.delete_source_connector("grp-main", "conn-0") == {
        "status": 409, "error": "ReferencedByObjectVersion",
    }
    gone = engine.delete_source_connector("grp-main", "conn-4")
    assert gone["status"] == 204 and gone["deleted_secret"] is False
    assert (
        engine.delete_source_connector("grp-main", "nope")["status"]
        == 404
    )


def test_delete_document_route(engine):
    # doc 0 ≡ 0 mod 3 → live → deletable
    out = engine.delete_document(0)
    assert out["status"] == 204
    assert out["prune_job"]["graph_iri"].endswith("/0")
    # doc 1 ≡ 1 mod 3 → already tombstoned → registry row gone → 404
    assert engine.delete_document(1)["status"] == 404
    assert engine.delete_document(10**9)["status"] == 404


def test_observability_routes(engine):
    lag = {r.queue: r for r in engine.queue_lag().collect()}
    assert set(lag) == {
        # the reference's five keyspaces (queue_lag.rs:12-16) ...
        "document_sync_outbox",
        "metadata_materialization",
        "metadata_materialization_dead_letters",
        "blob_replication",
        "reference_metadata_refresh",
        # ... plus the repo-modeled extras, clearly labeled
        "repo:job_schedule",
        "repo:metadata_graph_prune",
        "repo:sync_mirror_repair",
    }
    assert 0 < lag["metadata_materialization"].due
    assert lag["metadata_materialization"].due <= lag["metadata_materialization"].depth
    for q in ("reference_metadata_refresh", "repo:sync_mirror_repair"):
        assert lag[q].depth > 0
        assert not lag[q].depth_capped
    heads = engine.location_summary().collect()
    assert heads and all(r.n_expected >= 1 for r in heads)


def test_sync_relationship_routes(engine):
    """get/update/run/delete over the sync catalog (sync.rs:460-662):
    detached stubs 404, creator enforced, reference-mode handling
    guard, no-op update stages nothing, failed reset on run,
    serving relationships detach instead of delete."""
    from aruna_spark.queries.sync_suite import load_sync_relationships

    rels = load_sync_relationships(engine.spark, engine.sf_dir).collect()
    by_state = {}
    for r in rels:
        by_state.setdefault(r.state, r)
    live = by_state["enabled"]
    owner = live.created_by

    assert engine.get_sync(10**9, owner)["status"] == 404
    # detached stubs are invisible to the management API
    det = by_state["detached"]
    assert engine.get_sync(
        det.relationship_id, det.created_by
    )["status"] == 404
    # creator enforcement
    assert engine.get_sync(
        live.relationship_id, "user-nobody"
    )["status"] == 403
    got = engine.get_sync(live.relationship_id, owner)
    assert got["status"] == 200 and got["state"] == "enabled"
    assert got["pending_jobs"] in (0, 1)

    # reference mode requires preserve
    ref = next(r for r in rels
               if r.mode == "reference" and r.state != "detached")
    bad = engine.update_sync(
        ref.relationship_id, ref.created_by, "materialize"
    )
    assert bad["status"] == 400
    assert bad["reason"] == "reference_mode_requires_preserve"
    # no-op: unchanged handling stages nothing
    noop = engine.update_sync(
        live.relationship_id, owner, live.reference_handling
    )
    assert noop["status"] == 200 and not noop["changed"]
    assert "staged" not in noop
    # a real change to preserve turns serving ON and stages reconcile
    target = "preserve" if live.reference_handling != "preserve" \
        else "skip"
    upd = engine.update_sync(live.relationship_id, owner, target)
    assert upd["status"] == 200 and upd["changed"]
    assert upd["staged"] == "reconcile"
    if target == "preserve":
        assert upd["reference_serving"]
    else:
        # serving never turns OFF (set_reference_handling ORs)
        assert upd["reference_serving"] == live.reference_serving

    # run resets a failed relationship
    failed = by_state["failed"]
    ran = engine.run_sync(failed.relationship_id, failed.created_by)
    assert ran["status"] == 202 and ran["queued"]
    assert ran["reset_from_failed"] and ran["state"] == "enabled"
    assert ran["failure_reason"] is None
    ran = engine.run_sync(live.relationship_id, owner)
    assert ran["status"] == 202 and not ran["reset_from_failed"]

    # delete: serving relationships leave a detached stub
    serving = next(r for r in rels
                   if r.reference_serving and r.state != "detached")
    out = engine.delete_sync(serving.relationship_id, serving.created_by)
    assert out["status"] == 204 and out["detached_stub"]
    plain = next(r for r in rels
                 if not r.reference_serving and r.state == "enabled")
    out = engine.delete_sync(plain.relationship_id, plain.created_by)
    assert out["status"] == 204 and not out["detached_stub"]


def test_group_backend_lifecycle_routes(engine):
    """list/get/delete(=disable)/enable/reclaim-status
    (group_backends.rs:257-480): ownership filters to NotFound,
    secrets never appear in any response, DELETE is an idempotent
    soft-disable, and the status route counts the real reclaim
    queues."""
    listed = engine.list_group_backends("grp-main")
    assert {b["backend_id"] for b in listed["backends"]} == {
        "bk-0", "bk-1", "bk-2", "bk-4",
    }
    for b in listed["backends"]:
        assert "secret_config" not in b and "public_config" in b
    # cross-group keyed read is NotFound, never Forbidden
    assert engine.get_group_backend("grp-main", "bk-3")["status"] == 404
    assert engine.get_group_backend("grp-other", "bk-3")["status"] == 200
    # delete = soft disable, idempotent
    out = engine.delete_group_backend("grp-main", "bk-0")
    assert out["status"] == 204 and out["changed"]
    out = engine.delete_group_backend("grp-main", "bk-2")
    assert out["status"] == 204 and not out["changed"]  # already off
    back = engine.enable_group_backend("grp-main", "bk-2")
    assert back["status"] == 200 and not back["disabled"]
    assert back["changed"]

    # reclaim status counts the actual candidate/cleanup queues
    # (freed verdicts only appear from sf0.01 up — the grace/pin
    # lanes cover everything at sf0.001 — so status runs there)
    from aruna_spark.api import Engine
    from aruna_spark.queries import REGISTRY, load_all
    from aruna_spark.queries.reclaim import _candidates

    load_all()
    big = Engine(engine.spark, "/root/testdata/sf0.01")
    st = big.backend_reclaim_status("grp-main", "bk-0")
    assert st["status"] == 200 and not st["truncated"]
    want_pending = (
        _candidates(big.spark, big.sf_dir)
        .filter("backend = 'backend-0'")
        .count()
    )
    assert st["pending_candidates"] == want_pending > 0
    swept = REGISTRY["blob_reclaim_sweep"][0](big.spark, big.sf_dir)
    want_cleanups = swept.filter(
        "backend = 'backend-0' AND verdict = 'freed'"
    ).count()
    assert st["queued_cleanups"] == want_cleanups > 0
    assert st["oldest_enqueued_at"] is not None
    # backend-2's strategy is retain -> nothing ever frees, but its
    # candidate queue still reports depth
    st2 = big.backend_reclaim_status("grp-main", "bk-2")
    assert st2["queued_cleanups"] == 0
    assert st2["pending_candidates"] > 0

    # the physical-removal sweep: only the drained disabled backend
    # goes; bk-2 is disabled but still holds catalog data
    sweep = big.remove_drained_backends()
    assert sweep["removed"] == ["bk-4"]
    assert "bk-2" in sweep["held"]


def test_onboarding_secret_routes(engine):
    now = 1_000_000
    created = engine.create_onboarding_secret("Server", 3600, now)
    assert created["status"] == 201
    eid, secret = created["enrollment_id"], created["secret"]
    # the plaintext secret echoes exactly once: never in the listing
    listing = engine.list_onboarding_secrets(now)
    row = next(
        s for s in listing["secrets"] if s["enrollment_id"] == eid
    )
    assert "secret" not in row and "secret_hash" not in row
    assert row["claimed_node_id"] is None

    # reserve ladder: wrong secret 403, then node-a reserves, node-b
    # rejects on the live reservation, then steals after it lapses
    assert (
        engine.reserve_onboarding_secret(eid, "wrong", "a", now, now + 20)[
            "status"
        ]
        == 403
    )
    ok = engine.reserve_onboarding_secret(eid, secret, "a", now, now + 20)
    assert ok["status"] == 200 and ok["written_state"] == "reserved"
    clash = engine.reserve_onboarding_secret(
        eid, secret, "b", now + 10, now + 40
    )
    assert clash["status"] == 409
    steal = engine.reserve_onboarding_secret(
        eid, secret, "b", now + 30, now + 60
    )
    assert steal["status"] == 200 and steal["claimed_node_id"] == "b"

    # consume: the holder consumes, re-consume is idempotent, another
    # node rejects
    done = engine.consume_onboarding_secret(eid, secret, "b", now + 40)
    assert done["status"] == 200 and done["consumed_now"] is True
    again = engine.consume_onboarding_secret(eid, secret, "b", now + 50)
    assert again["outcome"] == "idempotent" and not again["consumed_now"]
    assert (
        engine.consume_onboarding_secret(eid, secret, "a", now + 50)[
            "status"
        ]
        == 409
    )

    assert engine.revoke_onboarding_secret(eid)["status"] == 204
    assert engine.revoke_onboarding_secret(eid)["status"] == 404
    assert engine.create_onboarding_secret("Weird", 10, now)["status"] == 400


def test_onboarding_prune_keeps_expired_finalizing(engine):
    # api/routes/onboarding.rs:
    # list_prunes_expired_available_but_keeps_expired_finalizing
    now = 2_000_000
    avail = engine.create_onboarding_secret("Local", 1, now)
    fin = engine.create_onboarding_secret("Local", 1, now)
    engine.reserve_onboarding_secret(
        fin["enrollment_id"],
        fin["secret"],
        "n",
        now,
        now + 10_000,
        finalizing=True,
    )
    late = now + 100_000  # both secrets' TTLs lapsed
    ids = {
        s["enrollment_id"]
        for s in engine.list_onboarding_secrets(late)["secrets"]
    }
    assert fin["enrollment_id"] in ids  # mid-finalize survives
    assert avail["enrollment_id"] not in ids  # expired available pruned
    # the engagement override: the finalizing node still consumes the
    # EXPIRED secret and finishes its bootstrap
    done = engine.consume_onboarding_secret(
        fin["enrollment_id"], fin["secret"], "n", late
    )
    assert done["status"] == 200 and done["consumed_now"] is True


# ------------------------------------------------- RO-Crate import route
# api/src/routes/rocrate_import.rs: the staged-upload envelope and the
# submit validation ladder (source rs:282-324 / target rs:326-338 /
# metadata rs:340-353, fast checks rs:355-481, idempotency replay
# jobs/service.rs:246-276, active-job cap jobs/submit.rs:213-228).
NOW = 1_700_000_000_000
DAY_MS = 24 * 60 * 60 * 1000


@pytest.fixture()
def rc_engine(spark, sf_dir):
    # fresh engine per test: the route state (uploads/jobs/dedup) is
    # engine-local and the claim tests mutate it
    return Engine(spark, sf_dir)


def _upload(engine, body=b"PK\x03\x04crate", user="user-0"):
    return engine.upload_rocrate(
        body, "application/zip", now_ms=NOW, user_id=user
    )


def _plan(upload_id, path="imports/crate-a"):
    return (
        {"kind": "upload", "upload_id": upload_id},
        {"bucket": "corpus", "prefix": "staged/crates"},
        {"group_id": "grp-main", "path": path, "public": False},
    )


def test_rocrate_upload_envelope(rc_engine):
    import hashlib

    body = b"PK\x03\x04hello-crate"
    got = _upload(rc_engine, body)
    assert got["status"] == 201
    assert got["blake3"] == hashlib.sha256(body).hexdigest()
    assert got["size"] == len(body)
    # expires_at = now + upload_retention_ms (1 day), RFC 3339
    assert got["expires_at"].startswith("2023-11-15T22:13:20")
    assert got["owner_node_url"]
    # media-type parameters are stripped (rs:563-577)
    ok = rc_engine.upload_rocrate(
        body, "application/vnd.eln+zip; charset=utf-8", now_ms=NOW
    )
    assert ok["status"] == 201
    bad = rc_engine.upload_rocrate(body, "text/plain", now_ms=NOW)
    assert bad["status"] == 400 and "Content-Type" in bad["error"]


def test_rocrate_upload_cap_413(rc_engine):
    # Content-Length over the 8 GiB direct-upload cap rejects BEFORE
    # the body is read (rs:146-155)
    got = rc_engine.upload_rocrate(
        b"tiny",
        "application/zip",
        now_ms=NOW,
        content_length=8 * 1024**3 + 1,
    )
    assert got["status"] == 413 and "exceeds limit" in got["error"]


def test_rocrate_submit_upload_happy_path(rc_engine):
    up = _upload(rc_engine)
    got = rc_engine.submit_rocrate_import(
        *_plan(up["upload_id"]), now_ms=NOW
    )
    assert got["status"] == 202 and got["created"]
    assert got["status_url"].endswith(f"/jobs/{got['job_id']}")
    assert got["report_url"].endswith(f"/jobs/{got['job_id']}/report")
    # the create claims the upload; an unrelated resubmit conflicts
    again = rc_engine.submit_rocrate_import(
        *_plan(up["upload_id"], path="imports/crate-b"), now_ms=NOW
    )
    assert again["status"] == 409
    assert "already claimed" in again["error"]


def test_rocrate_submit_expiry_rejection(rc_engine):
    up = _upload(rc_engine)
    # strictly-after expiry; the boundary (expires_at <= now) rejects
    got = rc_engine.submit_rocrate_import(
        *_plan(up["upload_id"]), now_ms=NOW + DAY_MS
    )
    assert got == {"status": 400, "error": "upload expired"}


def test_rocrate_submit_owner_and_missing(rc_engine):
    up = _upload(rc_engine, user="user-1")
    assert (
        rc_engine.submit_rocrate_import(
            *_plan(up["upload_id"]), now_ms=NOW, user_id="user-2"
        )["status"]
        == 403
    )
    assert (
        rc_engine.submit_rocrate_import(
            *_plan("up-999999"), now_ms=NOW
        )["status"]
        == 404
    )


def test_rocrate_idempotency_replay_and_conflict(rc_engine):
    up = _upload(rc_engine)
    plan = _plan(up["upload_id"])
    first = rc_engine.submit_rocrate_import(
        *plan, now_ms=NOW, idempotency_key="k1"
    )
    assert first["created"]
    # same key + same plan digest -> replay, created False, SAME job —
    # even after expiry (the replay short-circuits the fast checks)
    replay = rc_engine.submit_rocrate_import(
        *plan, now_ms=NOW + 2 * DAY_MS, idempotency_key="k1"
    )
    assert not replay["created"]
    assert replay["job_id"] == first["job_id"]
    # same key + DIFFERENT plan -> 409 JobPlanConflict with the
    # existing job id (jobs/service.rs:267-271)
    conflict = rc_engine.submit_rocrate_import(
        *_plan(up["upload_id"], path="imports/other"),
        now_ms=NOW,
        idempotency_key="k1",
    )
    assert conflict["status"] == 409
    assert conflict["error"] == "JobPlanConflict"
    assert conflict["existing_job_id"] == first["job_id"]


def test_rocrate_reclaim_skips_expiry(rc_engine):
    # a dangling dedup row falls through to a fresh create
    # (jobs/submit.rs:116-118); the claimed upload then RECLAIMS under
    # the same dedup identity and skips the expiry check (rs:370-393)
    up = _upload(rc_engine)
    plan = _plan(up["upload_id"])
    first = rc_engine.submit_rocrate_import(
        *plan, now_ms=NOW, idempotency_key="k2"
    )
    del rc_engine._rocrate_dedup[("user-0", "k2")]
    got = rc_engine.submit_rocrate_import(
        *plan, now_ms=NOW + 2 * DAY_MS, idempotency_key="k2"
    )
    assert got["status"] == 202 and got["created"]
    assert got["job_id"] != first["job_id"]
    # without the shared identity the claim conflicts instead
    up2 = _upload(rc_engine)
    plan2 = _plan(up2["upload_id"])
    rc_engine.submit_rocrate_import(
        *plan2, now_ms=NOW, idempotency_key="k3"
    )
    del rc_engine._rocrate_dedup[("user-0", "k3")]
    got = rc_engine.submit_rocrate_import(*plan2, now_ms=NOW)
    assert got["status"] == 409 and "already claimed" in got["error"]


def test_rocrate_target_and_metadata_ladders(rc_engine):
    up = _upload(rc_engine)
    src = {"kind": "upload", "upload_id": up["upload_id"]}
    meta = {"group_id": "grp-main", "path": "imports/x", "public": True}

    def tgt(**kw):
        return {"bucket": "corpus", "prefix": "a/b", **kw}

    for bad in (
        tgt(bucket=""),
        tgt(prefix="a/../b"),
        tgt(prefix="a\\b"),
        tgt(prefix="a/\x07/b"),
        tgt(prefix="x" * 1025),
        tgt(prefix="a//b"),
    ):
        got = rc_engine.submit_rocrate_import(
            src, bad, meta, now_ms=NOW
        )
        assert got["status"] == 400, bad
    for bad_meta in (
        {"group_id": "grp-main", "path": "///"},
        {"group_id": "grp-main", "path": "x" * 1025},
        {"group_id": "", "path": "ok"},
    ):
        got = rc_engine.submit_rocrate_import(
            src, tgt(), bad_meta, now_ms=NOW
        )
        assert got["status"] == 400, bad_meta
    # the prefix is trimmed of '/' before validation (rs:327) and the
    # metadata path normalizes via trim + trim_matches('/') (rs:344)
    got = rc_engine.submit_rocrate_import(
        src,
        tgt(prefix="/staged/crates/"),
        {"group_id": "grp-main", "path": "  /imports/x/  "},
        now_ms=NOW,
    )
    assert got["status"] == 202
    spec = rc_engine._rocrate_jobs[got["job_id"]]["spec"]
    assert spec["target"]["prefix"] == "staged/crates"
    assert spec["metadata"]["path"] == "imports/x"


def test_rocrate_object_and_connector_sources(rc_engine):
    obj = _some_object(rc_engine)
    tgt = {"bucket": "corpus", "prefix": "staged"}
    meta = {"group_id": "grp-main", "path": "imports/obj"}
    ok = rc_engine.submit_rocrate_import(
        {"kind": "object", "bucket": "corpus", "key": obj.key},
        tgt,
        meta,
        now_ms=NOW,
    )
    assert ok["status"] == 202
    missing = rc_engine.submit_rocrate_import(
        {"kind": "object", "bucket": "corpus", "key": "no/such/key"},
        tgt,
        meta,
        now_ms=NOW,
    )
    assert missing["status"] == 404
    empty = rc_engine.submit_rocrate_import(
        {"kind": "object", "bucket": "corpus", "key": ""},
        tgt,
        meta,
        now_ms=NOW,
    )
    assert empty["status"] == 400
    conn_ok = rc_engine.submit_rocrate_import(
        {
            "kind": "connector",
            "group_id": "grp-main",
            "connector_id": "conn-0",
            "path": "refdata/crate.zip",
        },
        tgt,
        meta,
        now_ms=NOW,
    )
    assert conn_ok["status"] == 202
    for bad_path in ("../up", "a/./b", "", "/rooted"):
        got = rc_engine.submit_rocrate_import(
            {
                "kind": "connector",
                "group_id": "grp-main",
                "connector_id": "conn-0",
                "path": bad_path,
            },
            tgt,
            meta,
            now_ms=NOW,
        )
        assert got["status"] == 400, bad_path
    unknown = rc_engine.submit_rocrate_import(
        {
            "kind": "connector",
            "group_id": "grp-main",
            "connector_id": "conn-404",
            "path": "x/y",
        },
        tgt,
        meta,
        now_ms=NOW,
    )
    assert unknown["status"] == 404


def test_rocrate_active_job_cap(rc_engine):
    meta = {"group_id": "grp-main", "path": "imports/cap"}
    tgt = {"bucket": "corpus", "prefix": "staged"}
    for i in range(Engine.ROCRATE_MAX_ACTIVE_JOBS):
        up = _upload(rc_engine)
        got = rc_engine.submit_rocrate_import(
            {"kind": "upload", "upload_id": up["upload_id"]},
            tgt,
            {**meta, "path": f"imports/cap-{i}"},
            now_ms=NOW,
        )
        assert got["status"] == 202
    up = _upload(rc_engine)
    capped = rc_engine.submit_rocrate_import(
        {"kind": "upload", "upload_id": up["upload_id"]},
        tgt,
        {**meta, "path": "imports/cap-overflow"},
        now_ms=NOW,
    )
    assert capped == {
        "status": 409,
        "error": "ActiveJobLimit",
        "limit": 4,
    }


# ------------------------------------------------- realm quota route
def test_set_realm_quota_roundtrip(rc_engine):
    # never set: QuotaConfig::default served, flagged unset
    before = rc_engine.get_realm_quota("realm-0")
    assert before["status"] == 200 and not before["was_set"]
    assert before["effective_grace_pct"] == 110
    assert before["effective_warn_pct"] == 85
    assert before["effective_max_groups"] == 3
    # set with UNORDERED overrides + devices: stored normalized
    got = rc_engine.set_realm_quota(
        "realm-0",
        {
            "default_group_quota_bytes": 2000,
            "group_overrides": [("g-2", None, None), ("g-1", 100, 150)],
            "user_group_cap_overrides": [("u-9", None), ("u-2", 5)],
            "max_devices_per_user": None,
            "grace_factor_percent": 120,
        },
    )
    assert got["status"] == 200
    q = got["quota"]
    assert q["group_overrides"] == [("g-1", 100, 150), ("g-2", None, None)]
    assert q["user_group_cap_overrides"] == [("u-2", 5), ("u-9", None)]
    after = rc_engine.get_realm_quota("realm-0")
    assert after["was_set"] and after["effective_grace_pct"] == 120


def test_set_realm_quota_validation_and_404(rc_engine):
    assert rc_engine.set_realm_quota("realm-404", {})["status"] == 404
    assert rc_engine.get_realm_quota("realm-404")["status"] == 404
    for bad, frag in (
        ({"warn_threshold_percent": 0}, "warn_threshold_percent"),
        ({"grace_factor_percent": 99}, "grace_factor_percent"),
        ({"max_devices_per_user": 1}, "max_devices_per_user"),
        (
            {"group_overrides": [("g-1", 100, None), ("g-1", 1, None)]},
            "duplicate group override",
        ),
        ({"group_overrides": [("g-1", None, 150)]}, "incoherent"),
        (
            {"user_group_cap_overrides": [("u-1", 1), ("u-1", 2)]},
            "duplicate user cap",
        ),
    ):
        got = rc_engine.set_realm_quota("realm-0", bad)
        assert got["status"] == 400 and frag in got["reason"], bad
    # a rejected write never lands
    assert not rc_engine.get_realm_quota("realm-0")["was_set"]
