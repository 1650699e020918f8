"""Incremental postings maintenance == full rebuild, with shard-level
rewrites and snapshot isolation (``aruna_spark/search/incremental.py``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aruna_spark.ingest.doc_triples import load_triples
from aruna_spark.search import incremental
from aruna_spark.search.bm25 import build_field_literals, build_postings
from aruna_spark.search.incremental import (
    _SHARD_RE,
    init_postings_table,
    read_pruned,
    upsert_postings,
)


def _postings_set(df):
    return {
        (r.subject, r.graph_iri, r.field, r.token, r.tf)
        for r in df.select(
            "subject", "graph_iri", "field", "token", "tf"
        ).collect()
    }


def _split_fields(spark, sf_dir):
    """Full corpus fields, split into (base, changed-docs slice)."""
    fields = build_field_literals(load_triples(spark, sf_dir))
    changed = fields.filter(
        F.regexp_extract("subject", r"(\d+)$", 1).cast("long") % 7 == 3
    )
    base = fields.join(
        changed.select("subject").distinct(), "subject", "left_anti"
    )
    return fields, base, changed


def test_incremental_upsert_equals_full_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    # 256 shards, so the carry-over assertion below has shards to carry
    monkeypatch.setattr(incremental, "SHARD_ROWS", 0)
    fields, base, changed = _split_fields(spark, sf_dir)
    # v0: index WITHOUT the changed docs
    table = init_postings_table(
        spark, build_postings(base), str(tmp_path / "idx")
    )
    v0_files = set(table.files(0))
    # upsert the changed docs incrementally
    v1 = upsert_postings(
        table,
        spark,
        build_postings(changed),
        changed.select("subject").distinct(),
    )
    assert v1 == 1
    # incremental result == one-shot full rebuild, exactly
    assert _postings_set(table.read(spark)) == _postings_set(
        build_postings(fields)
    )
    # unaffected shards carried over by reference (same file paths)
    v1_files = set(table.files(1))
    assert v0_files & v1_files, "unaffected shard files must carry over"
    assert v1_files != v0_files
    # snapshot isolation: v0 still reads the pre-upsert index
    assert _postings_set(table.read(spark, version=0)) == _postings_set(
        build_postings(base)
    )


def test_incremental_delete(spark, sf_dir, tmp_path):
    fields, base, changed = _split_fields(spark, sf_dir)
    table = init_postings_table(
        spark, build_postings(fields), str(tmp_path / "idx")
    )
    # pure delete: changed subjects removed, no new postings
    empty = build_postings(changed).limit(0)
    upsert_postings(
        table, spark, empty, changed.select("subject").distinct()
    )
    assert _postings_set(table.read(spark)) == _postings_set(
        build_postings(base)
    )


def test_manifest_level_shard_pruning(spark, sf_dir, tmp_path, monkeypatch):
    # 256 shards, so pruning to one of them excludes the others
    monkeypatch.setattr(incremental, "SHARD_ROWS", 0)
    fields, _, _ = _split_fields(spark, sf_dir)
    postings = build_postings(fields)
    table = init_postings_table(spark, postings, str(tmp_path / "idx"))
    n = table._manifest(0)["shards"]
    # pick a real token and prune to its shard
    row = postings.select("token").first()
    shard = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(row.token)), F.lit(n))
            .cast("int")
            .alias("s")
        )
        .collect()[0].s
    )
    pruned = read_pruned(spark, table, {shard})
    got = {r.token for r in pruned.select("token").distinct().collect()}
    assert row.token in got
    # every token in the pruned read hashes to the pruned shard
    check = pruned.select(
        F.pmod(F.xxhash64("token"), F.lit(n)).cast("int").alias("s")
    ).distinct()
    assert {r.s for r in check.collect()} == {shard}


def test_upsert_implied_subjects_never_duplicate(spark, sf_dir, tmp_path):
    """ADVICE r4: a subject present in new_postings but omitted from
    changed_subjects must still have its old postings dropped — the drop
    set is changed ∪ new subjects, so no duplicate (subject, token) rows
    can survive an upsert."""
    fields, base, changed = _split_fields(spark, sf_dir)
    table = init_postings_table(
        spark, build_postings(fields), str(tmp_path / "idx")
    )
    # re-upsert the changed docs' postings with an EMPTY changed set
    empty_changed = changed.select("subject").distinct().limit(0)
    upsert_postings(table, spark, build_postings(changed), empty_changed)
    latest = table.read(spark)
    dupes = (
        latest.groupBy("subject", "graph_iri", "field", "token")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dupes.count() == 0
    # and the index still equals the full rebuild
    assert _postings_set(latest) == _postings_set(build_postings(fields))


def test_upsert_then_query_old_and_new_versions(spark, sf_dir, tmp_path):
    """VERDICT r4 Next #2 end-to-end: an upsert batch commits
    incrementally, and the SAME query machinery the default search path
    uses (token_shards → read_pruned → read_aux → bm25_scores) returns
    the updated hits at the new version while a reader pinned to the old
    version still gets the old hits."""
    from aruna_spark.search.bm25 import bm25_scores
    from aruna_spark.search.incremental import read_aux, token_shards

    fields, _, _ = _split_fields(spark, sf_dir)
    table = init_postings_table(
        spark, build_postings(fields), str(tmp_path / "idx")
    )

    def hits(version):
        toks = ["zephyrqux"]
        pruned = read_pruned(
            spark, table, token_shards(spark, toks), version
        )
        dl, stats = read_aux(spark, table, version)
        scored = bm25_scores(pruned, toks, dl=dl, stats=stats)
        return {r.subject for r in scored.collect()}

    assert hits(0) == set()
    new_doc = spark.createDataFrame(
        [("urn:test:doc:new", "https://g/new", "name", "zephyrqux", 1)],
        "subject string, graph_iri string, field string, "
        "token string, tf bigint",
    )
    v1 = upsert_postings(
        table, spark, new_doc, new_doc.select("subject").distinct()
    )
    assert hits(v1) == {"urn:test:doc:new"}
    assert hits(0) == set()  # pinned old version: unchanged
    # delete the doc again: v2 drops the hit, v1 still serves it
    v2 = upsert_postings(
        table,
        spark,
        new_doc.limit(0),
        new_doc.select("subject").distinct(),
    )
    assert hits(v2) == set()
    assert hits(v1) == {"urn:test:doc:new"}


def test_upsert_optimistic_conflict(spark, sf_dir, tmp_path):
    import pytest

    from aruna_spark.ops.versioned import CommitConflict

    fields, base, changed = _split_fields(spark, sf_dir)
    table = init_postings_table(
        spark, build_postings(base), str(tmp_path / "idx")
    )
    upsert_postings(
        table, spark, build_postings(changed),
        changed.select("subject").distinct(),
    )
    with pytest.raises(CommitConflict):
        upsert_postings(
            table, spark, build_postings(changed),
            changed.select("subject").distinct(), expected_version=0,
        )


def test_losing_writer_cannot_clobber_winners_sidecars(
    spark, sf_dir, tmp_path
):
    """Two writers race for the same version: the loser raises
    CommitConflict at the claim AND the committed version's scoring
    sidecars (dl/stats) remain the winner's — aux artifacts are keyed
    per attempt and resolved through the manifest, so a loser's write
    can never overwrite them (it leaves only an unreferenced dir)."""
    import pytest

    from aruna_spark.ops.versioned import CommitConflict
    from aruna_spark.search.incremental import read_aux

    fields, base, changed = _split_fields(spark, sf_dir)
    # split the changed slice into two disjoint batches, one per writer
    c1 = changed.filter(
        F.regexp_extract("subject", r"(\d+)$", 1).cast("long") % 2 == 0
    )
    c2 = changed.join(
        c1.select("subject").distinct(), "subject", "left_anti"
    )
    table = init_postings_table(
        spark, build_postings(base), str(tmp_path / "idx")
    )
    # writer 1 commits v1
    assert (
        upsert_postings(
            table, spark, build_postings(c1), c1.select("subject").distinct()
        )
        == 1
    )
    dl_v1 = {
        (r.subject, r.field): r.dl
        for r in read_aux(spark, table, 1)[0].collect()
    }
    # writer 2 validated the SAME snapshot (v0) — simulate the race by
    # pinning its view of the log to v0 so it passes the conflict check,
    # writes its data + aux, and loses the v1 claim
    real_latest = table.latest_version
    table.latest_version = lambda: 0
    try:
        with pytest.raises(CommitConflict):
            upsert_postings(
                table,
                spark,
                build_postings(c2),
                c2.select("subject").distinct(),
            )
    finally:
        table.latest_version = real_latest
    # v1's sidecars are still the winner's, byte-for-byte
    dl_after = {
        (r.subject, r.field): r.dl
        for r in read_aux(spark, table, 1)[0].collect()
    }
    assert dl_after == dl_v1
    # and none of writer 2's subjects leaked into v1's dl
    w2_subjects = {r.subject for r in c2.select("subject").distinct().collect()}
    assert not {s for s, _ in dl_after} & w2_subjects


def test_stream_feeds_maintained_index_per_microbatch(
    spark, sf_dir, tmp_path
):
    """The write path of the reference enriches the persistent search
    index per document write (search_enrichment.rs; handle.rs flush) —
    the Structured-Streaming analog: a file stream of document field
    writes drives upsert_postings from foreachBatch, one optimistic
    commit per micro-batch, against the SAME versioned table the query
    path reads. After the stream drains, the index equals a one-shot
    full rebuild, and every intermediate version remains time-travel
    readable."""
    fields, base, changed = _split_fields(spark, sf_dir)
    b1 = changed.filter(
        F.regexp_extract("subject", r"(\d+)$", 1).cast("long") % 2 == 0
    )
    b2 = changed.join(
        b1.select("subject").distinct(), "subject", "left_anti"
    )
    table = init_postings_table(
        spark, build_postings(base), str(tmp_path / "idx")
    )
    v0_postings = _postings_set(table.read(spark, 0))
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    stream_dir = str(tmp_path / "writes")
    b1.coalesce(1).write.mode("append").parquet(stream_dir)
    b2.coalesce(1).write.mode("append").parquet(stream_dir)

    def enrich(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        upsert_postings(
            table,
            spark,
            build_postings(batch_df),
            batch_df.select("subject").distinct(),
        )

    schema = spark.read.parquet(stream_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert table.latest_version() == 2  # one commit per micro-batch
    assert _postings_set(table.read(spark)) == _postings_set(
        build_postings(fields)
    )
    # time travel across the maintenance history is intact
    assert _postings_set(table.read(spark, 0)) == v0_postings
    assert len(_postings_set(table.read(spark, 1))) > len(v0_postings)


def test_onrow_scoring_columns_match_recomputation(spark, sf_dir, tmp_path):
    """r16: the denormalized on-row (dl, df) scoring columns must stay
    exact through an incremental upsert — dl is the row's (subject,
    field) token count and df its (field, token) document frequency,
    both over the POST-upsert corpus (a token lives entirely in its
    shard, so every affected df row is in a rewritten shard)."""
    from aruna_spark.search.bm25 import build_doc_lengths

    fields, base, changed = _split_fields(spark, sf_dir)
    table = init_postings_table(
        spark, build_postings(base), str(tmp_path / "idx")
    )
    upsert_postings(
        table,
        spark,
        build_postings(changed),
        changed.select("subject").distinct(),
    )
    latest = table.read(spark)
    expect = build_postings(fields)
    exp_dl = {
        (r.subject, r.field): r.dl
        for r in build_doc_lengths(expect).collect()
    }
    exp_df = {
        (r.field, r.token): r["df"]
        for r in expect.groupBy("field", "token")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    rows = latest.collect()
    assert rows
    for r in rows:
        assert r.dl == exp_dl[(r.subject, r.field)], (r.subject, r.field)
        assert r["df"] == exp_df[(r.field, r.token)], (r.field, r.token)


def test_fanout_is_sized_to_the_index():
    from aruna_spark.search.incremental import BUCKETS, SHARD_ROWS, fanout

    assert fanout(0) == 1
    assert fanout(SHARD_ROWS) == 1
    assert fanout(SHARD_ROWS + 1) == 2
    assert fanout(5 * SHARD_ROWS) == 8
    assert fanout(10**12) == BUCKETS


_WORDS = [f"w{i}" for i in range(48)]
_FIELDS = ("name", "description", "keywords", "identifier")


def _random_doc(rng):
    return {
        f: " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 6)))
        for f in rng.sample(_FIELDS, rng.randint(1, 3))
    }


def _model_postings(spark, docs):
    """Postings of ``docs`` ({subject: (graph, {field: text})})."""
    rows = [
        (s, g, f, text)
        for s, (g, fields) in sorted(docs.items())
        for f, text in fields.items()
    ]
    return build_postings(
        spark.createDataFrame(
            rows, "subject string, graph_iri string, field string, text string"
        )
    )


def _index_state(spark, table):
    """(postings rows with on-row dl/df, dl sidecar, stats sidecar)."""
    from aruna_spark.search.incremental import read_aux, read_snapshot

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    dl, stats = read_aux(spark, table)
    return (
        rows(
            read_snapshot(spark, table),
            "subject", "graph_iri", "field", "token", "tf", "dl", "df",
        ),
        rows(dl, "subject", "field", "dl"),
        rows(stats, "field", "n", "avgdl"),
    )


def _fanouts(table):
    return [
        table._manifest(v).get("shards", incremental.BUCKETS)
        for v in table.versions()
    ]


# SHARD_ROWS forcing each fan-out for the test corpus (None: a quarter of
# the initial row count, so growth crosses from 4 to 8 shards)
_FORCED = {"1": 10**9, "4": None, "256": 0, "legacy": 0}


@pytest.mark.parametrize("mode", list(_FORCED))
def test_random_batches_equal_full_rebuild(spark, tmp_path, monkeypatch, mode):
    """Property: init plus random upsert/delete batches leaves the same
    index as a rebuild of the final corpus — postings, on-row dl/df and
    both sidecars — at fan-outs 1, 4 (growing past a boundary) and 256,
    and from a manifest written before the fan-out key existed."""
    import json
    import random

    from aruna_spark.search.incremental import (
        compact_postings,
        read_pruned,
        read_snapshot,
        token_shards,
    )

    rng = random.Random(f"upsert-batches-{mode}")
    model = {f"urn:d:{i}": (f"g:{i}", _random_doc(rng)) for i in range(40)}
    rows0 = _model_postings(spark, model).count()
    forced = _FORCED[mode]
    monkeypatch.setattr(
        incremental, "SHARD_ROWS", -(-rows0 // 4) if forced is None else forced
    )
    table = init_postings_table(
        spark, _model_postings(spark, model), str(tmp_path / "idx")
    )
    want_n = {"1": 1, "4": 4, "256": 256, "legacy": 256}[mode]
    assert table._manifest(0)["shards"] == want_n
    if mode == "legacy":
        log0 = tmp_path / "idx" / "_log" / "0.json"
        m = json.loads(log0.read_text())
        del m["shards"]
        log0.write_text(json.dumps(m))
        monkeypatch.setattr(incremental, "SHARD_ROWS", 65_536)

    next_id = len(model)
    # growth, growth (the fan-out-4 run re-sizes here), mixed, pure delete
    for n_new, n_upd, n_del in ((24, 2, 1), (16, 2, 2), (3, 3, 3), (0, 0, 4)):
        batch = {}
        for _ in range(n_new):
            batch[f"urn:d:{next_id}"] = (f"g:{next_id}", _random_doc(rng))
            next_id += 1
        olds = rng.sample(sorted(model), n_upd + n_del)
        for s in olds[:n_upd]:
            batch[s] = (model[s][0], _random_doc(rng))
        for s in olds[n_upd:]:
            del model[s]
        model.update(batch)
        upsert_postings(
            table,
            spark,
            _model_postings(spark, batch),
            spark.createDataFrame([(s,) for s in olds], "subject string"),
        )

    rebuilt = init_postings_table(
        spark, _model_postings(spark, model), str(tmp_path / "rebuilt")
    )
    want = _index_state(spark, rebuilt)
    assert _index_state(spark, table) == want
    if mode == "4":
        assert {4, 8} <= set(_fanouts(table)), _fanouts(table)
        # query-time pruning reduces 256-bucket ids to the version's n
        snapshot = read_snapshot(spark, table)
        for t in _WORDS[:6]:
            pruned = read_pruned(spark, table, token_shards(spark, [t]))
            got, full = (
                sorted(map(tuple, df.filter(F.col("token") == t).collect()))
                for df in (pruned, snapshot)
            )
            assert full and got == full, t
    if mode == "legacy":
        assert _fanouts(table)[0] == 256

    # compaction re-sizes the fan-out and changes no data
    monkeypatch.setattr(incremental, "SHARD_ROWS", 65_536)
    compact_postings(table, spark)
    assert _fanouts(table)[-1] == 1
    assert len(table.files()) == 1
    assert _index_state(spark, table) == want


def test_upsert_refuses_snapshot_without_onrow_scoring(spark, tmp_path):
    """A snapshot written before the on-row dl/df columns cannot be
    upserted into: the upsert names the rebuild instead of failing
    inside Spark's unionByName."""
    import os

    from aruna_spark.ops.versioned import VersionedTable
    from aruna_spark.search.bm25 import build_doc_lengths
    from aruna_spark.search.incremental import _write_aux
    from aruna_spark.store import LAYOUT_VERSION

    docs = {"urn:d:1": ("g:1", {"name": "alpha beta"})}
    postings = _model_postings(spark, docs)
    path = str(tmp_path / "idx")
    postings.withColumn(
        "shard", F.pmod(F.xxhash64("token"), F.lit(256)).cast("int")
    ).write.partitionBy("shard").parquet(os.path.join(path, "part-old"))
    table = VersionedTable(path)
    leaves = sorted(
        f"part-old/{d}"
        for d in os.listdir(os.path.join(path, "part-old"))
        if d.startswith("shard=")
    )
    aux = _write_aux(table, build_doc_lengths(postings))
    table._commit_manifest(leaves, "overwrite", 0, extra={"aux": aux})
    batch = {"urn:d:2": ("g:2", {"name": "gamma"})}
    with pytest.raises(ValueError, match="rebuild required") as err:
        upsert_postings(
            table,
            spark,
            _model_postings(spark, batch),
            spark.createDataFrame([("urn:d:2",)], "subject string"),
        )
    assert LAYOUT_VERSION in str(err.value)
    assert table.latest_version() == 0
