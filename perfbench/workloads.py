"""The workloads: set-up, seed-generated op rounds and output checks.

An op is a call into the engine's public surface whose result is kept
and checked after the timed phase against a computation made apart from
Spark: DuckDB over ``documents.parquet`` (following the projection that
``ingest/doc_triples.py`` documents), the registry's DuckDB oracles, or a
pure-Python model of the index. A check that fails counts the op as
failed.
"""

from __future__ import annotations

import os
import random
import unicodedata
from collections import Counter
from decimal import Decimal

import data

FIND_PAGE = 4  # search page size: a batch's hits span two pages
MAX_TOKEN_LEN = 40

PREFIX = "PREFIX schema: <http://schema.org/> "
DOC = "urn:aruna:doc:"
COLL = "urn:aruna:collection:"
GRAPH = "https://w3id.org/aruna/"


def tokenize(text: str) -> list[str]:
    """The documented search analyzer, written again from its spec
    (``search/bm25.py`` module doc): lowercase, fold final sigma and drop
    the combining dot above, split on every char that is not a Unicode
    letter or number, drop tokens longer than 40 chars."""
    norm = text.lower().replace("ς", "σ").replace("̇", "")
    out, cur = [], []
    for ch in norm:
        if unicodedata.category(ch)[0] in "LN":
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return [t for t in out if len(t) <= MAX_TOKEN_LEN]


def doc_fields(doc_id: int, text: str, source: str, n_chars: int) -> dict[str, str]:
    """The searchable literals of one base document (name, identifier,
    keywords, and description only when n_chars >= 200)."""
    f = {
        "name": f"doc-{doc_id}",
        "identifier": f"{source}-{doc_id}",
        "keywords": text.split(" ")[0],
    }
    if n_chars >= 200:
        f["description"] = text[:80]
    return f


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() else f"{v:.12g}"
    return str(v)


def _rows(rows, cols=None) -> list[tuple]:
    """Spark Rows or DuckDB tuples as tuples of canonical strings."""
    out = []
    for r in rows:
        vals = [r[c] for c in cols] if cols else list(r)
        out.append(tuple(_norm(v) for v in vals))
    return out


class Op:
    __slots__ = ("kind", "route", "operator", "run", "check", "result", "error")

    def __init__(self, kind, route, run, check, operator=None):
        self.kind, self.route, self.operator = kind, route, operator
        self.run, self.check = run, check
        self.result = self.error = None


# ================================================================ reads


class MetadataRead:
    """Read-only mix over the Engine routes: SPARQL, object listing and the
    usage-counter aggregation."""

    name = "metadata_read"

    def __init__(self, seed: int, n_docs: int):
        self.seed, self.n_docs = seed, n_docs
        self.used: set[str] = set()

    def make_inputs(self, path: str) -> None:
        data.write_corpus(path, self.seed, self.n_docs)
        self.path = path
        import duckdb

        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/documents.parquet'")

    def setup(self, spark) -> None:
        from aruna_spark.api import Engine

        self.engine = Engine(spark, self.path)
        self.engine.sparql_engine  # noqa: B018 - builds the triples layout

    WARM_PASSES, TIMED_PASSES = 2, 3

    def round(self, phase: str, k: int) -> list[Op]:
        """The warm-up is two passes over the op kinds; a timed round is
        three, so a run measures every kind three times."""
        n = self.WARM_PASSES if phase == "warm" else self.TIMED_PASSES
        return [op for i in range(n) for op in self._pass(phase, n * k + i)]

    def _sparql_kinds(self, r: random.Random) -> list[tuple[str, str, str]]:
        """(kind, SPARQL text, DuckDB SQL of the expected rows) per kind.
        Rows compare as sorted multisets; no kind here orders its rows."""
        n = self.n_docs
        p = r.randrange(n)
        t = r.randrange(40, 560)
        c, lang, x = r.randrange(3), r.choice(("en", "zh", "es", "de", "fr")), r.randrange(n)
        # the collection tree: k > 0 is part of (k - 1) // 2
        below = {c}
        for k in range(7):
            j = k
            while j > 0 and j not in below:
                j = (j - 1) // 2
            if j in below:
                below.add(k)
        ks = ", ".join(str(k) for k in sorted(below))
        oc, ot = r.randrange(7), r.randrange(120, 320)
        return [
            (
                # point lookup by name: a two-pattern join on one subject
                "sparql_point",
                f'SELECT ?s ?lang WHERE {{ ?s schema:name "doc-{p}" ; schema:inLanguage ?lang }}',
                f"SELECT '{DOC}' || doc_id, lang FROM documents WHERE doc_id = {p}",
            ),
            (
                "sparql_group",
                "SELECT ?l (COUNT(?s) AS ?c) WHERE { ?s schema:inLanguage ?l ; "
                f"schema:contentSize ?z FILTER(?z > {t}) }} GROUP BY ?l",
                f"SELECT lang, count(*) FROM documents WHERE n_chars > {t} GROUP BY lang",
            ),
            (
                "sparql_path",
                f'SELECT ?s WHERE {{ ?s schema:isPartOf+ <{COLL}{c}> ; schema:inLanguage "{lang}" '
                f"FILTER(?s != <{DOC}{x}>) }}",
                f"SELECT '{DOC}' || doc_id FROM documents WHERE lang = '{lang}' "
                f"AND doc_id % 7 IN ({ks}) AND doc_id <> {x}",
            ),
            (
                "sparql_optional",
                f"SELECT ?s ?d WHERE {{ ?s schema:isPartOf <{COLL}{oc}> ; schema:contentSize ?z "
                f"FILTER(?z < {ot}) OPTIONAL {{ ?s schema:description ?d }} }}",
                f"SELECT '{DOC}' || doc_id, CASE WHEN n_chars >= 200 THEN substring(text, 1, 80) END "
                f"FROM documents WHERE doc_id % 7 = {oc} AND n_chars < {ot}",
            ),
        ]

    def _pass(self, phase: str, k: int) -> list[Op]:
        rng = random.Random(f"{self.seed}:{phase}:{k}")
        e = self.engine
        ops: list[Op] = []
        # every SPARQL text of the run is new, so the result cache never
        # serves one: draw again on a repeat
        kinds = self._sparql_kinds(rng)
        while any(PREFIX + text in self.used for _, text, _ in kinds):
            kinds = self._sparql_kinds(rng)
        for kind, text, sql in kinds:
            self.used.add(PREFIX + text)
            ops.append(
                Op(
                    kind,
                    "sparql",
                    lambda text=PREFIX + text: e.sparql(text),
                    lambda rows, sql=sql: sorted(_rows(rows)) == sorted(self._q(sql)),
                )
            )

        # object routes
        prefix = f"data/src{rng.randrange(data.N_SOURCES)}/"
        ops.append(
            Op(
                "list_objects",
                "list_objects",
                lambda: e.list_objects(prefix=prefix, delimiter="/").collect(),
                lambda rows: self._check_list(prefix, rows),
            )
        )

        # the usage-counter aggregation, served by a registry operator
        from aruna_spark.queries import REGISTRY, load_all

        load_all()
        oracle = REGISTRY["usage_counters_by_group"][1]
        ops.append(
            Op(
                "usage_counters",
                "aggregate",
                lambda: e.usage_counters().collect(),
                lambda rows: self._check_oracle(oracle, rows),
                operator="usage_counters_by_group",
            )
        )
        return ops

    # -- expectations ----------------------------------------------------
    def _q(self, sql: str) -> list[tuple]:
        return _rows(self.duck.execute(sql).fetchall())

    def _check_list(self, prefix: str, rows) -> bool:
        from aruna_spark.ops.listing import duck_list_objects_v2
        from aruna_spark.sources.objects import OBJECTS_ORACLE_SQL

        want = self._q(duck_list_objects_v2(OBJECTS_ORACLE_SQL, prefix=prefix, delimiter="/"))
        return _rows(rows, ["entry", "kind", "n_keys", "total_size"]) == want

    def _check_oracle(self, oracle: str, rows) -> bool:
        if not rows:
            return False
        cols = sorted(rows[0].asDict())
        cur = self.duck.execute(oracle)
        names = [c[0] for c in cur.description]
        want = sorted(_rows([dict(zip(names, r)) for r in cur.fetchall()], cols))
        return sorted(_rows(rows, cols)) == want


# ================================================================ writes


class DocIndex:
    """Each op writes one batch of JSON-LD documents into the run's BM25
    index (new documents plus one update and one delete of documents
    written earlier), then searches for the batch's own token: page 1 and
    page 2 through the signed cursor."""

    name = "doc_index"
    BATCH = 6  # new documents per op; each op also updates one and deletes one

    def __init__(self, seed: int, n_docs: int):
        self.seed, self.n_docs = seed, n_docs
        self.next_id = 1_000_000

    def make_inputs(self, path: str) -> None:
        docs = data.write_corpus(path, self.seed, self.n_docs).to_pylist()
        self.path = path
        # subject -> (graph, {field: text}): the model of every indexed document
        self.model: dict[str, tuple[str, dict[str, str]]] = {}
        for d in docs:
            i = d["doc_id"]
            self.model[f"{DOC}{i}"] = (f"{GRAPH}{i}", doc_fields(i, d["text"], d["source"], d["n_chars"]))
        for k in sorted({d["doc_id"] % 7 for d in docs}):
            self.model[f"{COLL}{k}"] = (f"{GRAPH}coll{k}", {"name": f"collection-{k}"})

    def setup(self, spark) -> None:
        from aruna_spark import store
        from aruna_spark.api import Engine

        # the store's BM25 layout (built over its triples layout): the
        # index Engine.search reads and this workload writes into
        self.table = store.postings_table(spark, self.path)
        self.engine = Engine(spark, self.path)

    def round(self, phase: str, k: int) -> list[Op]:
        """One batch per timed round. The warm-up takes one batch of its
        own (seed key and token of its own) through every step but the
        upsert, so nothing it does reaches the index, and walks two search
        pages for a base word: it starts the Python workers and runs the
        projection and search plans once. A whole warm-up batch, upsert
        included, costs ~25 s a run, which the time budget of the
        benchmark's runs does not hold (README, Warm-up)."""
        return [self._warm_op()] if phase == "warm" else [self._op(k)]

    def _postings(self, docs: list[tuple[int, str]]):
        """JSON-LD documents -> the postings of their searchable fields."""
        from aruna_spark.ingest.jsonld import TRIPLES_SCHEMA
        from aruna_spark.search.bm25 import build_field_literals, build_postings

        e, spark = self.engine, self.engine.spark
        df = spark.createDataFrame(docs, "document_id long, jsonld string")
        with self.tracer.span("ingest.project"):
            triples = e.ingest_jsonld(df).collect()
        return build_postings(build_field_literals(spark.createDataFrame(triples, TRIPLES_SCHEMA)))

    def _walk(self, query: str):
        """Search page 1, then page 2 through the signed cursor."""
        e, tr = self.engine, self.tracer
        with tr.span("api.find_new"):
            first = e.search(query, page_size=FIND_PAGE)
        with tr.span("api.search_next"):
            return first, e.search(query, page_size=FIND_PAGE, cursor=first.next_cursor)

    def _warm_op(self) -> Op:
        new = data.jsonld_batch(self.seed, "warm", self.BATCH, 0)
        docs = [(did, js) for did, _sid, js, _f in new]
        word = random.Random(f"{self.seed}:warm").choice([w for w in data.COMMON if len(w) >= 4])

        def run():
            self._postings(docs).collect()
            return self._walk(word)

        return Op("warm_batch", None, run, None)

    def _op(self, k: int) -> Op:
        from aruna_spark.search.incremental import upsert_postings

        rng = random.Random(f"{self.seed}:timed:{k}")
        tok = data.batch_token(self.seed, k)
        new = data.jsonld_batch(self.seed, k, self.BATCH, self.next_id)
        self.next_id += self.BATCH
        docs = [(did, js) for did, _sid, js, _f in new]
        updates = {sid: (f"{GRAPH}{did}", f) for did, sid, _js, f in new}
        # one earlier document is rewritten (it gains the batch token) and
        # one other is deleted; base collections are left alone
        earlier = sorted(s for s in self.model if not s.startswith(COLL))
        upd, dele = rng.sample(earlier, 2)
        graph, _ = self.model[upd]
        fields = {"name": f"{tok} revised", "keywords": rng.choice(data.COMMON)}
        import json

        docs.append((int(graph[len(GRAPH):]), json.dumps({"@id": upd, "@type": "Dataset", **fields})))
        updates[upd] = (graph, fields)
        changed = [upd, dele]
        # the model after this op, and the hits the search must return
        del self.model[dele]
        self.model.update(updates)
        expect = sorted(s for s in updates)
        spark, table, tr = self.engine.spark, self.table, self.tracer

        def run():
            with tr.span("api.create_batch"):
                postings = self._postings(docs)
                subjects = spark.createDataFrame([(s,) for s in changed], "subject string")
                before = set(table.files()) if tr.enabled else None
                size0 = _du(table.path) if tr.enabled else 0
                with tr.span("incremental.upsert"):
                    upsert_postings(table, spark, postings, subjects)
                if tr.enabled:
                    after = table.files()
                    tr.count("incremental.shards_rewritten", len(set(after) - before))
                    tr.count("incremental.mb_written", (_du(table.path) - size0) / 2**20)
            return self._walk(tok)

        def check(pages) -> bool:
            # the walk over both pages finds every document the batch wrote
            # or rewrote, each once, in non-increasing score order
            first, second = pages
            hits = _rows(first.hits + second.hits, ["graph_iri", "subject", "score_q"])
            scores = [int(h[2]) for h in hits]
            return (
                len(first.hits) == FIND_PAGE
                and second.next_cursor is None
                and sorted(h[1] for h in hits) == expect
                and scores == sorted(scores, reverse=True)
            )

        return Op("index_batch", None, run, check)

    def final_check(self) -> bool:
        """The index after every batch equals a rebuild of the model:
        base documents plus every batch, deletes and updates applied —
        tokens, term frequencies, document lengths and document
        frequencies."""
        want = {}
        for subject, (graph, fields) in self.model.items():
            for field, text in fields.items():
                for tok, tf in Counter(tokenize(text)).items():
                    want[(subject, graph, field, tok)] = tf
        dl = Counter()
        df = Counter()
        for (s, _g, f, t), tf in want.items():
            dl[(s, f)] += tf
            df[(f, t)] += 1
        import pyarrow.parquet as pq

        cols = ["subject", "graph_iri", "field", "token", "tf", "dl", "df"]
        rows = []
        for leaf in self.table.files():
            leaf_dir = os.path.join(self.table.path, leaf)
            for name in sorted(os.listdir(leaf_dir)):
                if name.endswith(".parquet"):
                    rows.extend(pq.read_table(os.path.join(leaf_dir, name), columns=cols).to_pylist())
        got = {(r["subject"], r["graph_iri"], r["field"], r["token"]): r["tf"] for r in rows}
        return (
            len(rows) == len(got) == len(want)
            and got == want
            and all(
                r["dl"] == dl[(r["subject"], r["field"])] and r["df"] == df[(r["field"], r["token"])]
                for r in rows
            )
        )


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


WORKLOADS = {w.name: w for w in (MetadataRead, DocIndex)}
