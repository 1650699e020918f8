"""Seed-driven inputs for the benchmark.

Everything here is a pure function of the seed: the base corpus written
as ``documents.parquet`` (the catalog schema of ``FIXTURES.md``) and the
JSON-LD write batches of ``doc_index``. The same seed gives the same
table and the same batches.
"""

from __future__ import annotations

import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the common vocabulary: every word shows up in a large share of documents
COMMON = (
    "a the join agg order scan hash vector query merge spark big line fast "
    "group data customer sort row slow small filter table stream key value "
    "part batch window column"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
N_SOURCES = 20


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(COMMON) for _ in range(rng.randint(8, 70)))


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = random.Random(f"docs:{seed}")
    texts = [_text(rng) for _ in range(n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_corpus(path: str, seed: int, n_docs: int) -> pa.Table:
    """Write ``documents.parquet`` under ``path`` (every route the
    workloads call derives its relations from it); returns the table for
    the checks."""
    docs = documents(seed, n_docs)
    pq.write_table(docs, f"{path}/documents.parquet")
    return docs


# ----------------------------------------------------------- doc_index


def batch_token(seed: int, batch: int | str) -> str:
    """A token no other batch and no base document carries (base text is
    lowercase letters only; this one mixes in digits)."""
    return f"nb{seed % 1000}x{batch}z"


def jsonld_batch(seed: int, batch: int | str, size: int, first_id: int) -> list[tuple]:
    """``size`` JSON-LD documents for one create op: (document_id,
    subject, jsonld, fields) where ``fields`` maps each searchable field
    to its text, as the checks need it."""
    rng = random.Random(f"batch:{seed}:{batch}")
    tok = batch_token(seed, batch)
    out = []
    for i in range(size):
        did = first_id + i
        sid = f"urn:bench:doc:{did}"
        words = [rng.choice(COMMON) for _ in range(rng.randint(4, 12))]
        fields = {
            "name": f"{tok} {rng.choice(COMMON)} item {did}",
            "description": " ".join(words),
            "keywords": rng.choice(COMMON),
        }
        doc = {"@id": sid, "@type": "Dataset", **fields}
        out.append((did, sid, json.dumps(doc), fields))
    return out
