"""Seeded input generators. The same seed always gives the same inputs; the
engine only ever sees what these functions produce.

Three input families, one per workload:

- CDC documents (``cdc_maintain``): JSON documents for a function index,
  then a stream of change batches over skewed doc ids;
- mixed-type keyed items (``index_serve``): JSON key values of every
  collation type plus a group and a measure, then small change batches;
- star-schema tables (``query_suite``): the ten engine tables with the
  column types and value domains of the engine's test data.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import numpy as np

# -- cdc_maintain -------------------------------------------------------------

DOC_TYPES = ("order", "invoice", "ticket", "user", "event", "note")
DOC_TAGS = tuple(f"t{i:02d}" for i in range(40))
#: emitted-key fan-out per document: P(0..4 tags)
TAG_FANOUT = (0.10, 0.30, 0.30, 0.20, 0.10)
#: share of documents whose body makes the map WHERE-false (status archived)
ARCHIVED_SHARE = 0.10
#: change mix of the CDC stream
OP_MIX = (
    ("upsert", 0.63),
    ("upsert_archived", 0.15),  # a WHERE-false re-version
    ("delete", 0.14),
    ("expiration", 0.08),
)
#: share of upserts that insert a doc id never seen before
INSERT_SHARE = 0.05
#: doc-id skew: id rank = floor(n * u ** SKEW) over a seeded permutation, so a
#: few hot documents recur within and across batches
SKEW = 2.5

CDC_SCHEMA = "doc_id BIGINT, seq BIGINT, op STRING, body STRING"


def doc_body(rng: random.Random, archived: bool, version: int) -> str:
    k = rng.choices(range(5), weights=TAG_FANOUT)[0]
    return json.dumps(
        {
            "type": rng.choice(DOC_TYPES),
            "tags": sorted(rng.sample(DOC_TAGS, k)),
            "score": rng.randrange(1000),
            "status": "archived" if archived else "active",
            "v": version,
        },
        separators=(",", ":"),
    )


def on_map(meta, doc):
    """The workload's user map: one composite key (type, tag, score) per tag,
    nothing for an archived document (the WHERE-false case)."""
    import json as _json

    body = _json.loads(doc["body"])
    if body.get("status") == "archived":
        return []
    return [(body["type"], t, body["score"]) for t in body["tags"]]


def cdc_documents(seed: int, n_docs: int) -> list[tuple]:
    """The backfill snapshot: ``(doc_id, seq, op, body)`` rows, seq 0."""
    rng = random.Random(f"docs-{seed}")
    return [
        (i, 0, "upsert", doc_body(rng, rng.random() < ARCHIVED_SHARE, 0))
        for i in range(n_docs)
    ]


class CdcStream:
    """Deterministic change batches over the backfilled documents. Batch ``b``
    depends only on (seed, b), so a run may stop after any batch."""

    def __init__(self, seed: int, n_docs: int, batch_size: int):
        self.seed, self.n_docs, self.batch_size = seed, n_docs, batch_size
        perm = list(range(n_docs))
        random.Random(f"perm-{seed}").shuffle(perm)
        self.perm = perm

    def batch(self, b: int) -> list[tuple]:
        rng = random.Random(f"batch-{self.seed}-{b}")
        ops = [o for o, _ in OP_MIX]
        weights = [w for _, w in OP_MIX]
        rows = []
        for j in range(self.batch_size):
            seq = 1 + b * self.batch_size + j
            op = rng.choices(ops, weights=weights)[0]
            if op.startswith("upsert") and rng.random() < INSERT_SHARE:
                doc = self.n_docs + b * self.batch_size + j  # a fresh doc
            else:
                doc = self.perm[int(self.n_docs * rng.random() ** SKEW)]
            if op.startswith("upsert"):
                body = doc_body(rng, op == "upsert_archived", seq)
                rows.append((doc, seq, "upsert", body))
            else:
                rows.append((doc, seq, op, None))
        return rows


# -- index_serve ----------------------------------------------------------------

#: key_0 value types (collation classes) and their shares
KEY_MIX = (
    ("missing", 0.02),
    ("false", 0.025),
    ("true", 0.025),
    ("int", 0.25),
    ("float", 0.13),
    ("string", 0.30),
    ("array", 0.15),
    ("object", 0.10),
)
N_GROUPS = 16
SERVE_SCHEMA = "doc_id BIGINT, seq BIGINT, op STRING, k0 STRING, grp STRING, amt BIGINT"


def _key_value(rng: random.Random):
    kind = rng.choices([k for k, _ in KEY_MIX], weights=[w for _, w in KEY_MIX])[0]
    if kind == "missing":
        return None  # SQL NULL key part: the collation's MISSING
    if kind in ("false", "true"):
        return json.dumps(kind == "true")
    if kind == "int":
        return json.dumps(rng.randrange(-500, 5000))
    if kind == "float":
        return json.dumps(rng.randrange(-50000, 500000) / 100 + 0.005)
    if kind == "string":
        n = rng.randrange(1, 6)
        return json.dumps("".join(rng.choice("abcdefghij") for _ in range(n)))
    if kind == "array":
        return json.dumps(
            [rng.choice([rng.randrange(10), rng.choice("xyz")]) for _ in range(rng.randrange(1, 4))]
        )
    return json.dumps(
        {"a": rng.randrange(20), "b": rng.choice("pqr")}, separators=(",", ":")
    )


def serve_item(rng: random.Random, doc: int, seq: int) -> tuple:
    return (
        doc,
        seq,
        "upsert",
        _key_value(rng),
        f"g{rng.randrange(N_GROUPS):02d}",
        rng.randrange(1, 10_000),
    )


#: (k0, grp, amt) of items added after the ``n`` seeded ones in every run,
#: whatever the seed, and never written: key part 0 always spans ``false``
#: (the least JSON value present) and a string (JSON text that sorts first
#: byte-wise), so key-range answers differ between collation and text order
SERVE_ANCHORS = (("false", "g00", 1), ('"zz"', "g00", 1))


def serve_items(seed: int, n: int) -> list[tuple]:
    """``n`` seeded items with doc ids ``0..n-1``, then the anchors."""
    rng = random.Random(f"items-{seed}")
    items = [serve_item(rng, i, 0) for i in range(n)]
    return items + [(n + j, 0, "upsert", *a) for j, a in enumerate(SERVE_ANCHORS)]


def serve_write(seed: int, w: int, live_ids: list[int], next_id: int, size: int) -> list[tuple]:
    """Write batch ``w``: updates and deletes of live items plus inserts."""
    rng = random.Random(f"write-{seed}-{w}")
    rows = []
    for j in range(size):
        seq = 1 + w * size + j
        r = rng.random()
        if r < 0.25:
            rows.append(serve_item(rng, next_id + j, seq))
        elif r < 0.75:
            rows.append(serve_item(rng, rng.choice(live_ids), seq))
        else:
            rows.append((rng.choice(live_ids), seq, "delete", None, None, None))
    return rows


# -- query_suite -------------------------------------------------------------------

WORDS = (
    "a the data row column table key value part line query join merge sort "
    "scan filter group agg window hash order batch stream spark vector big "
    "small fast slow customer"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")

#: table sizes (rows) — the shape of the engine's sf0.01 test data
SUITE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def suite_tables(seed: int, out_dir: Path) -> dict[str, int]:
    """Write the ten engine tables as parquet under ``out_dir``; returns row
    counts. Every value domain mirrors the engine's test data: two-decimal
    money, day-resolution dates, µs event timestamps, 64-d unit embeddings
    in ten weak clusters, 30-word documents with 5 % near-duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = SUITE_ROWS
    out_dir.mkdir(parents=True, exist_ok=True)
    tabs: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()
    tabs["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    tabs["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    tabs["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    tabs["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tabs["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": rng.choice(names, n["part"]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    days = np.timedelta64(1, "D")
    tabs["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": day0 + rng.integers(0, 2400, n["orders"]) * days,
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    tabs["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": day0 + rng.integers(0, 2500, nl) * days,
        }
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, ne)
    ) * np.timedelta64(1, "us")
    tabs["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].removesuffix(" dup")
            texts.append(src + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tabs["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(size=(nv, 64)) + 1.2 * centers[labels] * np.sqrt(64) / 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, t in tabs.items():
        pq.write_table(t, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tabs.items()}
