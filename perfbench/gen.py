"""Deterministic input generators for the benchmark.

Everything here is a pure function of a seed and a size: the same seed gives
byte-identical wire records and identical parquet tables, so two commits
measured with the same seed provably see the same input (`digest()` goes in
the payload).

Consumer inputs are Kinesis-shaped records `(shard_id, sequence_number,
data)` in the encoding `fixtures.encode_records` uses: gzipped
content-operation JSON, a share of them gzipped pre-signed-URL pointers to
gzipped payloads in an object directory, and a small share that cannot be
decoded (expired pointer, corrupt gzip, wrong envelope type).

Batch inputs are the ten catalog tables with the column names, types and
value domains of the fixture tables the registry queries are written
against (catalog.TABLES), generated at a chosen scale factor.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kinesis_customer_sample_spark.fixtures import RFC3339, wire_seq

# Vocabulary of the documents fixture (bodies reuse it).
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_TYPES = ("story", "gallery", "video", "redirect")
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, the events fixture's start
URL_PREFIX = "https://objects.bench.test/ops/"
POINTER_FRAC = 0.10  # records spilled to the object store (the reference's ~10 %)
BAD_FRAC = 0.01  # records that cannot be decoded
SHARDS = 4  # a document's records all go to shard (key % SHARDS)


def _gz(b: bytes) -> bytes:
    # mtime=0: gzip headers otherwise embed the wall clock
    return gzip.compress(b, compresslevel=1, mtime=0)


class LocalObjectStore:
    """The pure `fetch=` for decode_records: a pre-signed URL maps to one
    file in a local object directory; a missing object raises, as an
    expired URL does."""

    def __init__(self, root: str):
        self.root = root

    def __call__(self, url: str) -> bytes:
        name = url[len(URL_PREFIX):].split("?", 1)[0]
        with open(os.path.join(self.root, name), "rb") as f:
            return f.read()


@dataclass(frozen=True)
class ConsumerSpec:
    """Shape of one consumer workload's operation stream."""

    n_keys: int  # distinct document ids
    zipf_s: float  # key popularity exponent (0 = uniform)
    body_words: tuple[int, int]  # min/max words of body text
    published_frac: float
    delete_frac: float
    late_frac: float  # records whose event time is older than their arrival


@dataclass
class Op:
    """One generated content operation, as the reference fold sees it."""

    org: str
    doc_id: str
    branch: str
    published: bool
    operation: str
    event_us: int
    body: dict | None


@dataclass
class Records:
    """Wire records plus the ground truth the correctness gates need."""

    rows: list[tuple[str, str, bytes]]
    ops: list[Op | None]  # ops[i] is None when record i cannot be decoded
    objects: dict[str, bytes] = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256()
        for shard, seq, data in self.rows:
            h.update(shard.encode())
            h.update(seq.encode())
            h.update(len(data).to_bytes(4, "little"))
            h.update(data)
        for name in sorted(self.objects):
            h.update(name.encode())
            h.update(self.objects[name])
        return h.hexdigest()[:16]


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks**-s
    p /= p.sum()
    # a seeded permutation so hot keys are spread over the id space
    return rng.permutation(n_keys)[rng.choice(n_keys, size=n, p=p)]


def _event_seconds(rng: np.random.Generator, n: int, late_frac: float) -> np.ndarray:
    """Distinct event times (seconds) in arrival order: sorted uniform draws
    over the events fixture's month, with `late_frac` of them swapped with
    an earlier arrival so they arrive late. Distinct times keep newest-wins
    free of ties."""
    span = 30 * 86_400
    secs = np.sort(rng.choice(max(span, 2 * n), size=n, replace=False)) + T0
    for i in np.flatnonzero(rng.random(n) < late_frac):
        j = max(0, i - int(rng.integers(1, 200)))
        secs[i], secs[j] = secs[j], secs[i]
    return secs


class _WordPool:
    """Pre-drawn word indices, sliced per body (one RNG call per stream
    instead of two per record)."""

    def __init__(self, rng: np.random.Generator, n_words: int):
        self.idx = rng.integers(0, len(WORDS), size=n_words).tolist()
        self.pos = 0

    def take(self, k: int) -> str:
        out = " ".join(WORDS[i] for i in self.idx[self.pos : self.pos + k])
        self.pos += k
        return out


def consumer_records(seed: int, n: int, spec: ConsumerSpec) -> Records:
    """`n` wire records of a content-operation stream shaped by `spec`."""
    rng = np.random.default_rng(seed)
    keys = _zipf_keys(rng, n, spec.n_keys, spec.zipf_s)
    secs = _event_seconds(rng, n, spec.late_frac)
    u = rng.random((n, 6))
    lo, hi = spec.body_words
    head_len = rng.integers(3, 9, size=n).tolist()
    text_len = rng.integers(lo, hi + 1, size=n).tolist() if hi else [0] * n
    pool = _WordPool(rng, sum(head_len) + sum(text_len))
    rows: list[tuple[str, str, bytes]] = []
    ops: list[Op | None] = []
    objects: dict[str, bytes] = {}
    for i in range(n):
        k = int(keys[i])
        doc_type = DOC_TYPES[k % len(DOC_TYPES)]
        doc_id = f"{doc_type}-{k}"
        org = "otherorg" if k % 20 == 7 else "washpost"
        branch = "exp-A" if k % 17 == 3 else "default"
        published = bool(u[i, 0] < spec.published_frac)
        verb = "delete" if u[i, 1] < spec.delete_frac else "insert"
        operation = f"{verb}-{doc_type}"
        direct = u[i, 2] < 0.7
        body = None
        if verb == "insert":
            body = {"headline": pool.take(head_len[i]), "rev": i}
            if hi:
                body["text"] = pool.take(text_len[i])
        sec = int(secs[i])
        doc = {
            "type": "content-operation",
            "organization_id": org,
            "operation": operation,
            "date": _rfc3339(sec),
            "id": doc_id,
            "branch": branch,
            "published": published,
            "created": bool(u[i, 3] < 0.3),
            "trigger": {
                "type": doc_type if direct else "image",
                "id": doc_id if direct else f"img-{k % 97}",
                "referent_update": not direct,
                "priority": "standard" if direct else "ingestion",
                "app_name": "editor" if direct else "photo-center",
            },
            "body": body,
        }
        payload = json.dumps(doc, sort_keys=True).encode()
        seq = wire_seq(i)
        shard = f"shard-{k % SHARDS}"  # Kinesis routes a partition key to one shard
        op: Op | None = Op(org, doc_id, branch, published, operation, sec * 1_000_000, body)
        bad = u[i, 4] < BAD_FRAC
        if u[i, 5] < POINTER_FRAC or (bad and i % 3 == 0):
            name = f"{i:08d}"
            if bad:  # expired pointer: the object is gone
                op = None
            else:
                objects[name] = _gz(payload)
            data = _gz(f"{URL_PREFIX}{name}?sig={seed:x}".encode())
        elif bad and i % 3 == 1:  # corrupt gzip
            data = b"\x1f\x8b\x08\x00" + payload[:16]
            op = None
        elif bad:  # wrong envelope type
            data = _gz(json.dumps({"type": "not-content-operation", "id": doc_id}).encode())
            op = None
        else:
            data = _gz(payload)
        rows.append((shard, seq, data))
        ops.append(op)
    return Records(rows, ops, objects)


def _rfc3339(sec: int) -> str:
    return time.strftime(RFC3339, time.gmtime(sec))


RECORD_ARROW_SCHEMA = pa.schema(
    [("shard_id", pa.string()), ("sequence_number", pa.string()), ("data", pa.binary())]
)


def write_record_file(
    path: str, rows: list[tuple[str, str, bytes]], mtime: float, row_groups: int = 1
) -> None:
    """One replay file for the file source; `mtime` orders files the way
    the source picks them up, and each row group can be read as its own
    partition."""
    tbl = pa.table(
        [list(c) for c in zip(*rows)] if rows else [[], [], []],
        schema=RECORD_ARROW_SCHEMA,
    )
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")  # dot files are invisible to the file source
    pq.write_table(tbl, tmp, compression="snappy",
                   row_group_size=max(1, -(-len(rows) // row_groups)))
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_objects(root: str, objects: dict[str, bytes]) -> None:
    os.makedirs(root, exist_ok=True)
    for name, blob in objects.items():
        with open(os.path.join(root, name), "wb") as f:
            f.write(blob)


# ------------------------------------------------------------ batch tables

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng, n, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size=n)).astype("datetime64[us]")


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor `sf` (sf 1 = 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = max(int(15_000 * sf), 10), int(50_000 * sf), max(int(20_000 * sf), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng.uniform(900.0, 105_000.0, n_li)),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)) + T0 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _cents(rng.exponential(50.0, n_ev)),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    pool = _WordPool(rng, 100 * n_docs)
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(pool.take(int(rng.integers(10, 101))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def write_tables(root: str, tables: dict[str, pa.Table]) -> str:
    """Write the tables as `<root>/<name>.parquet`; returns a digest of the
    table contents."""
    os.makedirs(root, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tables[name], path)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
