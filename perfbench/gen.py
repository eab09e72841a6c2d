"""Seeded input generators. The same seed gives the same inputs; the
engine only ever receives what these functions return.

- ``Hierarchy``: projects, collections, objects and object groups with
  grammar-legal ids (lower-case alphanumerics, like the reference's
  ULIDs: no ``.`` and never a discriminator token).
- ``EmitGen``: single-event emit requests in the raw-emit shape, a
  seeded mix of PROJECT / COLLECTION / OBJECT / OBJECTGROUP that route
  to 1-3 subjects each.
- ``headline_tables``: the star schema and side tables the registry
  queries read, written as parquet.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

from perfbench import model

_ALPHABET = "0123456789abcdefghjkmnpqrstvwxyz"
# the engine's emit secret; every generated request carries it
TOKEN = "perfbench-token"


def _id(rng: random.Random, n: int = 10) -> str:
    return "".join(rng.choice(_ALPHABET) for _ in range(n))


@dataclass
class Collection:
    id: str
    objects: list[tuple[str, str]]  # (shared object id, object id)
    group_shares: list[str]  # shared object-group ids
    groups: list[str]  # object-group ids


class Hierarchy:
    def __init__(self, rng: random.Random, projects: int, collections: int,
                 objects: int, groups: int):
        self.projects = [_id(rng) for _ in range(projects)]
        self.collections: dict[str, list[Collection]] = {}
        for p in self.projects:
            self.collections[p] = [
                Collection(
                    id=_id(rng),
                    objects=[(_id(rng), _id(rng)) for _ in range(objects)],
                    group_shares=[_id(rng) for _ in range(groups)],
                    groups=[_id(rng) for _ in range(groups)],
                )
                for _ in range(collections)
            ]

    def filters(self, rng: random.Random, level: int, subtree: bool) -> str:
        """A canonical query subject at hierarchy ``level`` (1-4) of a
        random node."""
        p = rng.choice(self.projects)
        c = rng.choice(self.collections[p])
        build = model.subtree if subtree else model.exact
        if level == model.PROJECT:
            return build([p])
        if level == model.COLLECTION:
            return build([p, c.id])
        if level == model.OBJECT:
            shared, obj = rng.choice(c.objects)
            return build([p, c.id, shared, obj])
        return build([p, c.id, rng.choice(c.group_shares), rng.choice(c.groups)],
                     object_group=True)


# resource kind -> requests per block of 20 (the fan-out mix)
MIX = {model.PROJECT: 3, model.COLLECTION: 4, model.OBJECT: 8, model.OBJECTGROUP: 5}


class _Deck:
    """Draws from a seeded shuffle of ``items``, reshuffled when used
    up: every block of ``len(items)`` draws has exactly the stated
    composition, so short runs see the same mix as long ones."""

    def __init__(self, rng: random.Random, items: list):
        self.rng, self.items, self.left = rng, items, []

    def draw(self):
        if not self.left:
            self.left = list(self.items)
            self.rng.shuffle(self.left)
        return self.left.pop()


class EmitGen:
    """Emit requests for one hierarchy. ``MIX`` gives the kinds per
    block and ``project_weights`` the projects per block; OBJECT
    requests carry 0-2 object groups and OBJECTGROUP requests 1-3, in
    equal shares, so each routes to 1-3 subjects."""

    def __init__(self, seed: int, hierarchy: Hierarchy,
                 project_weights: list[int] | None = None):
        self.rng = random.Random(seed)
        self.h = hierarchy
        weights = project_weights or [1] * len(hierarchy.projects)
        self._kinds = _Deck(self.rng, [k for k, n in MIX.items() for _ in range(n)])
        self._projects = _Deck(
            self.rng, [p for p, n in zip(hierarchy.projects, weights) for _ in range(n)]
        )
        self._object_groups = {model.OBJECT: _Deck(self.rng, [0, 1, 2]),
                               model.OBJECTGROUP: _Deck(self.rng, [1, 2, 3])}

    def request(self, emit_id: int) -> dict:
        rng = self.rng
        kind = self._kinds.draw()
        p = self._projects.draw()
        c = rng.choice(self.h.collections[p])
        rel = {"project": p, "collection": None, "shared_object": None, "object_groups": []}
        if kind == model.PROJECT:
            rid = p
        elif kind == model.COLLECTION:
            rid = c.id
        else:
            n = min(self._object_groups[kind].draw(), len(c.group_shares))
            groups = [{"shared_object_group_id": s} for s in rng.sample(c.group_shares, n)]
            if kind == model.OBJECT:
                shared, rid = rng.choice(c.objects)
                rel.update(collection=c.id, shared_object=shared, object_groups=groups)
            else:
                rid = rng.choice(c.groups)
                rel.update(collection=c.id, object_groups=groups)
        return {
            "emit_id": emit_id,
            "token": TOKEN,
            "event_resource": kind,
            "resource_id": rid,
            "event_type": 6,  # EventType All
            "relations": [rel],
        }


def raw_emits_frame(spark, requests: list[dict], with_ts: bool):
    """The emit requests as the DataFrame ``emit_events`` takes; ``ts``
    (the generator's creation stamp, epoch seconds) is carried when
    asked for and passes through routing into the log."""
    from pyspark.sql import types as T

    from aoseventstreamer_spark import schemas

    schema = schemas.RAW_EMITS_SCHEMA
    if with_ts:
        schema = T.StructType(schema.fields + [T.StructField("ts", T.TimestampType())])
        import datetime

        rows = [
            {**r, "ts": datetime.datetime.fromtimestamp(r["ts"], datetime.timezone.utc)}
            for r in requests
        ]
    else:
        rows = requests
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# headline registry inputs
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def headline_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables the headline queries read; returns row counts.

    ``scale`` 1.0 is the size of the sf0.01 test tables (TESTDATA.md): 10k
    events over 150 users, 1.5k customers, 15k orders, 60k line items,
    500 documents (about 5% near-duplicates) and 500 unit embeddings of
    dimension 64 in 10 labelled clusters.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev = int(10_000 * scale)
    n_users = max(10, int(150 * scale))
    n_cust = int(1_500 * scale)
    n_ord = int(15_000 * scale)
    n_li = int(60_000 * scale)
    n_doc = int(500 * scale)
    n_vec = int(500 * scale)
    counts = {}

    def write(name, cols: dict):
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows

    us = 1_000_000
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * us, n_ev))
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(segments, n_cust)),
    })
    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    odate = d0 + rng.integers(0, 2405, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate * 86400 * us, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)
        ),
    })
    l_ord = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, max(1, int(2_000 * scale)), n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(100 * scale)), n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array((odate[l_ord] + rng.integers(1, 122, n_li)) * 86400 * us,
                               pa.timestamp("us")),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return counts
