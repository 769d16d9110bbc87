"""Seeded inputs for the benchmark.

Everything the engine receives during a run comes from here, derived
from the ``--seed`` alone:

- ``write_tables``: the TPC-H-style source tables the engine derives
  its namespace, container and corpus planes from (same schemas and
  value laws as the engine's test data, at roughly sf0.01);
- ``serve_stream``: the Recon/S3 request stream, Zipf-skewed across
  volume, bucket and prefix;
- ``cdc_batches``: PUT/UPDATE/DELETE deltas over existing and new keys,
  concentrated on a few ``(volume, bucket)`` partitions.

The generators are pure numpy/pyarrow so that input generation costs
no Spark work and cannot depend on the engine under test.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64
N_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUNS = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small customer query big stream "
    "filter group vector"
).split()

# the namespace the engine derives from lineitem (model.om_keys):
# volume = vol_<returnflag>, bucket = bkt_<linestatus>,
# key = dir<orderkey % 7>/sub<partkey % 5>/f_...
VOLUMES = ["vol_a", "vol_n", "vol_r"]
BUCKETS = ["bkt_f", "bkt_o"]
N_DIRS = 7
N_SUBS = 5

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten source tables for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    })
    partkeys = np.arange(N_PARTS)
    retail = np.round(900.0 + (partkeys % 1000) * 0.1, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(partkeys, pa.int64()),
        "p_name": [
            f"{a} {n}"
            for a, n in zip(rng.choice(ADJECTIVES, N_PARTS), rng.choice(NOUNS, N_PARTS))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": retail,
    })

    d0 = _days(dt.datetime(1995, 1, 1))
    d1 = _days(dt.datetime(2001, 8, 1))
    orderdate = rng.integers(d0, d1 + 1, N_ORDERS)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts_us(orderdate),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })

    lines = rng.integers(1, 8, N_ORDERS)
    orderkey = np.repeat(np.arange(N_ORDERS), lines)
    linenumber = np.concatenate([np.arange(1, n + 1) for n in lines])
    n = len(orderkey)
    partkey = rng.integers(0, N_PARTS, n)
    qty = rng.integers(1, 51, n).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.9, 3.3, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts_us(orderdate[orderkey] + rng.integers(1, 122, n)),
    })

    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    _write(out_dir, "events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [
        " ".join(rng.choice(WORDS, rng.integers(8, 100)))
        for _ in range(N_DOCS)
    ]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (N_VECS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def zipf_choice(rng: np.random.Generator, items: list, s: float = 1.2):
    """Pick one of ``items`` with probability proportional to 1/rank^s."""
    w = 1.0 / np.arange(1, len(items) + 1) ** s
    return items[rng.choice(len(items), p=w / w.sum())]


SERVE_OPS = (
    "list_keys",
    "list_objects_v2",
    "lookup_key",
    "list_status",
    "containers_keys",
    "namespace_summary",
    "unhealthy_containers",
    "datanode_usage",
)
# The request mix is uniform over the operations, and a listing follows
# its continuation token for 1, 3 or 5 pages, equally often. Both
# are assumptions, not a measured Recon/S3 traffic mix; no public trace
# gives one. A cycle holds CYCLE requests of each operation in turn, and
# every shape below (prefix depth, page size, page count, filter) has
# period CYCLE, so every cycle of every seed asks for the same mix of
# work. Seeds vary every parameter, never the mix.
CYCLE = 3
PAGES = (1, 3, 5)
HEALTH_STATES = (None, "UNDER_REPLICATED", "MISSING")


def serve_stream(seed: int, row_keys: list[str]):
    """Endless cycles of request descriptors (a generator). ``row_keys``
    lists the bootstrapped namespace; lookups draw from it (plus a share
    of misses) so that the stream, not the engine, fixes every parameter.

    The seed draws which volume, bucket, directory, key and container a
    request names (Zipf-skewed). The shape of a request cycles through
    fixed lists, so every seed asks for the same amount of work."""
    rng = np.random.default_rng([seed, 2])
    vols = [VOLUMES[i] for i in rng.permutation(len(VOLUMES))]
    bkts = [BUCKETS[i] for i in rng.permutation(len(BUCKETS))]
    dirs = [f"dir{i}" for i in rng.permutation(N_DIRS)]
    subs = [f"sub{i}" for i in rng.permutation(N_SUBS)]

    while True:
        cycle = []
        for turn in range(CYCLE):
            for op in SERVE_OPS:
                vol, bkt = zipf_choice(rng, vols), zipf_choice(rng, bkts)
                d, s = zipf_choice(rng, dirs), zipf_choice(rng, subs)
                req: dict = {"op": op}
                if op == "list_keys":
                    depth = (0, 1, 2)[turn]
                    prefix = None if depth == 0 else f"/{vol}/{bkt}/{d}/" + (f"{s}/" if depth == 2 else "")
                    # a leaf directory holds about 290 keys, so every page
                    # of a chain comes back full and each chain issues its calls
                    req.update(volume=vol, bucket=bkt, prefix=prefix,
                               max_keys=(20, 50, 50)[turn], pages=PAGES[turn])
                elif op == "list_objects_v2":
                    req.update(volume=vol, bucket=bkt, prefix=f"{d}/{s}/",
                               max_keys=(50, 20, 50)[turn], pages=PAGES[turn])
                elif op == "lookup_key":
                    if turn < CYCLE - 1:
                        row_key = row_keys[int(rng.integers(0, len(row_keys)))]
                    else:
                        row_key = f"/{vol}/{bkt}/{d}/{s}/f_missing_{int(rng.integers(0, 10**6))}"
                    req.update(row_key=row_key)
                elif op == "list_status":
                    req.update(volume=vol, bucket=bkt, dir_path=(d, f"{d}/{s}", d)[turn])
                elif op == "containers_keys":
                    req.update(container_id=int(rng.zipf(1.3) - 1) % N_PARTS, max_keys=100)
                elif op == "namespace_summary":
                    req.update(volume=vol, bucket=bkt)
                elif op == "unhealthy_containers":
                    req.update(state=HEALTH_STATES[turn])
                else:
                    req.update(count=(5, 10, 20)[turn], most_used=(True, False, True)[turn])
                cycle.append(req)
        yield cycle


def cdc_batches(seed: int, keys: list[dict], batch_size: int):
    """Endless CDC batches (a generator) in the engine's event schema
    plus the snapshot columns the MERGE writes.

    ``keys`` holds the initial namespace rows (row_key, volume, bucket,
    key, data_size, ...). Each batch touches three ``(volume, bucket)``
    partitions, the same hot one with 60% of the events; a third of the
    events create new keys, the rest update or delete existing ones
    (``old_size`` carries the size the event replaces)."""
    rng = np.random.default_rng([seed, 3])
    parts = [(v, b) for v in VOLUMES for b in BUCKETS]
    parts = [parts[i] for i in rng.permutation(len(parts))]
    live = {p: _KeySet() for p in parts}
    for k in keys:
        live[(k["volume"], k["bucket"])].put(k["row_key"], k)
    seq = 1
    t0 = dt.datetime(2024, 2, 1)
    while True:
        touched = [parts[0]] + [parts[i] for i in rng.choice(
            np.arange(1, len(parts)), 2, replace=False)]
        batch = []
        for _ in range(batch_size):
            part = touched[0] if rng.random() < 0.6 else touched[int(rng.integers(1, len(touched)))]
            vol, bkt = part
            rows = live[part]
            r = rng.random()
            size = int(rng.integers(1_000, 5_000_000))
            if r < 1 / 3 or not rows.names:
                key = (f"dir{int(rng.integers(0, N_DIRS))}/sub{int(rng.integers(0, N_SUBS))}"
                       f"/cdc_{seed}_{seq}")
                row_key = f"/{vol}/{bkt}/{key}"
                op, old = "PUT", None
                cid = int(rng.integers(0, N_PARTS))
            else:
                row_key = rows.names[int(rng.integers(0, len(rows.names)))]
                prev = rows.info[row_key]
                key, old, cid = prev["key"], int(prev["data_size"]), int(prev["container_id"])
                op = "UPDATE" if r < 0.8 else "DELETE"
                if op == "DELETE":
                    size = old
            batch.append({
                "seqno": seq,
                "op": op,
                "row_key": row_key,
                "volume": vol,
                "bucket": bkt,
                "key": key,
                "data_size": size,
                "old_size": old,
                "replication_factor": 3,
                "container_id": cid,
                "datanode_id": int(rng.integers(0, N_SUPPLIERS)),
                "creation_time": t0 + dt.timedelta(seconds=seq),
                "event_time": t0 + dt.timedelta(seconds=seq),
            })
            if op == "DELETE":
                rows.drop(row_key)
            else:
                rows.put(row_key, {"key": key, "data_size": size, "container_id": cid})
            seq += 1
        yield batch


class _KeySet:
    """Live keys of one partition: O(1) insert, delete and uniform pick."""

    def __init__(self):
        self.names: list[str] = []
        self.info: dict[str, dict] = {}
        self._pos: dict[str, int] = {}

    def put(self, name: str, info: dict) -> None:
        if name not in self._pos:
            self._pos[name] = len(self.names)
            self.names.append(name)
        self.info[name] = info

    def drop(self, name: str) -> None:
        i = self._pos.pop(name)
        last = self.names.pop()
        if last != name:
            self.names[i] = last
            self._pos[last] = i
        del self.info[name]
