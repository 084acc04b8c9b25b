"""Deterministic synthetic fixture for the benchmark.

Writes the ten tables the engine's queries read (TPC-H-ish star schema,
an `events` stream table, `documents` and `embeddings`) as one parquet
file each, with the row counts, schemas and value shapes of the
engine's sf0.01 fixture: every timestamp column is a plain
`timestamp[us]`, as there.  The data depends only on `scale` and a
fixed data seed: the workload seed never reaches it, so every workload
seed reads identical tables.

Usage: python3 perfbench/gen_data.py <out_dir> [scale]
"""
import datetime
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Scale factor of the star schema and `events` (TPC-H-like: 1.0 would be
# six million lineitems); the text and vector tables have fixed sizes,
# those of the sf0.01 fixture.
DEFAULT_SCALE = 0.01
DOCUMENTS = 500
EMBEDDINGS = 500

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil", "nut", "spring", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros


def counts(scale):
    def n(base):
        return max(1, int(round(base * scale)))
    return {
        "region": 5, "nation": 25, "customer": n(150_000), "supplier": n(10_000),
        "part": n(200_000), "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": DOCUMENTS, "embeddings": EMBEDDINGS,
    }


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(scale):
    rng = np.random.default_rng(DATA_SEED)
    c = counts(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    npart = c["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    no = c["orders"]
    odays = rng.integers(0, 2405, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": ts_us(EPOCH_1995 + odays * DAY_US),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, no)]})

    nl = c["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.minimum(odays[lok] + rng.integers(1, 122, nl), 2499)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": ts_us(EPOCH_1995 + ship * DAY_US)})

    ne = c["events"]
    span = 30 * DAY_US
    ts = np.sort(rng.integers(0, span, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts_us(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = c["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # Planted near-duplicate: an earlier document plus one token.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = c["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = 0.35 * centers[labels] + rng.normal(size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def stamp(out_dir, rows):
    """Fixture identity in graft.FixtureStamp's format: per-table rows,
    bytes and md5 (over the file's md5), plus one combined hash."""
    per = {}
    for name in sorted(rows):
        data = open(os.path.join(out_dir, f"{name}.parquet"), "rb").read()
        per[name] = {"rows": rows[name], "bytes": len(data),
                     "md5": hashlib.md5(hashlib.md5(data).digest()).hexdigest()[:12]}
    combined = hashlib.md5("".join(per[n]["md5"] for n in sorted(per)).encode()).hexdigest()[:12]
    return {"hash": combined, "tables": per}


# Weeks landed as ETL input batches, one chunk per (table, week).  A week
# keeps each op's partitioned write to seven day partitions.  One orders
# week, one lineitem week and the stream tick make three op kinds: with an
# odd count the median op latency of a run falls on one kind, not between
# two.
ORDERS_WEEKS = ["1996-03-04"]
LINEITEM_WEEKS = ["1996-03-04"]
CONFIG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "configs")


def _day(ts):
    return str(ts)[:10]


def _week(start):
    return {str(datetime.date.fromisoformat(start) + datetime.timedelta(d)) for d in range(7)}


def land_etl(out_dir, tbls):
    """Pre-lands ETL input: orders weeks as JSON lines, lineitem weeks as
    untyped CSV (with a row id as unique key).  Row counts for the run
    report check are computed here, independently of the engine."""
    etl = os.path.join(out_dir, "etl")
    os.makedirs(etl, exist_ok=True)
    chunks = []
    orders = tbls["orders"].to_pylist()
    lineitem = tbls["lineitem"].to_pylist()
    for week in ORDERS_WEEKS:
        days = _week(week)
        rel = f"orders_json/{week}/part-0.json"
        rows = [r for r in orders if _day(r["o_orderdate"]) in days]
        path = os.path.join(etl, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(r, o_orderdate=_day(r["o_orderdate"]))) + "\n")
        valid = sum(1 for r in rows if r["o_orderkey"] is not None and r["o_custkey"] is not None)
        chunks.append({"config": "orders_json", "name": week, "path": os.path.dirname(rel),
                       "rows": len(rows), "valid_rows": valid, "bytes": os.path.getsize(path)})
    for week in LINEITEM_WEEKS:
        days = _week(week)
        rel = f"lineitem_csv/{week}/part-0.csv"
        cols = ["l_id"] + tbls["lineitem"].column_names
        rows = [dict(r, l_id=i) for i, r in enumerate(lineitem) if _day(r["l_shipdate"]) in days]
        path = os.path.join(etl, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(",".join(cols) + "\n")
            for r in rows:
                f.write(",".join(_day(r[c]) if c == "l_shipdate" else str(r[c]) for c in cols) + "\n")
        valid = sum(1 for r in rows if r["l_orderkey"] is not None)
        chunks.append({"config": "lineitem_csv", "name": week, "path": os.path.dirname(rel),
                       "rows": len(rows), "valid_rows": valid, "bytes": os.path.getsize(path)})
    for cfg in ("orders_json", "lineitem_csv"):
        with open(os.path.join(CONFIG_DIR, f"{cfg}.yaml")) as src, \
                open(os.path.join(etl, f"{cfg}.yaml"), "w") as dst:
            dst.write(src.read())
    with open(os.path.join(etl, "manifest.json"), "w") as f:
        json.dump({"chunks": chunks}, f, indent=1)


# Documents of one streaming-curation tick.  The set is fixed; the
# workload seed only orders the batch, so the curated output is the same
# for every seed.
STREAM_DOCS = 160


def land_stream(out_dir, tbls):
    """Lands the streaming-curation corpus as one parquet dir (the batch
    twin reads it whole) next to the curation config."""
    stream = os.path.join(out_dir, "stream")
    os.makedirs(os.path.join(stream, "landing"), exist_ok=True)
    docs = tbls["documents"].slice(0, STREAM_DOCS)
    pq.write_table(docs, os.path.join(stream, "landing", "part-0.parquet"))
    with open(os.path.join(CONFIG_DIR, "stream_curation.yaml")) as src, \
            open(os.path.join(stream, "curation.yaml"), "w") as dst:
        dst.write(src.read())


def generate(out_dir, scale=DEFAULT_SCALE):
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    tbls = tables(scale)
    for name, tbl in tbls.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    with open(os.path.join(out_dir, "fixture_stamp.json"), "w") as f:
        json.dump(stamp(out_dir, rows), f, sort_keys=True)
    land_etl(out_dir, tbls)
    land_stream(out_dir, tbls)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_SCALE)
