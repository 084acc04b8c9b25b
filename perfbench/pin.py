"""Pins the expected result of every query op from the DuckDB oracle.

    python3 perfbench/pin.py        (from the root of a checkout)

Builds the benchmark, asks it for the oracle SQL of each query op
(`graft.queries.Registry.oracle`), runs that SQL in DuckDB over the
generated fixture and writes `perfbench/pins.json`: for each op the
row count and the order-independent content hash, rendered by the same
rules as `perfbench.Canon` on the engine side.  Re-run it whenever the
fixture generator changes.
"""
import datetime
import hashlib
import json
import os
import shutil
import sys
from decimal import ROUND_HALF_EVEN, Context, Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SIG = Context(prec=12, rounding=ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dec(d):
    if d == 0:
        return "0"
    return format(SIG.plus(d).normalize(SIG), "f")


def num(x):
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    return "0" if x == 0 else dec(Decimal(x))


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str(d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = 0
    for r in rows:
        s = "\u0001".join(render(r[i]) for i in order)
        h += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{h & 0xFFFFFFFFFFFFFFFF:016x}"


# Must match perfbench.SelfTest.RenderCases.
RENDER_CASES = [
    (None, "\\N"), (True, "true"), (42, "42"), (-7, "-7"), (0.0, "0"), (-0.0, "0"),
    (0.1 + 0.2, "0.3"), (1234.5, "1234.5"), (1e20, "100000000000000000000"),
    (1.0 / 3, "0.333333333333"), (2.5, "2.5"), ("a b", "a b"),
    (datetime.date(2024, 1, 31), "2024-01-31"),
    (datetime.datetime(2024, 1, 1, 0, 0, 1, 5), "1704067201000005"),
    ([1, 2], "[1,2]"),
]


def selftest():
    bad = [(v, render(v), want) for v, want in RENDER_CASES if render(v) != want]
    for v, got, want in bad:
        print(f"[selftest] FAIL: python render({v!r}) = {got}, want {want}")
    print(f"[selftest] python rendering {'PASS' if not bad else 'FAIL'}")
    return not bad


def main():
    import duckdb
    import run
    import build
    root = os.getcwd()
    classes, data = run.prepare(root)
    scratch = os.path.join(build.build_dir(root), "runs", f"pin-{os.getpid()}")
    sql_path = os.path.join(scratch, "oracle.json")
    try:
        rc, _ = run.java(root, classes, scratch, ["--dump-oracle", sql_path, "--data", data],
                         os.path.join(build.build_dir(root), "pin.log"), timeout=600)
        if rc != 0:
            sys.exit(f"oracle dump failed ({rc})")
        with open(sql_path) as f:
            oracle = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pins = {}
    for name in sorted(oracle):
        res = con.execute(oracle[name])
        cols = [c[0] for c in res.description]
        pins[name] = fingerprint(cols, res.fetchall())
        print(f"{name}: {pins[name]}", flush=True)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
