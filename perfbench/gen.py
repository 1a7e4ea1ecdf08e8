"""Seeded input generators for the benchmark. No Spark: numpy + pyarrow only,
so generating inputs never touches the engine under test.

* ``change_log`` / ``write_change_log``: a MongoDB-shaped change log in the
  engine's ``EVENT_SCHEMA`` (key space, Zipf skew, op mix and file size
  are arguments).
* ``write_tables``: the ten engine tables (TPC-H-ish star schema, events,
  documents, embeddings) at sf0.01 shape, for ``query_mix``.
* ``python3 perfbench/gen.py live ...``: the open-loop file generator of
  ``cdc_live``. It runs as its own process so it never waits on the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch microseconds
EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
OPS = np.array(["insert", "update", "delete"])

EVENT_ARROW_SCHEMA = pa.schema(
    [
        ("_id", pa.string()),
        ("operationType", pa.string()),
        ("clusterTime", pa.timestamp("us", tz="UTC")),
        ("documentKey", pa.struct([("_id", pa.int64())])),
        (
            "fullDocument",
            pa.struct(
                [
                    ("_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            ),
        ),
    ]
)


def zipf_keys(rng: np.random.Generator, n: int, key_space: int, skew: float) -> np.ndarray:
    """``n`` keys from ``[0, key_space)``; rank r has weight 1/r**skew
    (``skew=0`` is uniform). Hot ranks map to a seeded permutation of key
    ids, so hot keys spread over the hash buckets."""
    if skew <= 0:
        return rng.integers(0, key_space, n, dtype=np.int64)
    w = 1.0 / np.arange(1, key_space + 1, dtype=np.float64) ** skew
    cdf = np.cumsum(w)
    ranks = np.searchsorted(cdf, rng.random(n) * cdf[-1])
    return rng.permutation(key_space).astype(np.int64)[ranks]


def change_log(
    seed: int,
    n_events: int,
    key_space: int,
    skew: float,
    op_mix: tuple[float, float, float] = (0.20, 0.75, 0.05),
) -> dict[str, np.ndarray]:
    """Column arrays of a change log, event ``i`` carrying token ``i``.
    Four events share each clusterTime millisecond, so the token
    tiebreak of latest-per-key is exercised."""
    rng = np.random.default_rng(seed)
    return {
        "seq": np.arange(n_events, dtype=np.int64),
        "key": zipf_keys(rng, n_events, key_space, skew),
        "op": rng.choice(3, n_events, p=list(op_mix)),
        "etype": rng.integers(0, len(EVENT_TYPES), n_events),
        "value": np.round(rng.random(n_events) * 500.0, 2),
        "k": rng.integers(0, 100, n_events),
        "ts_us": BASE_US + (np.arange(n_events, dtype=np.int64) // 4) * 1000,
    }


def event_table(log: dict[str, np.ndarray], lo: int, hi: int, ts_us=None) -> pa.Table:
    """Rows ``[lo, hi)`` of ``log`` as an arrow table in the event schema;
    ``ts_us`` overrides every row's clusterTime."""
    key = pa.array(log["key"][lo:hi])
    ts = log["ts_us"][lo:hi] if ts_us is None else np.full(hi - lo, ts_us, dtype=np.int64)
    props = pa.array([f'{{"k": {k}}}' for k in log["k"][lo:hi]])
    return pa.Table.from_arrays(
        [
            pa.array([f"{i:012d}" for i in log["seq"][lo:hi]]),
            pa.array(OPS[log["op"][lo:hi]]),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.StructArray.from_arrays([key], ["_id"]),
            pa.StructArray.from_arrays(
                [key, pa.array(EVENT_TYPES[log["etype"][lo:hi]]), pa.array(log["value"][lo:hi]), props],
                ["_id", "event_type", "value", "props"],
            ),
        ],
        schema=EVENT_ARROW_SCHEMA,
    )


def write_change_log(
    out_dir: str, seed: int, n_events: int, n_files: int, key_space: int, skew: float
) -> list[str]:
    """Write the log as ``n_files`` parquet files with strictly increasing
    mtimes, so the file source consumes them in log order and the batch
    boundaries are the same on every run."""
    os.makedirs(out_dir, exist_ok=True)
    log = change_log(seed, n_events, key_space, skew)
    bounds = np.linspace(0, n_events, n_files + 1).astype(int)
    paths = []
    mtime0 = time.time() - n_files - 60
    for i in range(n_files):
        path = os.path.join(out_dir, f"log-{i:05d}.parquet")
        pq.write_table(event_table(log, bounds[i], bounds[i + 1]), path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        paths.append(path)
    return paths


# ------------------------------------------------------------- live feed --


def run_live(
    out_dir: str, seed: int, start: float, n_files: int, period: float,
    per_file: int, key_space: int, report: str,
) -> None:
    """Write file ``i`` at ``start + i * period`` (the schedule never waits
    on the engine). Each file is written under a hidden name and renamed,
    so the file source never lists a partial file; all its events carry
    clusterTime = the file's scheduled creation time. Writes how late
    each rename ran to ``report``."""
    log = change_log(seed, n_files * per_file, key_space, skew=0.0)
    late_ms = []
    for i in range(n_files):
        due = start + i * period
        table = event_table(log, i * per_file, (i + 1) * per_file, ts_us=int(due * 1e6))
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(out_dir, f".live-{i:05d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(out_dir, f"live-{i:05d}.parquet"))
        late_ms.append((time.time() - due) * 1000.0)
    with open(report, "w") as f:
        json.dump({"late_ms": late_ms}, f)


# ---------------------------------------------------------- engine tables --

_WORDS = (
    "a the key value row table part hash scan slow fast merge batch spark line sort "
    "window agg join small big data order column query customer stream filter group vector"
).split()


def _ts_ms(days: np.ndarray, base: str) -> pa.Array:
    ms = np.datetime64(base, "ms") + days.astype("timedelta64[D]").astype("timedelta64[ms]")
    return pa.array(ms, pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(sf_dir: str, seed: int, scale: int = 10) -> None:
    """The ten engine tables with the column types of FIXTURES.md §A.
    ``scale=10`` gives sf0.01 row counts (lineitem 60k)."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    n_li, n_ev, n_doc = 6000 * scale, 1000 * scale, 500
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    pick = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])  # noqa: E731

    tables = {
        "region": {
            "r_regionkey": i32(np.arange(5)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": i64(np.arange(n_part)),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(
                    np.array(["small", "red", "blue", "green", "large", "steel", "brass", "tin"])[rng.integers(0, 8, n_part)],
                    np.array(["ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "spring"])[rng.integers(0, 8, n_part)],
                )]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(["ECONOMY", "MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
    }
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_ms(odays, "1995-01-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    first = np.searchsorted(l_ord, l_ord, side="left")
    tables["lineitem"] = {
        "l_orderkey": i64(l_ord),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(np.arange(n_li) - first + 1),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _ts_ms(odays[l_ord] + rng.integers(1, 122, n_li), "1995-01-01"),
    }
    ev_ns = np.cumsum(rng.integers(1_000_000, 520_000_000_000, n_ev)) + BASE_US * 1000
    tables["events"] = {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ev_ns, pa.timestamp("ns")),
        "user_id": i64(rng.integers(0, 15 * scale, n_ev)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 80))]) for _ in range(n_doc)]
    tables["documents"] = {
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts]),
    }
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_doc, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": i64(np.arange(n_doc)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    live = sub.add_parser("live", help="open-loop change-file generator")
    live.add_argument("--dir", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    live.add_argument("--files", type=int, required=True)
    live.add_argument("--period", type=float, required=True)
    live.add_argument("--per-file", type=int, required=True)
    live.add_argument("--key-space", type=int, required=True)
    live.add_argument("--report", required=True)
    a = ap.parse_args()
    run_live(a.dir, a.seed, a.start, a.files, a.period, a.per_file, a.key_space, a.report)


if __name__ == "__main__":
    main()
