"""Seeded input generators. Every input the engine sees comes from here.

The same seed gives byte-identical inputs. Tables mirror the shapes of the
engine's analytics catalog (TPC-H-style star schema plus ``events``), the
IoT-23 / Zeek conn.log CSV is written in the reference's raw format, and the
serving, MERGE/DELETE and request-order streams are drawn from the same
seed. Generators also return the true values the checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# IoT-23 label taxonomy (benign plus the malicious detailed labels).
DETAILED_LABELS = [
    "Attack", "C&C", "DDoS", "FileDownload", "HeartBeat", "Mirai", "Okiru",
    "PartOfAHorizontalPortScan", "Torii",
]
PROTOS = ["tcp", "udp", "icmp"]
SERVICES = ["-", "", "http", "dns", "ssl", "ssh", "dhcp", "irc"]
CONN_STATES = ["S0", "SF", "OTH", "REJ", "RSTO", "RSTR", "SH", "S1"]
LOCAL_FLAGS = ["T", "F", "", "-"]
HISTORIES = ["S", "ShADad", "Dd", "ShAdDaf", "D", "C", "ShR"]

_TS_US = pa.timestamp("us")


def _days(start: dt.date, span: int, n: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(table: pa.Table, path: str) -> None:
    # One snappy row group per table, like the catalog's own parquet files.
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, sf: float, seed: int, names: tuple) -> None:
    """Write the requested catalog tables at scale factor ``sf`` as
    ``<out_dir>/<name>.parquet``. Row counts follow the catalog's
    convention (lineitem = 6M x sf, orders = 1.5M x sf, ...)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 200)
    n_user = max(int(15_000 * sf), 20)
    builders = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": lambda: pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": lambda: pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": lambda: pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(np.array(P_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(P_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": lambda: pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), 2404, n_ord, rng), _TS_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": lambda: pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), 2498, n_line, rng), _TS_US),
        }),
        "events": lambda: events_table(n_evt, n_user, rng),
    }
    for name in names:
        _write(builders[name](), os.path.join(out_dir, f"{name}.parquet"))


def events_table(n: int, n_user: int, rng) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = base + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, _TS_US),
        "user_id": rng.integers(0, n_user, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# --------------------------------------------------------------------------
# IoT-23 CSV (the reference ETL's input)
# --------------------------------------------------------------------------


def _s(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _z(a, width: int) -> pa.Array:
    return pc.utf8_lpad(_s(a), width, "0")


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _durations(n: int, rng) -> tuple[pa.Array, np.ndarray]:
    """Duration strings in every shape the reference parser meets, with the
    value the reference semantics assign to each (NaN = NULL)."""
    kind = rng.choice(5, n, p=[0.55, 0.2, 0.1, 0.1, 0.05])
    days = rng.integers(0, 2, n)
    hh, mm, ss = rng.integers(0, 24, n), rng.integers(0, 60, n), rng.integers(0, 60, n)
    frac = rng.integers(0, 1_000_000, n)
    cents = rng.integers(0, 60_000, n)  # plain seconds with two decimals
    hms = _cat(_z(hh, 2), ":", _z(mm, 2), ":", _z(ss, 2))
    texts = [
        _cat(_s(days), " days ", hms, ".", _z(frac, 6)),  # canonical
        _cat(_s(cents // 100), ".", _z(cents % 100, 2)),  # plain seconds
        pa.array(["-"] * n),  # Zeek unset marker -> NULL at scan
        _cat("0 days ", hms),  # no fractional dot -> NULL (quirk 2)
        _cat("0 days 00:", _z(mm, 2), ":", _z(ss, 2), ".", _s(frac % 10)),  # quirk 1
    ]
    text = texts[4]
    for k in range(4):
        text = pc.if_else(pa.array(kind == k), texts[k], text)
    truth = np.select(
        [kind == 0, kind == 1, kind == 4],
        [days * 86400.0 + hh * 3600.0 + mm * 60.0 + ss + frac / 1e6,
         cents / 100.0,
         mm * 60.0 + ss + (frac % 10) / 1e6],
        np.nan,
    )
    return text, truth


def write_iot_csv(out_dir: str, n_rows: int, seed: int, n_files: int = 4) -> dict:
    """Write ``n_rows`` Zeek conn.log flows as ``n_files`` CSV files and
    return the truth the ETL output is checked against."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = n_rows
    alphabet = np.frombuffer(
        b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789", dtype="S1"
    )
    body = alphabet[rng.integers(0, len(alphabet), (n, 17))].view("S17").ravel()
    # the row index keeps uids unique whatever the draw
    uid = _cat("C", pa.array(body.astype("U17")), pc.cast(pa.array(np.arange(n)), pa.string()))
    durations, dur_truth = _durations(n, rng)
    malicious = rng.random(n) < 0.6
    service = np.array(SERVICES)[rng.integers(0, len(SERVICES), n)]
    local_orig = np.array(LOCAL_FLAGS)[rng.integers(0, 4, n)]
    null_bytes = rng.random(n) < 0.15
    pk = rng.integers(0, 500, (n, 4))

    def ip(prefix: str) -> pa.Array:
        q = rng.integers(0, 256, (n, 2))
        return _cat(prefix, _s(q[:, 0]), ".", _s(q[:, 1]))

    table = pa.table({
        "uid": uid,
        "id.orig_h": ip("192.168."),
        "id.orig_p": rng.integers(1, 65536, n),
        "id.resp_h": ip("10.0."),
        "id.resp_p": rng.integers(1, 1024, n),
        "proto": np.array(PROTOS)[rng.integers(0, 3, n)],
        "service": service,
        "duration": durations,
        "orig_bytes": pc.if_else(pa.array(null_bytes), "-", _s(rng.integers(0, 100_000, n))),
        "resp_bytes": rng.integers(0, 50_000, n),
        "conn_state": np.array(CONN_STATES)[rng.integers(0, len(CONN_STATES), n)],
        "local_orig": local_orig,
        "local_resp": np.array(LOCAL_FLAGS)[rng.integers(0, 4, n)],
        "missed_bytes": np.zeros(n, dtype=np.int64),
        "history": np.array(HISTORIES)[rng.integers(0, len(HISTORIES), n)],
        "orig_pkts": pk[:, 0],
        "orig_ip_bytes": pk[:, 0] * 40 + pk[:, 1],
        "resp_pkts": pk[:, 2],
        "resp_ip_bytes": pk[:, 2] * 40 + pk[:, 3],
        "tunnel_parents": pa.array(["-"] * n),
        "label": np.where(malicious, "Malicious", "Benign"),
        "detailed-label": np.where(
            malicious, np.array(DETAILED_LABELS)[rng.integers(0, 9, n)], "-"
        ),
    })
    n_bytes = 0
    per_file = -(-n // n_files)
    opts = pacsv.WriteOptions(include_header=False, quoting_style="none")
    for f in range(n_files):
        path = os.path.join(out_dir, f"conn_{f:02d}.log.csv")
        with open(path, "wb") as fh:
            fh.write((",".join(table.column_names) + "\n").encode())
            pacsv.write_csv(table.slice(f * per_file, per_file), fh, write_options=opts)
        n_bytes += os.path.getsize(path)
    labels, label_counts = np.unique(np.where(malicious, "Malicious", "Benign"), return_counts=True)
    return {
        "rows": n,
        "bytes": n_bytes,
        "uid": uid,
        "duration_sec": dur_truth,
        "label_counts": dict(zip(labels.tolist(), label_counts.tolist())),
        # reference quirk 3: only NULL ('-') and '' map to false
        "local_orig_true": int(np.isin(local_orig, ["T", "F"]).sum()),
        # '' and '-' both become NULL
        "service_nonnull": int((~np.isin(service, ["", "-"])).sum()),
        "orig_bytes_null": int(null_bytes.sum()),
    }


def write_flows_parquet(path: str, n_rows: int, seed: int) -> None:
    """The ETL output as the serving layer sees it: transformed IoT-23 flows
    (underscore column names, ``duration_sec``, label columns), written
    directly so the serving workload needs no ingest to stage it."""
    rng = np.random.default_rng([seed, 3])
    malicious = rng.random(n_rows) < 0.6
    nulls = rng.random(n_rows) < 0.2
    dur = np.where(nulls, np.nan, np.round(rng.exponential(30.0, n_rows), 6))
    table = pa.table({
        "uid": [f"F{i:010d}" for i in range(n_rows)],
        "id_orig_h": np.char.add("192.168.0.", rng.integers(0, 256, n_rows).astype(str)),
        "id_orig_p": rng.integers(1, 65536, n_rows).astype(np.int32),
        "id_resp_h": np.char.add("10.0.0.", rng.integers(0, 256, n_rows).astype(str)),
        "id_resp_p": rng.integers(1, 1024, n_rows).astype(np.int32),
        "proto": np.array(PROTOS)[rng.integers(0, 3, n_rows)],
        "conn_state": np.array(CONN_STATES)[rng.integers(0, len(CONN_STATES), n_rows)],
        "orig_bytes": rng.integers(0, 100_000, n_rows).astype(np.int64),
        "resp_bytes": rng.integers(0, 50_000, n_rows).astype(np.int64),
        "label": np.where(malicious, "Malicious", "Benign"),
        "detailed_label": np.where(
            malicious, np.array(DETAILED_LABELS)[rng.integers(0, 9, n_rows)], "-"
        ),
        "duration_sec": pa.array(dur, pa.float64(), from_pandas=True),
    })
    _write(table, path)


# --------------------------------------------------------------------------
# ACID upsert stream
# --------------------------------------------------------------------------


def acid_rows(keys: np.ndarray, version: int, rng) -> pa.Table:
    n = len(keys)
    return pa.table({
        "k": keys.astype(np.int64),
        "v": np.round(rng.uniform(0.0, 1000.0, n), 2),
        "tag": np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n)],
        "ver": np.full(n, version, dtype=np.int64),
    })


def acid_batches(seed: int, base_rows: int, batch_rows: int, n_batches: int):
    """The owned table's initial rows plus ``n_batches`` MERGE batches, each
    about half updates of live keys and half inserts of new keys."""
    rng = np.random.default_rng([seed, 4])
    base = acid_rows(np.arange(base_rows), 0, rng)
    next_key = base_rows
    batches = []
    for b in range(n_batches):
        n_upd = batch_rows // 2
        upd = rng.choice(next_key, n_upd, replace=False)
        ins = np.arange(next_key, next_key + batch_rows - n_upd)
        next_key += len(ins)
        keys = np.sort(np.concatenate([upd, ins]))
        batches.append(acid_rows(keys, b + 1, rng))
    return base, batches, rng


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` as one zstd parquet file: the source-bytes base of
    the write-amplification ratio."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue().size
