"""Seeded input generation for the benchmark, with numpy and pyarrow only.

Nothing here imports the engine, so an engine change cannot change the
inputs it is measured on. Every generator takes a ``numpy`` Generator
derived from the run's ``--seed``; the same seed gives byte-identical
files, and :func:`digest` fingerprints them for the output.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 150


def rng_for(seed: int, purpose: str) -> np.random.Generator:
    """Independent stream per purpose, so adding one input never shifts
    the values of another."""
    tag = int.from_bytes(hashlib.sha256(purpose.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def hour_dir(root: str, hour: dt.datetime) -> str:
    return os.path.join(root, hour.strftime("year=%Y/month=%m/day=%d/hour=%H"))


def partition_of(hour: dt.datetime) -> str:
    return hour.strftime("%Y%m%d%H")


def datetime_of(partition: str) -> dt.datetime:
    return dt.datetime.strptime(partition, "%Y%m%d%H")


def _event_columns(rng: np.random.Generator, hour: dt.datetime, n: int, first_id: int):
    base = np.datetime64(hour.replace(tzinfo=None), "us")
    ts = np.sort(base + rng.integers(0, 3600 * 10**6, n).astype("timedelta64[us]"))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props_k": rng.integers(0, 100, n),
    }


def _csv_bytes(cols: dict) -> bytes:
    """Headerless, unquoted, tab-delimited UTF-8 lines matching
    EVENTS_SCHEMA, timestamps as ``yyyy-MM-dd HH:mm:ss.SSSSSS``."""
    ts = pc.replace_substring(
        pa.array(np.datetime_as_string(cols["ts"], unit="us")), "T", " "
    )
    props = pc.binary_join_element_wise(
        '{"k": ', pa.array(cols["props_k"]).cast(pa.string()), "}", ""
    )
    lines = pc.binary_join_element_wise(
        pa.array(cols["event_id"]).cast(pa.string()),
        ts,
        pa.array(cols["user_id"]).cast(pa.string()),
        pa.array(cols["event_type"]),
        pa.array(cols["value"]).cast(pa.string()),
        props,
        "\t",
    )
    one = pa.ListArray.from_arrays(pa.array([0, len(lines)], pa.int32()), lines)
    return (pc.binary_join(one, "\n")[0].as_py() + "\n").encode("utf-8")


def write_csv_hour(
    rng: np.random.Generator,
    root: str,
    hour: dt.datetime,
    n_rows: int,
    n_files: int,
    first_id: int,
) -> int:
    """Write one hour of events as ``n_files`` tab-CSV files under its
    zero-padded Hive directory; returns the bytes written."""
    cols = _event_columns(rng, hour, n_rows, first_id)
    d = hour_dir(root, hour)
    os.makedirs(d, exist_ok=True)
    written = 0
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = {k: v[bounds[i] : bounds[i + 1]] for k, v in cols.items()}
        data = _csv_bytes(part)
        with open(os.path.join(d, f"part-{i:05d}.csv"), "wb") as fh:
            fh.write(data)
        written += len(data)
    return written


def write_history_parquet(
    rng: np.random.Generator,
    out_dir: str,
    first_hour: dt.datetime,
    n_hours: int,
    rows_per_hour: int,
    n_files: int,
) -> None:
    """Landing-table history (``n_hours`` consecutive hours) as
    ``n_files`` parquet files of contiguous hours with a UTC-adjusted
    ``ts`` column, for the engine's sink to lay out."""
    os.makedirs(out_dir, exist_ok=True)
    frames = []
    for h in range(n_hours):
        hour = first_hour + dt.timedelta(hours=h)
        frames.append(_event_columns(rng, hour, rows_per_hour, h * rows_per_hour))
    cols = {k: np.concatenate([f[k] for f in frames]) for k in frames[0]}
    table = pa.table(
        {
            "event_id": cols["event_id"],
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": cols["user_id"],
            "event_type": cols["event_type"],
            "value": cols["value"],
            "props": pc.binary_join_element_wise(
                '{"k": ', pa.array(cols["props_k"]).cast(pa.string()), "}", ""
            ),
        }
    )
    bounds = np.linspace(0, n_hours, n_files + 1).astype(int) * rows_per_hour
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# --- catalog tables (the shapes of the repo's sf0.01 test tables) ----------

WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window group big small data vector join index".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_catalog_tables(seed: int, out_dir: str, scale: float) -> None:
    """The seven tables the catalog_keys key list reads. ``scale=1``
    matches the row counts of the sf0.01 test set."""
    os.makedirs(out_dir, exist_ok=True)

    n_nat = 25
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(n_nat, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(n_nat)],
                "n_regionkey": (np.arange(n_nat) % 5).astype(np.int32),
            }
        ),
        out_dir,
        "nation",
    )

    rng = rng_for(seed, "supplier")
    n_supp = 100
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, n_nat, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        out_dir,
        "supplier",
    )

    rng = rng_for(seed, "orders")
    n_ord = max(100, int(15000 * scale))
    days = rng.integers(0, 6 * 365, n_ord)
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, 1500, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": pa.array(
                    np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
        out_dir,
        "orders",
    )

    rng = rng_for(seed, "lineitem")
    n_li = n_ord * 4
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.datetime64("1995-01-01", "us") + rng.integers(0, 7 * 365, n_li).astype(
        "timedelta64[D]"
    )
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
        out_dir,
        "lineitem",
    )

    rng = rng_for(seed, "documents")
    n_doc = max(50, int(500 * scale))
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    _write(
        pa.table(
            {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": LANGS[rng.integers(0, len(LANGS), n_doc)],
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        out_dir,
        "documents",
    )

    rng = rng_for(seed, "embeddings")
    n_emb = max(80, int(500 * scale))
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(emb.ravel()), 64
                ).cast(pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_emb).astype(np.int32),
            }
        ),
        out_dir,
        "embeddings",
    )

    rng = rng_for(seed, "events")
    n_ev = max(1000, int(10000 * scale))
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 24 * 3600 * 10**6, n_ev).astype("timedelta64[us]")
    )
    _write(
        pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, N_USERS, n_ev).astype(np.int64),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        out_dir,
        "events",
    )


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes, in
    sorted order) — the input fingerprint printed with the results."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
