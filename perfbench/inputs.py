"""Seeded input generators for the benchmark workloads.

Everything a run reads is produced here from a seed, with NumPy and
PyArrow only (no Spark), and written under the benchmark's own work
directory. The same seed always yields byte-identical files.

- ``write_tables``: the ten analytic tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains the registered queries expect. Fixed seed:
  the analytics workload varies its query order with the run seed, not
  its data. ``documents`` is also the corpus ``run pipeline`` reads.
- ``ingest_plan``: CSV drops cut from the generated ``lineitem`` and
  ``events`` tables (one file per month / per day), PubSub push
  envelopes split into batches, and the two-task manifest.
"""

from __future__ import annotations

import base64
import csv
import datetime as dt
import functools
import hashlib
import io
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42  # the analytic tables do not vary with the run seed

_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window"]
_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    """Uniform midnight timestamps (microseconds) over ``n_days`` days."""
    base = int(dt.datetime.fromisoformat(start).replace(
        tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, n_days, size) * _DAY_US


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _publish(path: str, build) -> str:
    """Build ``path`` once: write to a temp sibling, then rename into place.
    The files are flushed to disk first, so their write-back does not
    compete with the measured engine calls."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    for dirpath, _, files in os.walk(tmp):
        for f in files:
            fd = os.open(os.path.join(dirpath, f), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
    os.rename(tmp, path)
    return path


@functools.lru_cache(maxsize=2)
def table_columns(scale: float, seed: int = TABLES_SEED) -> dict[str, dict]:
    """The analytic tables as column dicts (NumPy arrays / lists); shared
    between callers, who must not modify them."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users, n_docs = int(15_000 * scale), int(50_000 * scale)
    n_vec = 500
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot",
                    "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
                     "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_line),
                               pa.timestamp("us")),
    }
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ts = np.sort(base * 1_000_000 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    vocab = np.array(_VOCAB)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    _add_duplicates(texts, np.random.default_rng(seed + 1))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 7, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }
    return t


_FOOTER = "the data is the table and the key is the value of it"


def _add_duplicates(texts: list[str], rng) -> None:
    """Give the preprocessing stages work: of every ten documents, one is
    an exact copy of its predecessor, one a near copy (one word
    replaced) of a document two back, and one carries a shared footer
    that the substring scrub removes."""
    for i in range(2, len(texts)):
        if i % 10 == 3:
            texts[i] = texts[i - 1]
        elif i % 10 == 7:
            words = texts[i - 2].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[
                int(rng.integers(0, len(_VOCAB)))]
            texts[i] = " ".join(words)
        elif i % 10 == 5:
            texts[i] = f"{texts[i]} {_FOOTER}"


def write_tables(root: str, scale: float) -> str:
    """The analytic tables as one parquet file each, built once per scale."""
    def build(tmp: str) -> None:
        for name, cols in table_columns(scale).items():
            _write(tmp, name, cols)
    return _publish(os.path.join(root, f"tables-s{scale}"), build)


# -- ingest ------------------------------------------------------------------

N_BATCHES = 48
BLOCK_BATCHES = 4     # three lineitem batches + one events batch
LI_SPLIT = (2, 2, 3)  # lineitem files per batch within a block, permuted
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
EXTRA_COL = "l_score"  # the trailing column that expands the schema
EVENT_COLS = ["event_id", "created_at", "user_id", "event_type", "value"]


@dataclass
class IngestPlan:
    """What the ingest workload delivers, in delivery order."""

    drop_root: str
    manifest: dict
    batches: list[list[dict]]        # envelopes per batch
    batch_files: list[list[str]]     # the distinct new files per batch
    expansion_file: str              # first lineitem file with EXTRA_COL


def _pylist(col) -> list:
    return col.to_pylist() if isinstance(col, pa.Array) else np.asarray(col).tolist()


def _fmt_ts(ts: np.ndarray) -> list[str]:
    """``yyyy-MM-dd HH:mm:ss`` strings, the reference's naive-UTC format."""
    secs = ts.astype("datetime64[s]").astype(str)
    return [s.replace("T", " ") for s in secs]


def _csv_bytes(header: list[str], rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _envelope(bucket: str, name: str, event: str = "OBJECT_FINALIZE",
              kind: str = "storage#object") -> dict:
    obj = {"kind": kind, "selfLink": f"https://storage/{bucket}/{name}",
           "bucket": bucket, "name": name}
    return {"message": {
        "attributes": {"eventType": event},
        "data": base64.b64encode(json.dumps(obj).encode()).decode(),
    }}


def ingest_plan(root: str, seed: int, scale: float) -> IngestPlan:
    """CSV drops + seeded envelope batches + manifest, built once per seed.

    The 113 files (83 lineitem months, 30 event days) arrive in
    ``N_BATCHES`` batches of 1-5 files, grouped in blocks of
    ``BLOCK_BATCHES``: each block holds three lineitem batches and one
    events batch, with ``sum(LI_SPLIT)`` lineitem files per block (fewer
    in the last). The seed orders the batches inside each block and
    splits the block's lineitem months across its three batches, so the
    batch split changes with the seed. The seed also
    picks the month from which lineitem files carry the extra trailing
    column; that month lies in the first block, so every run reaches the
    one batch that expands the schema. Each batch also carries a
    redelivered envelope (duplicate selfLink), an ``OBJECT_DELETE`` and a
    non-object notification.
    """
    rng = np.random.default_rng(seed)
    cols = table_columns(scale)
    line, ev = cols["lineitem"], cols["events"]
    months = (line["l_shipdate"].to_numpy().astype("datetime64[us]")
              .astype("datetime64[M]"))
    month_keys = np.unique(months)
    ev_days = (ev["ts"].to_numpy().astype("datetime64[us]")
               .astype("datetime64[D]"))
    day_keys = np.unique(ev_days)
    order, sizes = _blocks(len(month_keys), len(day_keys), rng)
    li_first = [i for kind, i in order[:sum(sizes[:BLOCK_BATCHES])]
                if kind == "lineitem" and i > 0]
    exp_month = li_first[rng.integers(0, len(li_first))]

    drop = os.path.join(root, f"drops-s{scale}-seed{seed}")

    def build(tmp: str) -> None:
        li = {c: _pylist(line[c]) for c in LINEITEM_COLS[:-1]}
        li["l_shipdate"] = _fmt_ts(line["l_shipdate"].to_numpy())
        score = np.round(np.random.default_rng(seed + 1).uniform(
            0, 1, len(li["l_shipdate"])), 4).tolist()
        for i, m in enumerate(month_keys):
            header = LINEITEM_COLS + ([EXTRA_COL] if i >= exp_month else [])
            src = [li[c] for c in LINEITEM_COLS] + (
                [score] if i >= exp_month else [])
            data = [[col[j] for col in src]
                    for j in np.nonzero(months == m)[0]]
            _put(tmp, _month_name(m), _csv_bytes(header, data))
        ec = [_pylist(ev["event_id"]), _fmt_ts(ev["ts"].to_numpy()),
              _pylist(ev["user_id"]), _pylist(ev["event_type"]),
              _pylist(ev["value"])]
        for d in day_keys:
            data = [[col[j] for col in ec] for j in np.nonzero(ev_days == d)[0]]
            _put(tmp, _day_name(d), _csv_bytes(EVENT_COLS, data))

    _publish(drop, build)
    names = [(_month_name(month_keys[i]) if kind == "lineitem"
              else _day_name(day_keys[i])) for kind, i in order]
    batches, batch_files, pos = [], [], 0
    for b, n in enumerate(sizes):
        files = names[pos:pos + n]
        pos += n
        envs = [_envelope(drop, f) for f in files]
        envs.insert(int(rng.integers(0, len(envs) + 1)),
                    _envelope(drop, files[int(rng.integers(0, n))]))
        envs.append(_envelope(drop, files[0], event="OBJECT_DELETE"))
        envs.append(_envelope(drop, f"meta/batch-{b}.json", kind="storage#folder"))
        batches.append(envs)
        batch_files.append([os.path.join(drop, f) for f in files])
    manifest = {"project": "bench", "jobIdPrefix": "bench_", "tasks": [
        {"sources": [f"{drop}/lineitem/**/*.csv"], "dataset": "bench",
         "table": "lineitem", "timePartitioningField": "l_shipdate",
         "fields": [{"name": c, "type": t} for c, t in zip(
             LINEITEM_COLS,
             ["integer", "integer", "integer", "integer", "float", "float",
              "float", "float", "string", "string", "timestamp"])]},
        {"sources": [f"{drop}/events/**/*.csv"], "dataset": "bench",
         "table": "events",
         "fields": [{"name": c, "type": t} for c, t in zip(
             EVENT_COLS, ["integer", "timestamp", "integer", "string",
                          "float"])]},
    ]}
    return IngestPlan(drop, manifest, batches, batch_files,
                      os.path.join(drop, _month_name(month_keys[exp_month])))


def _month_name(m) -> str:
    y, mo = str(m)[:4], str(m)[5:7]
    return f"lineitem/{y}/lineitem-{y}{mo}.csv"


def _day_name(d) -> str:
    s = str(d)
    return f"events/{s[:7]}/events-{s.replace('-', '')}.csv"


def _put(root: str, rel: str, data: bytes) -> None:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def _blocks(n_months: int, n_days: int, rng) -> tuple[list[tuple], list[int]]:
    """Delivery order ``[(table, index)]`` and batch sizes, block by block.

    Block ``b`` delivers the next ``sum(LI_SPLIT)`` months (fewer in the
    last block) in three batches whose sizes are a seeded permutation of
    ``LI_SPLIT``, and the next 2 or 3 days (alternating) in one batch; the
    seed shuffles the four batches of each block."""
    n_blocks = N_BATCHES // BLOCK_BATCHES
    order: list[tuple] = []
    sizes: list[int] = []
    month = day = 0
    for b in range(n_blocks):
        li_sizes = [int(n) for n in rng.permutation(LI_SPLIT)]
        over = month + sum(li_sizes) - n_months
        if over > 0:
            li_sizes[li_sizes.index(max(li_sizes))] -= over
        n_ev = 3 - b % 2 if b < n_blocks - 1 else n_days - day
        batches = []
        for n in li_sizes:
            batches.append([("lineitem", month + i) for i in range(n)])
            month += n
        batches.append([("events", day + i) for i in range(n_ev)])
        day += n_ev
        for k in rng.permutation(len(batches)):
            order.extend(batches[k])
            sizes.append(len(batches[k]))
    assert month == n_months and day == n_days, (month, day)
    return order, sizes


def digest(path: str) -> str:
    """sha256 over the file ``path``, or over every file under the
    directory ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            h.update(fh.read())
        return h.hexdigest()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
