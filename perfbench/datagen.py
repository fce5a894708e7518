"""Seeded input generators for the benchmark workloads.

Every input is derived from the workload seed alone, so the same seed gives
byte-identical files and another seed gives different ones:

- ``star_tables``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings``. TESTDATA.md gives only row counts and types; every
  value domain here was measured on the sf0.01 test tables (listed with
  the measured figures in METRICS.md): row counts per sf, uniform keys and
  measures, the 30-word document vocabulary, 10-99 words per document,
  ~5% documents that repeat an earlier one plus " dup", language shares
  0.44 / 0.14 x4, 64-d unit embeddings over 10 labels whose per-label mean
  has norm ~0.15, exponential event values with mean ~50;
- ``csv_extracts``: reference-shaped CSV extracts, a few large and many
  small, whose columns cover every inference rule of FIXTURES.md section B
  plus a planted number of malformed rows.

Outputs are written once per (generator version, seed, shape) under the
cache directory; ``fingerprint`` hashes what was written.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# bump when any generated byte changes, so stale caches are never served
GENERATOR_VERSION = 2

EMBED_DIM = 64
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten benchmark tables at scale factor ``sf`` (lineitem ~6M*sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.asarray([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], dtype=object)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("O", "F"), n_li),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; ~5% are an earlier document plus " dup"."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors: a label centre at weight 0.15 plus isotropic noise."""
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = 0.15 * centres[labels] + rng.normal(scale=EMBED_DIM ** -0.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --- CSV extracts -------------------------------------------------------------

# column -> type the inference kernel must give it (FIXTURES.md section B)
CSV_TYPES = {
    "encounter_id": "bigint",     # beyond int32: range widening
    "empi_id": "text",            # zero-padded identifier protection
    "person_id": "integer",       # smallint/integer mix widens to integer
    "is_covid": "boolean",        # t/f/true/false tokens
    "flag01": "smallint",         # literal 0/1 is smallint, never boolean
    "admit_date": "date",         # midnight values are dates
    "updated_at": "timestamp",    # non-midnight values are timestamps
    "charge": "numeric",          # decimals mixed with integers
    "notes": "text",              # text wins over numbers
    "visit_key": "integer",       # date + integer tiebreak
}


def _csv_column(rng: np.random.Generator, col: str, n: int, day: int) -> list[str]:
    """``n`` rendered values of one CSV column for load day ``day``."""
    i = np.arange(n)
    if col == "encounter_id":
        return [str(v) for v in 5_000_000_000 + day * 10_000_000 + i]
    if col == "empi_id":
        return [f"0{v:04d}" for v in rng.integers(0, 10_000, n)]
    if col == "person_id":
        return [str(v) for v in np.where(i % 3 > 0, rng.integers(12, 30_000, n),
                                         rng.integers(40_000, 2_000_000, n))]
    if col == "is_covid":
        return [("t", "f", "true", "false")[k] for k in i % 4]
    if col == "flag01":
        return [str(k) for k in i % 2]
    if col == "admit_date":
        days = np.datetime64("2021-01-01") + rng.integers(0, 365, n).astype("timedelta64[D]")
        return [str(v) for v in days]
    if col == "updated_at":
        secs = rng.integers(0, 365 * 86_400, n)
        secs = secs - secs % 86_400 + rng.integers(3_600, 86_400, n)  # never midnight
        stamps = np.datetime64("2021-01-01T00:00:00") + secs.astype("timedelta64[s]")
        return [str(v).replace("T", " ") for v in stamps]
    if col == "charge":
        whole, cents = rng.integers(1, 500, n), rng.integers(1, 100, n)
        return [str(w) if k % 5 == 0 else f"{w}.{c:02d}" for k, w, c in zip(i, whole, cents)]
    if col == "notes":
        nums, ids = rng.integers(0, 99, n), rng.integers(0, 10**6, n)
        return [str(a) if k % 4 == 0 else f"note {b}" for k, a, b in zip(i, nums, ids)]
    if col == "visit_key":
        keys = 20_210_000 + rng.integers(100, 1300, n)
        return ["2021-03-15" if k % 3 == 0 else str(v) for k, v in zip(i, keys)]
    raise KeyError(col)


def csv_extracts(seed: int, day: int, n_files: int, large_rows: int,
                 small_rows: int, n_large: int, bad_per_file: int,
                 out_dir: str) -> dict:
    """Write ``n_files`` CSVs for one load day; return the planted manifest.

    Each file holds the first column, a seeded subset of the others, and
    ``bad_per_file`` rows with an unclosed quote spread through the body.
    Day 2 of the same seed keeps the file set and column sets and draws new
    rows, so the quarterly history gets one append per table."""
    os.makedirs(out_dir, exist_ok=True)
    layout_rng = np.random.default_rng(seed)
    cols_all = list(CSV_TYPES)
    manifest: dict[str, dict] = {}
    for f in range(n_files):
        others = [c for c in cols_all[1:] if layout_rng.random() < 0.8] or cols_all[1:3]
        cols = [cols_all[0], *others]
        rows = large_rows if f < n_large else small_rows
        rng = np.random.default_rng([seed, day, f])
        bad_at = set(rng.choice(np.arange(1, rows), bad_per_file, replace=False).tolist())
        name = f"PH_F_Extract_{f:02d}"
        columns = [_csv_column(rng, c, rows, day) for c in cols]
        lines = [",".join(cols)]
        for i, row in enumerate(zip(*columns)):
            if i in bad_at:
                lines.append(f'"unclosed {i},' + ",".join("x" for _ in cols[1:]))
            lines.append(",".join(row))
        path = os.path.join(out_dir, name + ".csv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        manifest[name.lower()] = {"file": path, "rows": rows, "bad": bad_per_file,
                                  "types": {c: CSV_TYPES[c] for c in cols}}
    return manifest


# --- cache + fingerprints -----------------------------------------------------

def fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def cached(cache_dir: str, key: dict, build) -> tuple[str, dict]:
    """Return (directory, manifest) for ``key``, building it on a miss.

    ``build(tmp_dir) -> manifest`` writes into a temporary directory that is
    renamed into place only when complete, so an interrupted run never
    leaves a half-written input behind."""
    digest = hashlib.sha256(json.dumps({**key, "v": GENERATOR_VERSION},
                                       sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(cache_dir, "inputs", digest)
    meta = os.path.join(out, "manifest.json")
    if os.path.exists(meta):
        with open(meta, encoding="utf-8") as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(tmp) for f in fs)
    manifest = {"key": key, "fingerprint": fingerprint(files),
                "bytes": sum(os.path.getsize(p) for p in files), **manifest}
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # manifest paths were written against the temporary name
    text = json.dumps(manifest).replace(tmp, out)
    with open(meta, "w", encoding="utf-8") as fh:
        fh.write(text)
    return out, json.loads(text)


def star_inputs(cache_dir: str, seed: int, sf: float) -> tuple[str, dict]:
    """Parquet star schema at scale factor ``sf``."""
    def build(tmp: str) -> dict:
        tables = star_tables(seed, sf)
        _write_tables(tables, tmp)
        return {"rows": {t: tables[t].num_rows for t in TABLES}}
    return cached(cache_dir, {"kind": "star", "seed": seed, "sf": sf}, build)


def csv_inputs(cache_dir: str, seed: int, days: int, **shape) -> tuple[str, dict]:
    """CSV extracts for ``days`` consecutive load days."""
    def build(tmp: str) -> dict:
        return {"days": [csv_extracts(seed, d, out_dir=os.path.join(tmp, f"day{d}"), **shape)
                         for d in range(1, days + 1)]}
    return cached(cache_dir, {"kind": "csv", "seed": seed, "days": days, **shape}, build)
