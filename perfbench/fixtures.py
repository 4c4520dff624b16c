"""Seeded benchmark inputs, cached on disk by seed, generator version and size.

Three input sets, one per workload family:

* ``images``: image+caption rows from ``pipeline.fixtures.make_row`` over an
  id range picked by the seed, plus 2% verbatim duplicate rows, written as a
  flat multi-file parquet directory (the ``run_filter`` input layout).
* ``tables``: lineitem, orders, customer, events and documents with the
  schemas, row counts and value domains of the sf0.1 test tables. Rows are
  drawn from the seed, and a seed-salted hash splits each table into files.
* ``docs``: the documents table plus planted exact, near-duplicate,
  half-prefix and short-in-long copies of seeded host documents, with the
  planted pairs recorded.

Every cache entry is a directory whose name carries the input family, the
seed, ``BENCH_GEN_VERSION``, the package's ``FIXTURE_GEN_VERSION`` and the
size. It holds a ``_SIGNATURE.json`` with the row counts and a sha256 over the
data files. A cached entry is reused only if its files still hash to the
recorded signature; otherwise it is rebuilt. Entries are built in a temporary
directory and renamed into place, so a killed build never looks complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when anything this module generates changes.
BENCH_GEN_VERSION = "b1"

# row counts of the sf0.1 test tables; generators take a scale relative to them
SF01_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "events": 100_000,
    "documents": 5_000,
}
TABLES = list(SF01_ROWS)

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# planted copies in the dedup corpus, one kind per host document
PLANT_KINDS = ("exact", "near", "half", "snippet")
PLANT_ID_BASE = 10_000_000


# ───────────────────────── cache ─────────────────────────


def _files_signature(path: str) -> dict:
    h = hashlib.sha256()
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            if n == "_SIGNATURE.json":
                continue
            p = os.path.join(root, n)
            rel = os.path.relpath(p, path)
            files.append(rel)
            h.update(rel.encode())
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return {"files": len(files), "sha256": h.hexdigest()}


def _cached(cache_root: str, name: str, build) -> tuple[str, dict, bool]:
    """Return (path, signature, reused). `build(tmp_dir)` writes the data and
    returns the row counts it wrote."""
    path = os.path.join(cache_root, name)
    sig_path = os.path.join(path, "_SIGNATURE.json")
    if os.path.exists(sig_path):
        with open(sig_path) as f:
            recorded = json.load(f)
        if _files_signature(path) == recorded["content"]:
            return path, recorded, True
        shutil.rmtree(path, ignore_errors=True)  # stale or tampered: rebuild
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    rows = build(tmp)
    sig = {"name": name, "rows": rows, "content": _files_signature(tmp)}
    with open(os.path.join(tmp, "_SIGNATURE.json"), "w") as f:
        json.dump(sig, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, sig, False


def _write_parts(table: pa.Table, out_dir: str, part_of_row: np.ndarray, n_parts: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for p in range(n_parts):
        idx = np.flatnonzero(part_of_row == p)
        pq.write_table(table.take(pa.array(idx)), os.path.join(out_dir, f"part-{p:05d}.parquet"))


def _salted_parts(keys: np.ndarray, seed: int, n_parts: int) -> np.ndarray:
    """Seed-salted hash split of row keys into files."""
    salt = np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    x = keys.astype(np.uint64) ^ salt
    x = (x ^ (x >> np.uint64(31))) * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(29))
    return (x % np.uint64(n_parts)).astype(np.int64)


# ───────────────────────── images ─────────────────────────


def image_id_base(seed: int, n: int) -> int:
    """First fixture index for a seed: disjoint id ranges below 10^8."""
    span = max(n, 10_000)
    return (seed % (10**8 // span - 1)) * span


def _image_rows(lo_hi: tuple[int, int]) -> list[dict]:
    from data_quality_check_spark.pipeline.fixtures import make_row

    return [make_row(i) for i in range(*lo_hi)]


def images(cache_root: str, seed: int, n: int, n_files: int, pool_map) -> tuple[str, dict, bool]:
    """`n` generated rows + 2% verbatim duplicates as `n_files` parquet files;
    `pool_map(fn, items)` spreads row generation over worker processes."""
    from data_quality_check_spark.pipeline.fixtures import FIXTURE_GEN_VERSION, _pa_schema

    def build(tmp: str) -> dict:
        base = image_id_base(seed, n)
        step = -(-n // (4 * n_files))
        chunks = [(base + lo, base + min(lo + step, n)) for lo in range(0, n, step)]
        rows = [r for part in pool_map(_image_rows, chunks) for r in part]
        pdf = pd.DataFrame(rows)
        n_dup = int(n * 0.02)
        pdf = pd.concat([pdf, pdf.iloc[[(i * 37) % n for i in range(n_dup)]]], ignore_index=True)
        table = pa.Table.from_pandas(pdf, schema=_pa_schema(), preserve_index=False)
        _write_parts(table, os.path.join(tmp, "images"), np.arange(len(pdf)) % n_files, n_files)
        return {"images": len(pdf), "distinct_ids": n}

    name = f"images-s{seed}-{BENCH_GEN_VERSION}-{FIXTURE_GEN_VERSION}-n{n}-f{n_files}"
    return _cached(cache_root, name, build)


# ───────────────────────── sf0.1-shaped tables ─────────────────────────


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n: int) -> list[str]:
    """10-100 words from the 30-word corpus vocabulary; ~0.5% carry 'dup'."""
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        ws = list(words[pos : pos + k])
        pos += k
        if rng.random() < 0.005:
            ws[int(rng.integers(0, k))] = "dup"
        out.append(" ".join(ws))
    return out


def _documents(rng, n: int) -> pa.Table:
    text = doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": _pick(rng, DOC_LANGS, n, DOC_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = {t: int(r * scale) for t, r in SF01_ROWS.items()}
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], li)),
            "l_partkey": pa.array(rng.integers(0, 20_000, li)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, li)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, ["N", "R", "A"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    no = n["orders"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no)),
            "o_orderstatus": _pick(rng, ["P", "O", "F"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nc = n["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(
                rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], nc
            ),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1_500, ne)),
            "event_type": _pick(rng, ["signup", "purchase", "view", "click", "error"], ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "events": events,
        "documents": _documents(rng, n["documents"]),
    }


def tables(cache_root: str, seed: int, n_files: int, scale: float) -> tuple[str, dict, bool]:
    """sf0.1-shaped tables at `scale` times the sf0.1 row counts, each a
    directory `<table>.parquet/` of `n_files` parts split by a seed-salted hash
    of the row index."""

    def build(tmp: str) -> dict:
        rows = {}
        for name, table in _tables(seed, scale).items():
            keys = np.arange(table.num_rows, dtype=np.int64)
            _write_parts(
                table, os.path.join(tmp, f"{name}.parquet"), _salted_parts(keys, seed, n_files), n_files
            )
            rows[name] = table.num_rows
        return rows

    return _cached(cache_root, f"tables-s{seed}-{BENCH_GEN_VERSION}-x{scale}-f{n_files}", build)


# ───────────────────────── dedup corpus ─────────────────────────


def _plant(kind: str, host: str, rng) -> str:
    words = host.split(" ")
    if kind == "exact":
        return host
    if kind == "near":  # one word swapped for another vocabulary word
        i = int(rng.integers(0, len(words)))
        words[i] = next(w for w in DOC_VOCAB if w != words[i])
        return " ".join(words)
    if kind == "half":  # first half of the host's words: containment 1, Jaccard ~0.5
        return " ".join(words[: max(3, -(-len(words) // 2))])
    # snippet: first eighth of the host's words, containment 1, Jaccard ~0.1
    return " ".join(words[: max(3, len(words) // 8)])


def docs(cache_root: str, seed: int, n: int, n_files: int, per_kind: int) -> tuple[str, dict, bool]:
    """`n` documents + `per_kind` planted copies of each kind, on distinct hosts.
    Writes `documents.parquet/` (doc_id, text) and `planted.parquet`
    (id_a = host, id_b = copy, kind)."""

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        base = _documents(rng, n).select(["doc_id", "text"])
        texts = base.column("text").to_pylist()
        # snippet hosts need >= 64 words so the snippet is >= 8 words long;
        # every planted copy gets its own host
        long_hosts = [i for i, t in enumerate(texts) if t.count(" ") >= 63]
        snippet_hosts = rng.choice(long_hosts, size=per_kind, replace=False).tolist()
        rest = np.setdiff1d(np.arange(n), snippet_hosts)
        hosts = rng.choice(rest, size=3 * per_kind, replace=False).tolist() + snippet_hosts
        ids, txt, planted = [], [], []
        for k, (kind, host) in enumerate(
            zip([kd for kd in PLANT_KINDS for _ in range(per_kind)], hosts)
        ):
            pid = PLANT_ID_BASE + k
            ids.append(pid)
            txt.append(_plant(kind, texts[host], rng))
            planted.append((host, pid, kind))
        corpus = pa.concat_tables(
            [base, pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt, pa.string())})]
        )
        _write_parts(
            corpus,
            os.path.join(tmp, "documents.parquet"),
            _salted_parts(corpus.column("doc_id").to_numpy(), seed, n_files),
            n_files,
        )
        pq.write_table(
            pa.table(
                {
                    "id_a": pa.array([p[0] for p in planted], pa.int64()),
                    "id_b": pa.array([p[1] for p in planted], pa.int64()),
                    "kind": pa.array([p[2] for p in planted], pa.string()),
                }
            ),
            os.path.join(tmp, "planted.parquet"),
        )
        return {"documents": corpus.num_rows, "planted": len(planted)}

    name = f"docs-s{seed}-{BENCH_GEN_VERSION}-n{n}-p{per_kind}-f{n_files}"
    return _cached(cache_root, name, build)

