"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

* ``tables``: the two tables the curation queries read, ``documents``
  and ``embeddings``, with the column types and value domains of the
  repository's test tables, one parquet file with one row group each, as
  the queries expect. Documents include near-duplicates and vectors sit
  around label centroids, so the curation operators find real clusters.
* ``price_zone``: a price-zone CSV in the reference feed's layout
  (``co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm``) for a set of opcos
  (operating companies). All opcos but two are clean; one is missing
  from the active-opco list and one carries a single out-of-range price
  zone, so exactly those two are quarantined.

Run as a script it writes the inputs and prints their manifest as JSON,
so the benchmark can generate in a child process and keep the numpy
working set out of its own peak-RSS figure::

    python3 perfbench/gen.py tables --seed 1 --rows 500 --out DIR
    python3 perfbench/gen.py price_zone --seed 1 --rows 20000 --opcos 8 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary, 10-99 words each.
    About 5% are copies of an earlier document (half with a trailing
    ``dup`` token), so MinHash/LSH dedup has real clusters to find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around 10 label centroids."""
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n).astype("int32")
    vec = 0.5 * centers[label] + rng.normal(size=(n, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype("float32").ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label),
        }
    )


def gen_tables(seed: int, rows: int, out: str) -> dict:
    """Write ``documents`` and ``embeddings`` with ``rows`` rows each
    under ``out``; return the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = {"documents": _documents(rng, rows), "embeddings": _embeddings(rng, rows)}
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def gen_price_zone(seed: int, rows: int, n_opcos: int, out: str) -> dict:
    """Write ``partial.csv`` and ``full.csv`` price-zone feeds under
    ``out`` and return the manifest the output checks are derived from.

    Opco ``k`` gets a seeded share of each file's rows. The last opco is
    absent from ``active_opcos``; the one before it has exactly one row
    with price zone 9 (outside 1..5). Both are quarantined whole, so every
    other opco loads all of its rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    opcos = [f"{10 + 7 * k:03d}" for k in range(n_opcos)]
    inactive, bad_zone = opcos[-1], opcos[-2]
    manifest: dict = {
        "seed": seed,
        "opcos": opcos,
        "active_opcos": opcos[:-1],
        "quarantined": sorted([inactive, bad_zone]),
        "files": {},
    }
    for kind, n in (("partial", rows // 4), ("full", rows)):
        share = rng.dirichlet(np.full(n_opcos, 4.0))
        counts = np.maximum(1, np.round(share * n).astype(int))
        opco_col = np.repeat(np.arange(n_opcos), counts)
        rng.shuffle(opco_col)
        m = len(opco_col)
        supc = rng.integers(1_000_000, 9_999_999, m)
        zone = rng.integers(1, 6, m)
        bad_rows = np.flatnonzero(opco_col == n_opcos - 2)
        zone[bad_rows[0]] = 9
        cust = rng.integers(100_000, 99_999_999, m)
        day = rng.integers(0, 365, m)
        dates = np.datetime64("2020-01-01") + day.astype("timedelta64[D]")
        path = os.path.join(out, f"{kind}.csv")
        with open(path, "w") as fh:
            fh.write("co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm\n")
            for o, s, z, c, d in zip(opco_col, supc, zone, cust, dates):
                fh.write(f"{opcos[o]},{s},{z},{c},{d} 00:00:00\n")
        manifest["files"][kind] = {
            "path": path,
            "bytes": os.path.getsize(path),
            "rows": int(m),
            "rows_per_opco": {opcos[k]: int(counts[k]) for k in range(n_opcos)},
        }
    return manifest


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=["tables", "price_zone"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, required=True,
                    help="rows per table, or rows of the full price-zone file")
    ap.add_argument("--opcos", type=int, default=8)
    a = ap.parse_args(argv)
    if a.kind == "tables":
        manifest = {"seed": a.seed, "rows": gen_tables(a.seed, a.rows, a.out)}
    else:
        manifest = gen_price_zone(a.seed, a.rows, a.opcos, a.out)
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
