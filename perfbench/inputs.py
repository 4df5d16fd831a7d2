"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed (and the fixed sizes in
`workloads.py`), so the same seed gives the same inputs on any machine. The
engine only ever sees the files these functions write.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mel_tnnt_spark import datagen
from mel_tnnt_spark.datagen import CODE_FILES_SCHEMA

CODE_FILE_COLS = [f.name for f in CODE_FILES_SCHEMA.fields]
_CODE_FILES_ARROW = pa.schema(
    [
        (f.name, pa.int64() if f.name == "committed_at" else pa.string())
        for f in CODE_FILES_SCHEMA.fields
    ]
)


def n_repos_for(n_files: int) -> int:
    """The repo count `datagen.code_files_distributed` derives from its size."""
    return max(3, n_files // 40)


def code_file_rows(n_files: int, seed: int, start: int = 0, n_repos: int | None = None) -> list[tuple]:
    """Driver-side copy of the rows `code_files_distributed(n_rows=n_files,
    seed=seed)` generates for indices [start, n_files)."""
    repos = n_repos if n_repos is not None else n_repos_for(n_files)
    rows: list[tuple] = []
    for i in range(start, n_files):
        rows.extend(datagen._rows_for_index(i, seed, repos))
    return rows


def write_bucketed_code_files(spark, n_files: int, seed: int, path: str, table: str, n_buckets: int) -> None:
    """The kg_build source: the generated table, bucketed on (repo, path)
    like the Iceberg table the datagen docstring describes."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        datagen.code_files_distributed(spark, n_rows=n_files, seed=seed)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "repo", "path")
        .option("path", path)
        .saveAsTable(table)
    )


def write_rows_parquet(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {c: pa.array(v, type=_CODE_FILES_ARROW.field(c).type) for c, v in zip(CODE_FILE_COLS, cols)},
        schema=_CODE_FILES_ARROW,
    )
    pq.write_table(table, path)


def resume_deltas(
    base_rows: list[tuple], n_base: int, seed: int, n_deltas: int, new_files: int, new_commits: int
) -> list[list[tuple]]:
    """Small deltas on top of a base corpus of `n_base` files.

    Delta k holds `new_files` files generated past the base index range
    (same `n_repos`, so they land in the base's repos) plus new commits
    of `new_commits` existing paths: same (repo, path), a later
    `committed_at`, and content that differs from every earlier version.
    No path gets two new commits, so every delta row is the latest
    version of its path.
    """
    repos = n_repos_for(n_base)
    latest: dict[tuple[str, str], tuple] = {}
    for r in base_rows:
        key = (r[0], r[1])
        if key not in latest or r[6] > latest[key][6]:
            latest[key] = r
    keys = sorted(latest)
    rng = random.Random(seed * 7919 + 17)
    changed = rng.sample(keys, n_deltas * new_commits)
    deltas = []
    for k in range(n_deltas):
        lo = n_base + k * new_files
        rows = code_file_rows(lo + new_files, seed, start=lo, n_repos=repos)
        for j, key in enumerate(changed[k * new_commits : (k + 1) * new_commits]):
            repo, path, _commit, lang, content, _sha, ts = latest[key]
            version = 100 + k
            text = (content or "") + f"\n# Revised in delta {k} by Ada Lovelace, rev {j}."
            rows.append(
                (
                    repo,
                    path,
                    datagen._commit_hex(repo, path, version),
                    lang,
                    text,
                    hashlib.sha256(text.encode()).hexdigest(),
                    ts + (k + 1) * 86_400,
                )
            )
        deltas.append(rows)
    return deltas


# --- register tables (the `documents` table the chained queries read,
# and the TPC-H-shaped tables the graph queries read) -----------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def write_register_tables(out_dir: str, seed: int, n_docs: int, n_orders: int) -> None:
    """`documents`, `orders`, `customer`, `supplier` and `lineitem` with
    the column names and types of the sf testdata, as single parquet
    files `<out_dir>/<name>.parquet` (the `_t()` layout)."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), n)]) for n in lens]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(_LANGS, n_docs, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_cust, n_supp = max(10, n_orders // 10), max(5, n_orders // 150)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        }
    )
    n_lines = 4 * n_orders
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        }
    )
    for name, t in [
        ("documents", docs),
        ("orders", orders),
        ("customer", customer),
        ("supplier", supplier),
        ("lineitem", lineitem),
    ]:
        pq.write_table(t, f"{out_dir}/{name}.parquet")
