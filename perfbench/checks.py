"""Output checks, computed with pyarrow, pandas and numpy only.

Every routed row is reduced to (keys..., doc_id, token-array hash) and the
multiset of those rows must equal the one derived from the generated
input. The token hash is a polynomial over the whole array, so one altered,
missing or extra token changes it. ``selftest`` shows that one dropped or
altered output row fails the check.

Run ``python3 perfbench/checks.py`` for the self-test alone.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

_MOD = (1 << 31) - 1
_BASE = 1_000_003
_POW = np.ones(1 << 13, dtype=np.int64)
for _i in range(1, len(_POW)):
    _POW[_i] = _POW[_i - 1] * _BASE % _MOD


def token_hashes(arr) -> np.ndarray:
    """sum(tok[i] * BASE**i) mod 2**31-1 per row of a list<int> array,
    with the length folded in so a truncated array differs too."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64) % _MOD
    ends = np.cumsum(lens)
    starts = ends - lens
    pos = np.arange(len(flat), dtype=np.int64) - np.repeat(starts, lens)
    csum = np.concatenate([[0], np.cumsum(flat * _POW[pos] % _MOD)])
    return ((csum[ends] - csum[starts]) % _MOD) * 4096 + lens


def rows_frame(table: pa.Table, keys: list, tokens: str) -> pd.DataFrame:
    out = table.select(keys).to_pandas()
    for k in keys:
        out[k] = out[k].astype(str)
    out["th"] = token_hashes(table.column(tokens))
    return out


def read_output(path: str, columns: list) -> pa.Table:
    """All parquet rows under a partitioned sink directory."""
    dataset = ds.dataset(path, format="parquet", partitioning="hive")
    return dataset.to_table(columns=columns)


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def same_rows(expected: pd.DataFrame, actual: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows, else why not."""
    cols = list(expected.columns)
    if sorted(actual.columns) != sorted(cols):
        return f"columns {sorted(actual.columns)} != {sorted(cols)}"
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    a = expected.sort_values(cols, kind="stable").reset_index(drop=True)
    b = actual[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    diff = (a != b).any(axis=1)
    if diff.any():
        i = int(np.argmax(diff.to_numpy()))
        return f"row {i} differs: got {b.iloc[i].to_dict()}, expected {a.iloc[i].to_dict()}"
    return None


def per_sink(rows: pd.DataFrame, keys: list) -> dict:
    """(keys...) -> (rows, sum_n_tok) over a frame carrying n_tok."""
    g = rows.groupby(keys, sort=True)["n_tok"].agg(["count", "sum"])
    return {k if isinstance(k, tuple) else (k,): (int(c), int(s)) for k, (c, s) in g.iterrows()}


def selftest() -> bool:
    """The check passes on equal outputs and fails on one dropped row and
    on one altered token."""
    rng = np.random.default_rng(0)
    lens = rng.integers(1, 50, size=200)
    tokens = [rng.integers(0, 50257, size=n).tolist() for n in lens]
    table = pa.table({
        "descriptor": ["logs", "processed"] * 100,
        "doc_id": [f"doc-{i}" for i in range(200)],
        "tokens": pa.array(tokens, type=pa.list_(pa.int32())),
    })
    keys = ["descriptor", "doc_id"]
    expected = rows_frame(table, keys, "tokens")
    if same_rows(expected, rows_frame(table.slice(0), keys, "tokens")) is not None:
        return False
    if same_rows(expected, rows_frame(table.slice(1), keys, "tokens")) is None:
        return False
    altered = [list(t) for t in tokens]
    altered[57][len(altered[57]) // 2] += 1
    bad = table.set_column(2, "tokens", pa.array(altered, type=pa.list_(pa.int32())))
    if same_rows(expected, rows_frame(bad, keys, "tokens")) is None:
        return False
    shortened = [list(t) for t in tokens]
    shortened[3] = shortened[3][:-1] or [1, 2]
    bad = table.set_column(2, "tokens", pa.array(shortened, type=pa.list_(pa.int32())))
    return same_rows(expected, rows_frame(bad, keys, "tokens")) is not None


if __name__ == "__main__":
    ok = selftest()
    print("selftest", "passed" if ok else "FAILED")
    raise SystemExit(0 if ok else 1)
