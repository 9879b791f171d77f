"""Seeded inputs and their expected outputs.

The fixture comes from ``grove_spark.fixtures.generator.write_fixture``.
Everything else the program sees is built here from the same seed: the
time-ordered store and the per-tick batches of ``tail`` and the connector
configs of ``fleet``. The expected outputs are computed from the generated
files with pyarrow and pandas, never with grove_spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import rows_frame

VOCAB = 50257
MAX_TOK = 2048
LEVELS = ["INFO", "WARN", "ERROR", "DEBUG"]
SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("raw", pa.string()),
    ("event_time", pa.timestamp("us")),
])


def fixture(work: str, n_rows: int, seed: int) -> dict:
    from grove_spark.fixtures.generator import write_fixture

    return write_fixture(os.path.join(work, "fixture"), n_rows, seed=seed)


def write_store(paths: dict, out_dir: str, n_files: int) -> pa.Table:
    """The fixture's rows in event-time order, split over ``n_files`` files
    as an append-only log store holds them; returns the rows."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(paths["sequences"]).cast(SCHEMA)
    table = table.take(pc.sort_indices(table, [("event_time", "ascending"),
                                               ("doc_id", "ascending")]))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"hist-{i:04d}.parquet"))
    return table


def read_dims(paths: dict) -> tuple:
    return pq.read_table(paths["sources"]).to_pandas(), pq.read_table(paths["sinks"]).to_pandas()


def routed_expectation(rows: pa.Table, sources: pd.DataFrame, sinks: pd.DataFrame) -> pd.DataFrame:
    """(descriptor, doc_id, th, n_tok) per routed row of ``run_incremental``
    and ``build_pipeline``: source -> connector -> every descriptor."""
    base = rows_frame(rows, ["doc_id", "source"], "tokens")
    base["n_tok"] = rows.column("n_tok").to_numpy()
    fan = sources[["source", "connector"]].merge(sinks[["connector", "descriptor"]], on="connector")
    out = base.merge(fan, on="source")
    return out[["descriptor", "doc_id", "th", "n_tok"]]


# ---- tail -------------------------------------------------------------------

class TailStore:
    """A time-ordered store of committed files plus one batch per tick.

    Each batch carries, at the committed boundary pointer, exact copies of
    the rows already emitted there (which must be dropped) and new late
    rows (which must be kept), then new rows past the pointer whose last
    ``cohort`` rows share the next pointer."""

    def __init__(self, work: str, fixture_paths: dict, sources: list, seed: int,
                 n_files: int, new_rows: int, late_rows: int, cohort: int):
        self.dir = os.path.join(work, "store")
        self.sources = np.array(sources)  # zipf rank order, head first
        self.seed, self.new_rows, self.late_rows, self.cohort = seed, new_rows, late_rows, cohort
        table = write_store(fixture_paths, self.dir, n_files)
        self.pointer = table.column("event_time").to_numpy().max()
        self.boundary = table.filter(pc.equal(table.column("event_time"),
                                              pa.scalar(self.pointer, pa.timestamp("us"))))
        self.ticks = 0

    def land(self) -> pa.Table:
        """Write the next batch; returns the rows that must come out."""
        tick = self.ticks
        self.ticks += 1
        rng = np.random.default_rng([self.seed, tick])
        n = self.late_rows + self.new_rows
        n_tok = np.clip(rng.lognormal(np.log(96), 0.9, size=n).astype(np.int32), 1, MAX_TOK)
        src = self.sources[np.minimum(rng.zipf(1.3, size=n) - 1, len(self.sources) - 1)]
        offs = np.sort(rng.integers(1, 60_000, size=self.new_rows))
        offs[-self.cohort:] = offs[-1]
        ts = np.concatenate([np.full(self.late_rows, self.pointer),
                             self.pointer + offs.astype("timedelta64[ms]")]).astype("datetime64[us]")
        doc = np.array([f"tail-{self.seed}-{tick:05d}-{j:06d}" for j in range(n)])
        flat = rng.integers(0, VOCAB, size=int(n_tok.sum()), dtype=np.int32)
        offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
        lvl = np.array(LEVELS)[rng.integers(0, 4, size=n)]
        raw = [f"{np.datetime_as_string(t, unit='ms')} level={lv} source={s} doc={d} n={k}"
               for t, lv, s, d, k in zip(ts, lvl, src, doc, n_tok)]
        fresh = pa.table({
            "doc_id": doc, "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": n_tok, "source": src, "raw": raw, "event_time": ts,
        }, schema=SCHEMA)
        batch = pa.concat_tables([self.boundary, fresh])
        pq.write_table(batch, os.path.join(self.dir, f"batch-{tick:05d}.parquet"))
        self.pointer = ts.max()
        self.boundary = fresh.slice(n - self.cohort)
        return fresh


# ---- fleet ------------------------------------------------------------------

FILTERS = [
    ["sql:n_tok > 300"],
    ["sql:n_tok < 8"],
    ["sql:n_tok > 300", "sql:n_tok < 8"],
    ["sql:doc_id LIKE '%7'"],
]


def _drops(filters: list, rows: pd.DataFrame) -> np.ndarray:
    drop = np.zeros(len(rows), dtype=bool)
    for f in filters:
        if f == "sql:n_tok > 300":
            drop |= rows["n_tok"].to_numpy() > 300
        elif f == "sql:n_tok < 8":
            drop |= rows["n_tok"].to_numpy() < 8
        elif f == "sql:doc_id LIKE '%7'":
            drop |= rows["doc_id"].str.endswith("7").to_numpy()
        else:
            raise ValueError(f"no expectation for filter {f!r}")
    return drop


def fleet_docs(sources: pd.DataFrame, seed: int) -> list:
    """21 connector config documents: two identities on the head source,
    four filter-only chains, three members sharing one reshaping chain
    (``filter_paths``), the rest chainless. The seed picks which sources
    get the chains. Every third source by rank adds an ``archive`` sink
    (fan-out 3 instead of 2), as the fixture's sinks dim does, so the
    routed volume does not swing with the seed."""
    rng = np.random.default_rng([seed, 7])
    names = list(sources["source"])
    head, rest = names[0], names[1:]
    rest = [rest[i] for i in rng.permutation(len(rest))]
    docs = [
        {"connector": f"{head}_audit_events", "identity": f"{head}.example.org", "source": head},
        {"connector": f"{head}_audit_events", "identity": f"{head}-eu.example.org", "source": head},
    ]
    for i, s in enumerate(rest):
        doc = {"connector": f"{s}_audit_events", "identity": f"{s}.example.org", "source": s}
        if i < len(FILTERS):
            doc["processors"] = [{"processor": "filter_entries", "filters": FILTERS[i]}]
        elif i < len(FILTERS) + 3:
            doc["processors"] = [{"processor": "filter_paths", "paths": ["raw"]}]
        docs.append(doc)
    for doc in docs:
        doc["outputs"] = {"logs": "raw", "processed": "processed"}
        if names.index(doc["source"]) % 3 == 0:
            doc["outputs"]["archive"] = "raw"
    return docs


def fleet_expectation(sequences: pa.Table, docs: list) -> pd.DataFrame:
    """(connector, identity, descriptor, doc_id, th, n_tok) per routed row."""
    base = rows_frame(sequences, ["doc_id", "source"], "tokens")
    base["n_tok"] = sequences.column("n_tok").to_numpy()
    parts = []
    for doc in docs:
        mine = base[base["source"] == doc["source"]]
        filters = [f for p in doc.get("processors", []) if p["processor"] == "filter_entries"
                   for f in p["filters"]]
        for descriptor, stream in doc["outputs"].items():
            rows = mine[~_drops(filters, mine)] if stream == "processed" and filters else mine
            parts.append(rows.assign(connector=doc["connector"], identity=doc["identity"],
                                     descriptor=descriptor))
    out = pd.concat(parts, ignore_index=True)
    return out[["connector", "identity", "descriptor", "doc_id", "th", "n_tok"]]
