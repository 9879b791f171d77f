"""The three workloads. Each one sets up from a seed, runs one invocation
through a public entry point of grove_spark, checks the invocation's
output outside the timed window, and replays its plan prefix by prefix
when traced.

Sizes are chosen so that one warm invocation takes a few seconds on a
4-core box, which fits the benchmark's time budget per run.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
from checks import parquet_bytes, per_sink, read_output, rows_frame, same_rows

HASH_COLS = ["doc_id", "tokens"]


def _noop(df, trials: int = 2) -> float:
    """Fastest of ``trials`` runs of ``df`` into the noop sink."""
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _skew(df) -> float:
    """Rows in the largest partition over the mean partition."""
    from pyspark.sql import functions as F

    counts = [r[0] for r in df.groupBy(F.spark_partition_id()).count().select("count").collect()]
    return max(counts) / (sum(counts) / len(counts)) if counts else 0.0


def _sink_check(expected, actual_per_sink: dict, keys: list) -> str | None:
    want, got = per_sink(expected, keys), actual_per_sink
    if got != want:
        bad = sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))[:3]
        return f"per-sink counts differ at {[(k, got.get(k), want.get(k)) for k in bad]}"
    return None


class Workload:
    name = ""
    fixture_rows = 0
    warm_ups = 2

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.cores = spark, work, cores
        self.paths = inputs.fixture(work, self.fixture_rows, seed)
        self.sources_pd, self.sinks_pd = inputs.read_dims(self.paths)
        self.sources = spark.read.parquet(self.paths["sources"])
        self.sinks = spark.read.parquet(self.paths["sinks"])

    def prepare(self, i: int) -> None:
        """Untimed work before invocation ``i``."""

    def cleanup(self, i: int) -> None:
        """Untimed work after invocation ``i`` has been checked."""

    def output_dir(self, i: int, out) -> str | None:
        """The directory invocation ``i`` wrote, if it writes one."""
        return None


class Compute(Workload):
    """``build_pipeline(observe=True, repartition=False)`` into the noop sink,
    with one real boundary pointer in the seen state."""

    name = "compute"
    fixture_rows = 40_000

    def __init__(self, spark, work, seed, cores):
        super().__init__(spark, work, seed, cores)
        from grove_spark.operators.dedup import boundary_hashes

        self.seq = spark.read.parquet(self.paths["sequences"])
        seen = boundary_hashes(self.seq, HASH_COLS, "event_time").collect()
        self.seen = spark.createDataFrame([(r["pointer"], r["hash"]) for r in seen],
                                          "pointer string, hash string")
        self.n_seen = len(seen)
        table = pq.read_table(self.paths["sequences"])
        ts = table.column("event_time").to_numpy()
        kept = table.filter(ts != ts.max())
        self.expected = inputs.routed_expectation(kept, self.sources_pd, self.sinks_pd)

    def invoke(self, i: int):
        from grove_spark.plans.pipeline import build_pipeline

        res = build_pipeline(self.seq, self.sources, self.sinks, observe=True,
                             repartition=False, seen_state=self.seen)
        res.routed.write.format("noop").mode("overwrite").save()
        return res, res.observed.get

    def check(self, i: int, out) -> tuple:
        res, obs = out
        exp = self.expected
        want = {"processed": len(exp), "n_tok_total": int(exp["n_tok"].sum()), "failed": 0}
        if obs != want:
            return 0, 0, f"observation {obs} != {want}"
        if i != 0:
            return len(exp), None, None
        # every routed row, once per run: written through the sink so the
        # bytes per row are those the plan's rows take on disk
        from grove_spark.operators.sinks import write_partitioned_parquet

        path = os.path.join(self.work, "check")
        write_partitioned_parquet(res.routed, path)
        got = rows_frame(read_output(path, ["descriptor", "doc_id", "routed_tokens"]),
                         ["descriptor", "doc_id"], "routed_tokens")
        err = same_rows(exp[["descriptor", "doc_id", "th"]], got)
        size = parquet_bytes(path)
        shutil.rmtree(path)
        if err is None:
            sinks = {(r["descriptor"],): (r["rows"], r["sum_n_tok"]) for r in res.counts.collect()}
            err = _sink_check(exp, sinks, ["descriptor"])
        return len(exp), size, err

    def replay(self, tracer) -> dict:
        return replay_pipeline(tracer, self.seq, self.sources, self.sinks, self.seen, None,
                               repartition=0) | {"dedup.seen_hashes": self.n_seen}


class Tail(Workload):
    """A resumed ``run_incremental`` tick over a store of committed files;
    one batch lands per tick."""

    name = "tail"
    fixture_rows = 10_000
    n_files = 40
    warm_ups = 3
    new_rows, late_rows, cohort = 1_000, 16, 8

    def __init__(self, spark, work, seed, cores):
        super().__init__(spark, work, seed, cores)
        from grove_spark.plans.pipeline import run_incremental
        from grove_spark.state.runstate import RunState, reference

        self.run_incremental = run_incremental
        self.store = inputs.TailStore(work, self.paths, list(self.sources_pd["source"]), seed,
                                      self.n_files, self.new_rows, self.late_rows, self.cohort)
        self.state = RunState(os.path.join(work, "state"))
        self.out = os.path.join(work, "out")
        self.key = reference("fleet", "default")
        self.tick(-1)  # backfill the store; the state now holds its pointer

    def tick(self, i):
        # one write partition per core, as a deployment on this box sets it
        return self.run_incremental(self.spark, self.store.dir, self.sources, self.sinks,
                                    self.state, out_path=self.out, n_partitions=self.cores)

    def prepare(self, i: int) -> None:
        self.watermark = self.state.pointer(self.key)
        self.seen = self.state.seen_hashes(self.key)
        self.fresh = self.store.land()

    def invoke(self, i: int):
        return self.tick(i)

    def output_dir(self, i: int, res) -> str:
        return f"{self.out}/part-{res.run_id}"

    def check(self, i: int, res) -> tuple:
        exp = inputs.routed_expectation(self.fresh, self.sources_pd, self.sinks_pd)
        run_dir = self.output_dir(i, res)
        got = rows_frame(read_output(run_dir, ["descriptor", "doc_id", "routed_tokens"]),
                         ["descriptor", "doc_id"], "routed_tokens")
        err = same_rows(exp[["descriptor", "doc_id", "th"]], got)
        ptr = self.state.pointer(self.key)
        if err is None and np.datetime64(ptr.replace(" ", "T")) != self.store.pointer:
            err = f"pointer {ptr} != {self.store.pointer}"
        if err is None and len(self.state.seen_hashes(self.key).get(ptr, [])) != self.cohort:
            err = f"seen hashes at {ptr}: {self.state.seen_hashes(self.key)}"
        if err is None:
            rec = self.state.run_record(res.run_id)
            sinks = {(d,): (v["rows"], v["sum_n_tok"])
                     for d, v in rec["metrics"]["per_sink"].items()}
            err = _sink_check(exp, sinks, ["descriptor"])
        return len(exp), parquet_bytes(run_dir), err

    def replay(self, tracer) -> dict:
        kept, total = tracer.captured["sources.prune"]
        seq = self.spark.read.option("basePath", self.store.dir).parquet(*kept)
        seen = self.spark.createDataFrame(
            [(p, h) for p, hs in self.seen.items() for h in hs], "pointer string, hash string")
        return replay_pipeline(tracer, seq, self.sources, self.sinks, seen, self.watermark,
                               repartition=self.cores) | {
            "sources.files_kept": len(kept), "sources.files_total": total,
            "sources.kept_ratio": len(kept) / total,
            "dedup.seen_hashes": sum(len(v) for v in self.seen.values()),
            "state.manifest_bytes": _dir_bytes(self.state.root),
        }


class Fleet(Workload):
    """``run_fleet`` first tick of 21 connector configs on a fresh state."""

    name = "fleet"
    fixture_rows = 10_000
    n_files = 8  # enough scan splits to give every core a write task
    warm_ups = 4

    def __init__(self, spark, work, seed, cores):
        super().__init__(spark, work, seed, cores)
        from grove_spark.config import ConnectorConfig, run_fleet

        self.run_fleet = run_fleet
        self.store = os.path.join(work, "store")
        rows = inputs.write_store(self.paths, self.store, self.n_files)
        self.docs = inputs.fleet_docs(self.sources_pd, seed)
        self.configs = [ConnectorConfig.from_dict(dict(d)) for d in self.docs]
        self.expected = inputs.fleet_expectation(rows, self.docs)

    def _dirs(self, i):
        return os.path.join(self.work, f"state-{i}"), os.path.join(self.work, f"out-{i}")

    def invoke(self, i: int):
        from grove_spark.state.runstate import RunState

        state_dir, out = self._dirs(i)
        self.state = RunState(state_dir)
        return self.run_fleet(self.spark, self.configs, self.store, self.state, out_path=out)

    def output_dir(self, i: int, res) -> str:
        return f"{self._dirs(i)[1]}/part-{res['run_id']}"

    def check(self, i: int, res) -> tuple:
        exp = self.expected
        keys = ["connector", "identity", "descriptor"]
        run_dir = self.output_dir(i, res)
        got = rows_frame(read_output(run_dir, keys + ["doc_id", "routed_tokens"]),
                         keys + ["doc_id"], "routed_tokens")
        err = same_rows(exp[keys + ["doc_id", "th"]], got)
        if err is None:
            by_ref = {c.reference(): (c.connector, c.identity) for c in self.configs}
            sinks = {by_ref[ref] + (d,): (v["rows"], v["sum_n_tok"])
                     for ref, k in res["per_key"].items() for d, v in k["per_sink"].items()}
            err = _sink_check(exp, sinks, keys)
        return len(exp), parquet_bytes(run_dir), err

    def cleanup(self, i: int) -> None:
        for d in self._dirs(i):
            shutil.rmtree(d, ignore_errors=True)

    def replay(self, tracer) -> dict:
        from grove_spark.config import ConnectorConfig, assemble_fleet
        from grove_spark.operators.routing import sink_counts

        routed, deduped = tracer.captured["config.plan"]
        seq = self.spark.read.parquet(self.store)
        plain = [ConnectorConfig.from_dict({k: v for k, v in d.items() if k != "processors"})
                 for d in self.docs]
        unchained = assemble_fleet(self.spark, plain, seq)
        with tracer.span("replay"):
            with tracer.span("replay.scan"):
                t_scan = _noop(seq)
            with tracer.span("replay.dedup"):
                t_ded = _noop(deduped)
            with tracer.span("replay.route"):
                t_route = _noop(routed)
            with tracer.span("replay.unchained"):
                t_plain = _noop(unchained)
            with tracer.span("replay.counts"):
                t0 = time.perf_counter()
                sink_counts(routed).collect()
                t_counts = time.perf_counter() - t0
            n_seq, n_ded, n_routed, n_plain = (seq.count(), deduped.count(), routed.count(),
                                               unchained.count())
            skew = _skew(routed)
        return {
            "sources.scan_s": t_scan, "sources.rows_read": n_seq,
            "dedup.s": t_ded - t_scan,
            "processors.s": t_route - t_plain, "processors.rows_dropped": n_plain - n_routed,
            "routing.route_s": t_plain - t_ded, "routing.counts_s": t_counts,
            "routing.fanout": n_routed / n_ded, "routing.partition_skew": skew,
            "state.manifest_bytes": _dir_bytes(self.state.root),
        }


def replay_pipeline(tracer, seq, sources, sinks, seen, watermark, repartition: int) -> dict:
    """Cumulative prefix plans of ``build_pipeline`` into the noop sink:
    scan, +dedup, +parse, +enrich, +metadata, +route, +salted repartition
    into ``repartition`` partitions (0: none). Each layer's time is the
    difference between consecutive prefixes."""
    from pyspark.sql import functions as F

    from grove_spark.operators.dedup import dedup_by_hash, dedup_by_pointer
    from grove_spark.operators.enrich import enrich
    from grove_spark.operators.routing import route, salted_repartition, sink_counts
    from grove_spark.plans.metadata import grove_metadata
    from grove_spark.plans.parse import parse_stage

    scanned = seq if watermark is None else dedup_by_pointer(seq, "event_time", watermark,
                                                             inclusive=True)
    ded = dedup_by_hash(scanned, seen, HASH_COLS, "event_time")
    parsed = parse_stage(ded, "raw")
    enriched = enrich(parsed, sources, on="source")
    meta = grove_metadata(enriched, pointer=F.col("event_time").cast("string"),
                          collection_time="2026-01-01T00:00:00Z")
    routed = route(meta, sinks, connector_col="connector", raw_col="tokens")
    spread = salted_repartition(routed, repartition) if repartition else routed
    times = {}
    with tracer.span("replay"):
        for name, df in [("scan", seq), ("dedup", ded), ("parse", parsed), ("enrich", enriched),
                         ("metadata", meta), ("route", routed), ("repartition", spread)]:
            with tracer.span(f"replay.{name}"):
                times[name] = _noop(df)
        with tracer.span("replay.counts"):
            t0 = time.perf_counter()
            sink_counts(routed).collect()
            times["counts"] = time.perf_counter() - t0
        n_seq, n_scanned, n_ded, n_routed = seq.count(), scanned.count(), ded.count(), routed.count()
        failed = parsed.where(F.col("parsed.doc") == "").count()
        skew = _skew(spread)
    return {
        "sources.scan_s": times["scan"], "sources.rows_read": n_seq,
        "dedup.s": times["dedup"] - times["scan"], "dedup.rows_dropped": n_scanned - n_ded,
        "parse.s": times["parse"] - times["dedup"], "parse.failed_rows": failed,
        "enrich.s": times["enrich"] - times["parse"],
        "metadata.s": times["metadata"] - times["enrich"],
        "routing.route_s": times["route"] - times["metadata"],
        "routing.repartition_s": times["repartition"] - times["route"] if repartition else 0.0,
        "routing.counts_s": times["counts"], "routing.fanout": n_routed / max(n_ded, 1),
        "routing.partition_skew": skew,
    }


WORKLOADS = {w.name: w for w in (Tail, Fleet, Compute)}
