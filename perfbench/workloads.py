"""The benchmark workloads.

Each workload is a closed loop from one client. ``prepare`` restores its
cached inputs (building the cache entry on a miss) and ``unit`` runs one
unit of work: its operations, the consumer read after each, and the output
checks. Only
operations and reads are timed; checks run outside every span that counts.
Every operation has a kind; the op-time metrics are taken over the
workload's ``primary`` kind.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

import inputs
from metrics import pandas_hash

# The 18 query leaves of the repository's frozen bench.py, in its order.
LEAVES = (
    "verdicts", "row_violations", "unique_violations", "ts_monotonicity_violations",
    "ref_integrity_violations", "column_stats", "column_stats_approx", "drift_psi_role",
    "conv_turn_counts_salted", "exact_dedup_docs", "minhash_lsh_pairs", "ann_cosine_topk",
    "daily_usage_summary", "majority_vote", "quality_filter_stats",
    "refusal_rate_per_partition", "pricing_summary", "top_customers",
)

# Operator module each leaf calls; its execution is attributed to that layer.
LEAF_LAYER = {
    "verdicts": "engine", "row_violations": "engine", "unique_violations": "engine",
    "ts_monotonicity_violations": "engine", "ref_integrity_violations": "engine",
    "column_stats": "stats", "column_stats_approx": "stats", "drift_psi_role": "drift",
    "exact_dedup_docs": "dedup", "minhash_lsh_pairs": "dedup",
    "ann_cosine_topk": "similarity", "quality_filter_stats": "textquality",
    "refusal_rate_per_partition": "textquality",
}

# Approximate leaves have no oracle; their row count is pinned to an exact
# DuckDB query instead (one row per partition; the exact-Jaccard pairs the
# MinHash candidates are verified against).
ROW_PINS = {
    "column_stats_approx": "SELECT DISTINCT part_id FROM transcripts",
    "minhash_lsh_pairs": "ngram_jaccard_pairs",
}

CONTENT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


class Op:
    """Result of one timed operation and the consumer read after it."""

    def __init__(self, kind: str, op_span: dict, read_span: dict):
        self.kind = kind
        self.span, self.read_span = op_span["id"], read_span["id"]
        self.wall = op_span["end"] - op_span["start"]
        self.read = read_span["end"] - read_span["start"]
        self.cpu = op_span["cpu"] + read_span["cpu"]  # process-tree CPU seconds
        self.ok = True


def _violation_counts(df) -> dict[str, int]:
    return {r[0]: int(r[1]) for r in df.groupBy("constraint_id").count().collect()}


class Workload:
    name = ""
    primary = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.dir = os.path.join(ctx.work, self.name)

    def _fresh_dir(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def ratios(self) -> dict[str, float]:
        """Workload counters that per-layer ratios are taken over."""
        return {}


# ---------------------------------------------------------------------------


class IncrementalChain(Workload):
    """``tools/run_validation.py`` incremental mode with ``--sketch-expr``:
    each step validates the next snapshot against a manifest, registry and
    sketch store seeded from v0 as the tool's baseline run seeds them. The
    tool runs once per snapshot as a fresh spark-submit, so nothing is
    warmed up: a unit restores a fresh copy of the pristine seeded state,
    runs plain incremental steps v0 -> v1 -> ... -> v(K-1), then snapshot vK
    as a crash before commit, ``gc_orphan_batches`` and the resumed run."""

    name = "incremental_chain"
    primary = "step"
    N_TURNS = 20_000
    SNAPSHOTS = 2
    SKETCH_EXPR = "length(text)"

    def prepare(self):
        ctx = self.ctx
        self.base, base_hit = inputs.cached(ctx.cache, f"chain-base-n{self.N_TURNS}", self._build_base)
        with open(os.path.join(self.base, "base.json")) as f:
            self.meta = json.load(f)
        self.src, snap_hit = inputs.cached(
            ctx.cache, f"chain-s{ctx.seed}-n{self.N_TURNS}-k{self.SNAPSHOTS}",
            lambda tmp: inputs.write_snapshots(self.base, tmp, ctx.seed, self.SNAPSHOTS, self.meta["files"]))
        with open(os.path.join(self.src, "snapshots.json")) as f:
            self.snapshots = json.load(f)
        self.cache_hit = base_hit and snap_hit
        self._fresh_dir()
        self._restore()
        self.restored = True
        self.edited_rows = self.changed_parts = self.revalidated_parts = 0

    def _build_base(self, tmp: str) -> None:
        """v0 and its pristine seeded state: full validation registered as
        snapshot v0, plus its sketches. The committed per-constraint counts
        are what every step is checked against."""
        from pyspark.sql import functions as F

        from prompture_spark.operators import sketches as sk
        from prompture_spark.plans.spec import default_transcript_suite

        meta = inputs.write_base(self.spark, tmp, self.N_TURNS, 2 * self.ctx.ncpu)
        state0 = os.path.join(tmp, "state0")
        runner = self._runner(state0)
        v0 = self.spark.read.parquet(os.path.join(tmp, "v0"))
        summary = runner.run_full_and_register(v0, default_transcript_suite(), "v0", CONTENT_COLS)
        built = sk.partition_sketches(v0, self.SKETCH_EXPR, "part_id").select(
            F.col("part_id").alias("partition_id"), "sketch")
        cks = sk.snapshot_summary(v0, "part_id", CONTENT_COLS)
        sk.SketchStore(self.spark, os.path.join(state0, "sketches")).register(
            "v0", self.SKETCH_EXPR,
            built.join(cks.select(F.col("part").alias("partition_id"), "checksum"), "partition_id"))
        meta["parts"] = sorted(summary["partitions_run"])
        meta["seed_counts"] = _violation_counts(runner.read_violations(self._cfg("v0")))
        with open(os.path.join(tmp, "base.json"), "w") as f:
            json.dump(meta, f)

    def _restore(self) -> None:
        state = os.path.join(self.dir, "state")
        shutil.rmtree(state, ignore_errors=True)
        shutil.copytree(os.path.join(self.base, "state0"), state)

    def _runner(self, state: str):
        from prompture_spark.checkpoints.incremental import IncrementalRunner, SnapshotRegistry
        from prompture_spark.checkpoints.manifest import ManifestStore

        return IncrementalRunner(
            self.spark,
            ManifestStore(self.spark, os.path.join(state, "manifest")),
            SnapshotRegistry(self.spark, os.path.join(state, "registry")),
            os.path.join(state, "violations"),
        )

    @staticmethod
    def _cfg(ref: str) -> str:
        from prompture_spark.checkpoints.manifest import suite_config_hash
        from prompture_spark.plans.spec import default_transcript_suite

        return suite_config_hash(default_transcript_suite(), ref)

    def unit(self) -> list[Op]:
        from prompture_spark.operators import sketches as sk

        if not self.restored:
            self._restore()
        self.restored = False
        state = os.path.join(self.dir, "state")
        self.runner = self._runner(state)
        self.store = sk.SketchStore(self.spark, os.path.join(state, "sketches"))
        ops = [self._step(i) for i in range(1, self.SNAPSHOTS)]
        ops.append(self._resume(self.SNAPSHOTS))
        return ops

    def _read(self, ref: str) -> tuple[dict, dict[str, int]]:
        """The consumer read after a step, timed; then the committed
        per-constraint counts, untimed."""
        t = self.tracer
        with t.span("read:violations", "checkpoints") as rd:
            committed = self.runner.read_violations(self._cfg(ref))
            t.plan(committed)
            committed.count()
        with t.span("check", "check"):
            counts = _violation_counts(committed)
        return rd, counts

    def _step(self, i: int) -> Op:
        from prompture_spark.operators import sketches as sk
        from prompture_spark.plans.spec import default_transcript_suite

        prev, ref = f"v{i - 1}", f"v{i}"
        df = self.spark.read.parquet(os.path.join(self.src, ref))
        t = self.tracer
        with t.span(f"op:step_{ref}", "bench") as op:
            with t.span("checkpoints.run_incremental", "checkpoints"):
                summary = self.runner.run_incremental(df, default_transcript_suite(), prev, ref, CONTENT_COLS)
            with t.span("sketches.incremental_sketches", "sketches"):
                digests, sinfo = sk.incremental_sketches(
                    self.store, df, self.SKETCH_EXPR, CONTENT_COLS, prev, ref)
                merged = sk.merge_sketches(digests)
        rd, counts = self._read(ref)
        result = Op("step", op, rd)
        meta = self.snapshots[ref]
        self.edited_rows += meta["edited_rows"]
        self.changed_parts += len(summary["partitions_changed"])
        self.revalidated_parts += len(summary["partitions_run"])
        with t.span("check", "check"):
            result.ok = (
                counts == self.meta["seed_counts"]
                and merged.n == self.meta["non_null_text"]
                and summary["partitions_changed"] == summary["partitions_run"] == [meta["part"]]
                and sinfo["recomputed"] == [meta["part"]]
                and len(summary["partitions_carried"]) == len(sinfo["carried"]) == inputs.N_PARTS - 1
            )
        return result

    def _resume(self, i: int) -> Op:
        """Crash the validation of snapshot ``v{i}`` between its staged
        violation write and the manifest commit, collect the orphan, and
        resume."""
        from prompture_spark.plans.spec import default_transcript_suite

        suite = default_transcript_suite()
        ref = f"v{i}"
        df = self.spark.read.parquet(os.path.join(self.src, ref))
        t = self.tracer
        crashed = False
        with t.span(f"op:resume_{ref}", "bench") as op:
            with t.span("checkpoints.crashed_run", "checkpoints"):
                try:
                    self.runner.run(df, suite, ref, fail_after_batches=1, fail_before_commit=True)
                except RuntimeError as e:
                    crashed = "simulated crash" in str(e)
            with t.span("checkpoints.gc_orphan_batches", "checkpoints"):
                removed = self.runner.gc_orphan_batches()
            with t.span("checkpoints.resumed_run", "checkpoints"):
                summary = self.runner.run(df, suite, ref)
        rd, counts = self._read(ref)
        result = Op("resume", op, rd)
        with t.span("check", "check"):
            result.ok = (crashed and len(removed) == 1
                         and counts == self.meta["seed_counts"]
                         and sorted(summary["partitions_run"]) == self.meta["parts"])
        return result

    def ratios(self) -> dict[str, float]:
        return {
            "checkpoints.revalidated_per_changed": self.revalidated_parts / max(self.changed_parts, 1),
            "checkpoints.edited_rows": self.edited_rows,
        }


# ---------------------------------------------------------------------------


class CurationLeaves(Workload):
    """The 18 bench.py query leaves, in bench.py's order, over the sf0.001
    test tables with seeded row order, in one session, each written to a
    parquet sink that a pandas consumer reads back. A unit is one pass; there is
    no warm-up, so the first pass pays the cold planning and codegen that
    dominate these small leaves, and later passes (given more
    ``--seconds``) run warm. The order is fixed because a leaf's cold cost
    depends on which leaves compiled shared code before it."""

    name = "curation_leaves"
    primary = "leaf"

    def prepare(self):
        ctx = self.ctx
        self.tables, self.cache_hit = inputs.cached(
            ctx.cache, f"tables-s{ctx.seed}-{inputs.tables_digest()}", self._build)
        with open(os.path.join(self.tables, "pins.json")) as f:
            self.pins = json.load(f)
        self._fresh_dir()

    def _build(self, tmp: str) -> None:
        inputs.write_tables(tmp, self.ctx.seed)
        with open(os.path.join(tmp, "pins.json"), "w") as f:
            json.dump(oracle_pins(tmp), f)

    def unit(self) -> list[Op]:
        from prompture_spark import queries as Q

        t = self.tracer
        ops = []
        for name in LEAVES:
            out = os.path.join(self.dir, name)
            layer = LEAF_LAYER.get(name, "queries")
            with t.span(f"op:{name}", "bench") as op:
                with t.span("queries.build", "queries"):
                    df = Q.QUERIES[name](self.spark, self.tables)
                t.plan(df)
                with t.span(f"{layer}.exec", layer):
                    df.write.mode("overwrite").parquet(out)
            with t.span("read:" + name, "consumer") as rd:
                rows = pq.read_table(out).to_pandas()
            result = Op("leaf", op, rd)
            with t.span("check", "check"):
                result.ok = self.check(name, rows)
            self.spark.catalog.clearCache()
            ops.append(result)
        return ops

    def check(self, name: str, pdf) -> bool:
        pin = self.pins[name]
        if len(pdf) != pin["rows"]:
            return False
        if "hash" not in pin:
            return True
        return sorted(pdf.columns) == pin["columns"] and pandas_hash(pdf) == pin["hash"]


def oracle_pins(tables: str) -> dict:
    """Expected output of every leaf on the tables under ``tables``: an
    exact hash and column list from the leaf's DuckDB oracle, or, for an
    approximate leaf, the row count of its exact counterpart."""
    import duckdb

    from prompture_spark.queries import ORACLES
    from prompture_spark.sources.transcripts import ORACLE_TRANSCRIPTS_CTE

    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        pins = {}
        for name in LEAVES:
            if name in ORACLES:
                df = con.execute(ORACLES[name]).df()
                pins[name] = {"rows": len(df), "columns": sorted(df.columns), "hash": pandas_hash(df)}
            else:
                q = ROW_PINS[name]
                sql = ORACLES[q] if q in ORACLES else ORACLE_TRANSCRIPTS_CTE + "\n" + q
                pins[name] = {"rows": len(con.execute(sql).df())}
    finally:
        con.close()
    return pins


WORKLOADS = {w.name: w for w in (IncrementalChain, CurationLeaves)}
