"""The benchmark's workloads. Each is a closed loop with one client.

A workload is built from a seed and the run length, so the same seed and
run length give the same fixed operation sequence. Its hooks run in this
order: ``prepare`` (inputs, before the Spark session exists), ``setup``
(first load and warm-up, counted in set-up time), ``run`` (the timed
phase), ``settle`` (before the live-heap reading), ``check`` (output
checks, untimed), ``stop`` and ``layers`` (per-layer metrics, traced
runs only).
"""

from __future__ import annotations

import json
import os
import queue
import statistics
import time

import numpy as np

from . import inputs

RELEASE_KEYS = (
    "prepared_plans", "llmops_sigs", "llmops_matrices", "llmops_wordcounts",
    "llmops_ckpts", "dispatch_probes", "dim_cache", "bucket_routes",
)
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Ctx:
    """Per-run state shared by the runner and the workload hooks."""

    def __init__(self, seed: int, seconds: int, work_dir: str, tracer):
        self.seed, self.seconds, self.work_dir = seed, seconds, work_dir
        self.tracer = tracer
        self.spark = None


# ---------------------------------------------------------------------------
# llm_pipeline
# ---------------------------------------------------------------------------


class _FetchedFrame:
    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Fetched:
    """A registry entry whose ``fn`` hands back an already-fetched
    result, so ``verify.run_and_compare`` checks the timed output
    itself instead of executing the query again."""

    def __init__(self, query, pdf):
        self.oracle = query.oracle
        self.fn = lambda _spark, _dir: _FetchedFrame(pdf)


class LlmPipelineWorkload:
    """One registry entry per operation on a cold engine: drain every
    engine cache with ``session.release_all`` (untimed), build the plan
    by calling the registry function, then fetch through Arrow with
    ``toPandas()``."""

    # i2c_simhash is swapped for i6_tfidf_keywords: its oracle pins the
    # answer to the fixture files' fingerprint, so it cannot check
    # generated inputs. The last three are replica reads (ClickHouse
    # ANY JOIN, SQL window QUALIFY, SQL GROUPING SETS) that keep the
    # joins, windows, aggregates, sqlapi and chdialect layers measured.
    CATALOG = (
        "i1_exact_dedup", "i2b_jaccard_exact", "i6_tfidf_keywords",
        "i22_containment_dedup", "i3_cosine_pairs", "i4_topk_similar",
        "i5_text_stats", "i10_quality_score",
        "s16_ch_any_join", "s2_sql_window_qualify", "s4_grouping_sets",
    )
    ROUNDS_PER_10S = 1.6
    # documents and embeddings at a fifth and a quarter of sf0.1: the
    # DuckDB oracles of the pair operators (i2b, i22, i3, i4) are
    # quadratic and would not fit a run's time at full size
    TABLE_ROWS = {"documents": 1_000, "embeddings": 500}

    def prepare(self, ctx: Ctx) -> None:
        ctx.data_dir = inputs.write_tables(
            ctx.seed, os.path.join(ctx.work_dir, "data"), self.TABLE_ROWS)
        rounds = max(2, round(ctx.seconds * self.ROUNDS_PER_10S / 10))
        rng = np.random.default_rng(ctx.seed + 2)
        ctx.sequence = [
            self.CATALOG[i]
            for _ in range(rounds)
            for i in rng.permutation(len(self.CATALOG))
        ]

    def setup(self, ctx: Ctx) -> dict[str, float]:
        from mysql_to_clickhouse_spark import tables
        from mysql_to_clickhouse_spark.registry import all_queries

        t0 = time.perf_counter()
        tables.load(ctx.spark, ctx.data_dir, "events")
        t1 = time.perf_counter()
        ctx.registry = all_queries()
        ctx.cold_s = {}
        for qid in self.CATALOG:
            s = time.perf_counter()
            ctx.registry[qid].fn(ctx.spark, ctx.data_dir).toPandas()
            ctx.cold_s[qid] = time.perf_counter() - s
        return {"first_load_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def run(self, ctx: Ctx) -> list[tuple[str, float]]:
        from mysql_to_clickhouse_spark.session import release_all

        tr = ctx.tracer
        ctx.outputs, ctx.release_counts = {}, dict.fromkeys(RELEASE_KEYS, 0)
        ops = []
        for i, qid in enumerate(ctx.sequence):
            fn = ctx.registry[qid].fn
            with tr.span("session.release_all", i):
                counts = release_all(ctx.spark)
            for k, v in counts.items():
                ctx.release_counts[k] = ctx.release_counts.get(k, 0) + v
            t0 = time.perf_counter()
            with tr.span(f"registry.{qid}", i):
                with tr.span(f"registry.{qid}.build_s", i):
                    df = fn(ctx.spark, ctx.data_dir)
                with tr.span(f"registry.{qid}.exec_fetch_s", i):
                    pdf = df.toPandas()
            ops.append((qid, time.perf_counter() - t0))
            ctx.outputs.setdefault(qid, []).append(pdf)
        return ops

    def settle(self, ctx: Ctx) -> None:
        """Drain the caches the last operation filled, so the live-heap
        reading does not depend on which entry the seeded order put
        last."""
        from mysql_to_clickhouse_spark.session import release_all

        release_all(ctx.spark)

    def check(self, ctx: Ctx, ops) -> int:
        """Oracle-check the last timed output of every entry through
        ``verify.run_and_compare``; every other timed output of that
        entry must match it in columns and row count. Returns the number
        of failed operations."""
        from mysql_to_clickhouse_spark import verify

        ctx.output_rows = {q: len(outs[-1]) for q, outs in ctx.outputs.items()}
        con = verify.duckdb_connection(ctx.data_dir)
        failed = 0
        try:
            for qid, outs in ctx.outputs.items():
                res = verify.run_and_compare(
                    ctx.spark, con, _Fetched(ctx.registry[qid], outs[-1]),
                    ctx.data_dir)
                if not res.ok:
                    print(f"CHECK FAILED {qid}: {res.detail}", flush=True)
                    failed += 1
                ref = (list(outs[-1].columns), len(outs[-1]))
                failed += sum(
                    (list(o.columns), len(o)) != ref for o in outs[:-1])
        finally:
            con.close()
        return failed

    def stop(self, ctx: Ctx) -> None:
        pass

    def layers(self, ctx: Ctx, ops) -> dict[str, float]:
        tr, out = ctx.tracer, {}
        for qid in self.CATALOG:
            for part in ("build_s", "exec_fetch_s"):
                out[f"registry.{qid}.{part}"] = _median(
                    tr.durations(f"registry.{qid}.{part}"))
            out[f"registry.{qid}.cold_s"] = ctx.cold_s[qid]
        out["session.release_all_s"] = _median(tr.durations("session.release_all"))
        for k in RELEASE_KEYS:
            out[f"session.release_all.{k}"] = ctx.release_counts.get(k, 0) / len(ops)
        return out


# ---------------------------------------------------------------------------
# binlog_cdc
# ---------------------------------------------------------------------------


class BinlogCdcWorkload:
    """One operation lands one pre-generated binlog rotation in the
    tailed directory by atomic rename, waits for the long-running
    ``read_binlog_stream -> foreachBatch(make_binlog_apply)`` query to
    apply it, then runs a FINAL read (``read_binlog_state`` -> group by
    event_type -> Arrow fetch). Freshness is rename -> read returned."""

    ROWS_PER_ROTATION = 2000
    ROTATIONS_PER_10S = 15
    # the first ~7 rotations after stream start run 20-35% slower while
    # the JVM compiles the apply path; three warm-up rotations left that
    # slope inside the timed phase and swung the run's median
    WARMUP = 10

    def prepare(self, ctx: Ctx) -> None:
        from mysql_to_clickhouse_spark.sources.binlog import write_binlog

        n = self.WARMUP + max(30, round(ctx.seconds * self.ROTATIONS_PER_10S / 10))
        ctx.rotations, ctx.expected = inputs.binlog_ops(
            ctx.seed, n, self.ROWS_PER_ROTATION)
        ctx.staging = os.path.join(ctx.work_dir, "binlog_staging")
        ctx.log_dir = os.path.join(ctx.work_dir, "binlog")
        ctx.ckpt = os.path.join(ctx.work_dir, "checkpoint")
        ctx.state_root = os.path.join(ctx.work_dir, "state")
        for d in (ctx.staging, ctx.log_dir, ctx.state_root):
            os.makedirs(d)
        tschema = inputs.binlog_schema()
        ctx.names = [f"binlog.{i + 1:06d}" for i in range(n)]
        for name, ops in zip(ctx.names, ctx.rotations):
            write_binlog(os.path.join(ctx.staging, name), tschema, ops)

    def setup(self, ctx: Ctx) -> dict[str, float]:
        from mysql_to_clickhouse_spark.sources.binlog import read_binlog_stream
        from mysql_to_clickhouse_spark.streaming.cdc import make_binlog_apply

        apply = make_binlog_apply(ctx.state_root)
        ctx.applied = queue.Queue()

        def on_batch(batch, batch_id):
            t_enter = time.perf_counter()
            apply(batch, batch_id)
            ctx.applied.put((batch_id, t_enter, time.perf_counter()))

        t0 = time.perf_counter()
        ctx.query = (
            read_binlog_stream(ctx.spark, ctx.log_dir, inputs.BINLOG_COLS,
                               inputs.BINLOG_TYPES)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ctx.ckpt)
            .start()
        )
        t1 = time.perf_counter()
        ctx.failed_ops = 0
        for i in range(self.WARMUP):
            self._op(ctx, i)
        return {"first_load_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def _op(self, ctx: Ctx, i: int) -> tuple[float, int]:
        from mysql_to_clickhouse_spark.streaming.cdc import read_binlog_state

        tr, name = ctx.tracer, ctx.names[i]
        with tr.span("binlog_cdc.rotation", i) as op:
            t_land = time.perf_counter()
            os.rename(os.path.join(ctx.staging, name),
                      os.path.join(ctx.log_dir, name))
            batch_id, t_enter, t_exit = ctx.applied.get(timeout=120)
            parent = op.id if tr.enabled else None
            tr.add("streaming.cdc.discover_s", t_land, t_enter, i, parent)
            tr.add("streaming.cdc.apply_s", t_enter, t_exit, i, parent)
            with tr.span("streaming.cdc.final_read_s", i):
                pdf = (read_binlog_state(ctx.spark, ctx.state_root)
                       .groupBy("event_type").count().toPandas())
            latency = time.perf_counter() - t_land
        got = {r.event_type: int(r["count"]) for _, r in pdf.iterrows()}
        if got != ctx.expected[i]:
            print(f"CHECK FAILED rotation {name}: {got} != {ctx.expected[i]}",
                  flush=True)
            ctx.failed_ops += 1
        return latency, batch_id

    def run(self, ctx: Ctx) -> list[tuple[str, float]]:
        ops = []
        for i in range(self.WARMUP, len(ctx.names)):
            latency, batch_id = self._op(ctx, i)
            if not ops:
                ctx.first_batch = batch_id
            ops.append(("rotation", latency))
        ctx.work_done = self.ROWS_PER_ROTATION * len(ops)
        return ops

    def settle(self, ctx: Ctx) -> None:
        pass

    def check(self, ctx: Ctx, ops) -> int:
        """Per-rotation event_type counts were checked inside each
        operation. Here the whole final replica must equal a DuckDB
        recomputation of the generated op stream: latest row per user_id
        in (log_file, log_pos, seq) order, deletes dropped. Within one
        file the decoder's seq is the op's position, so (file, position)
        is the same order."""
        import duckdb
        import pandas as pd

        from mysql_to_clickhouse_spark import verify
        from mysql_to_clickhouse_spark.streaming.cdc import read_binlog_state

        rows = []
        for f, rot in enumerate(ctx.rotations):
            for j, (kind, img) in enumerate(rot):
                img = img[1] if kind == "update" else img
                rows.append((f, j, kind, *img))
        ops_df = pd.DataFrame(rows, columns=["file", "pos", "op", *inputs.BINLOG_COLS])
        con = duckdb.connect()
        try:
            con.register("ops_df", ops_df)
            want = con.sql(
                "SELECT user_id, event_id, ts_us, event_type, value FROM ("
                " SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id"
                "  ORDER BY file DESC, pos DESC) AS rn FROM ops_df)"
                " WHERE rn = 1 AND op <> 'delete'").df()
        finally:
            con.close()
        got = read_binlog_state(ctx.spark, ctx.state_root).toPandas()
        res = verify.compare_frames(got, want)
        if not res.ok:
            print(f"CHECK FAILED final replica: {res.detail}", flush=True)
        return ctx.failed_ops + (0 if res.ok else 1)

    def stop(self, ctx: Ctx) -> None:
        q = getattr(ctx, "query", None)
        if q is not None and q.isActive:
            ctx.progress = [json.loads(p.json()) for p in q._jsq.recentProgress()]
            q.stop()
            q.awaitTermination(60)

    def layers(self, ctx: Ctx, ops) -> dict[str, float]:
        from mysql_to_clickhouse_spark.sources.binlog import decode_binlog_bytes

        tr, out = ctx.tracer, {}
        for name in ("discover_s", "apply_s", "final_read_s"):
            out[f"streaming.cdc.{name}"] = _median(
                tr.durations(f"streaming.cdc.{name}")[self.WARMUP:])
        timed = [p for p in getattr(ctx, "progress", [])
                 if p.get("numInputRows", 0) > 0
                 and p.get("batchId", -1) >= ctx.first_batch]
        for ph in STREAM_PHASES:
            out[f"spark.stream.{ph}_ms"] = _median(
                [p["durationMs"].get(ph, 0) for p in timed])
        n_rows, t0 = 0, time.perf_counter()
        for name in ctx.names[self.WARMUP:]:
            with open(os.path.join(ctx.log_dir, name), "rb") as f:
                n_rows += sum(1 for _ in decode_binlog_bytes(f.read()))
        out["sources.binlog.decode_rows_per_s"] = n_rows / (time.perf_counter() - t0)
        versions = [d for d in os.listdir(ctx.state_root)
                    if d.startswith("v") and d[1:].isdigit()]
        written = sum(
            os.path.getsize(os.path.join(dp, f))
            for d in versions if int(d[1:]) >= ctx.first_batch
            for dp, _, fs in os.walk(os.path.join(ctx.state_root, d))
            for f in fs
        )
        out["streaming.cdc.bytes_written_per_row"] = written / ctx.work_done
        out["streaming.cdc.state_versions"] = len(versions)
        return out


WORKLOADS = {"binlog_cdc": BinlogCdcWorkload, "llm_pipeline": LlmPipelineWorkload}
