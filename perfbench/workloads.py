"""The benchmark's workloads: one closed-loop client each, on one driver.

``ingest``    every ingestion path of the pipeline in one fresh-session job:
              the ten parquet tables and the JDBC ``orders`` table through
              ``pipeline.ingest_tables`` (replace mode, audit on), plus
              resumable ``availableNow`` stream increments on one checkpoint.
              The seed shuffles the order and makes the inputs.
``query_mix`` a fixed list of registry keys, each collected to the client,
              in a seeded order. Read-only: it bypasses the write, envelope
              and audit path that ``ingest`` exercises.

A workload prepares its inputs when constructed, readies a fresh target in
:meth:`setup` (repeated per set-up round) and yields checked operations from
:meth:`pass_ops`. An operation is one table snapshot, stream increment or
query; a failed call or a failed output check counts it as failed. Checks
and traced probes run outside the operation's measured region.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import datagen
from tracing import StreamProgress, tree_bytes, tree_cpu_s

JDBC_TABLES = ["orders"]
STREAM_INCREMENTS = 2          # per pass; the first pays query start-up
STREAM_MEAN_KEYS = 10_000      # seeded sizes, summing to this mean per pass

# The ten reference-surface keys and the TPC-H pricing summary: as many as
# one fresh-session pass can afford within the run-time budget.
QUERY_KEYS = [
    "q_scan_project", "q_skip_offset", "q_watermark_filter",
    "q_snapshot_count", "q_max_watermark", "q_row_hash", "q_tech_columns",
    "q_hash_mismatch_agg", "q_hash_mismatch_topk", "q_point_lookup",
    "q_pricing_summary",
]


@dataclass
class Op:
    kind: str
    name: str
    seconds: float = 0.0
    cpu_s: float = 0.0
    rows: int = 0
    ok: bool = False
    detail: str = ""


class Context:
    """Run-wide state shared by the workload and the runner."""

    def __init__(self, work: str, seed: int, nproc: int,
                 sf: float | None = None, inject_corruption: bool = False):
        self.sf = sf
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.rng = random.Random(seed)
        self.inject_corruption = inject_corruption
        self.spark = None
        self.tracer = None
        self.listener: StreamProgress | None = None
        self.layer: dict[str, list[float]] = {}
        self.check_s = 0.0  # output checks run between timed operations

    def note(self, metric: str, value: float) -> None:
        """Record one per-layer sample (traced runs only)."""
        self.layer.setdefault(metric, []).append(value)

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


@contextmanager
def measured(op: Op):
    """Wall and CPU seconds of the body, stored on ``op``."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        yield
    finally:
        op.seconds = time.perf_counter() - t0
        op.cpu_s = tree_cpu_s() - c0


# --------------------------------------------------------------------- ingest

class IngestWorkload:
    name = "ingest"
    # Scale factor of the generated inputs (lineitem ~ 6M x sf rows). At this
    # size a table's snapshot cost is mostly its Spark job count, the fixed
    # cost per table, which keeps one fresh-session pass inside the budget.
    sf = 0.01

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        tables = datagen.make_tables(ctx.seed, ctx.sf or self.sf)
        datagen.write_tables(tables, self.src)
        self.rows = {n: t.num_rows for n, t in tables.items()}
        self.csv = datagen.write_derby_csv(tables, os.path.join(ctx.work, "csv"),
                                           JDBC_TABLES)
        self.url = None
        self.tgt = os.path.join(ctx.work, "target")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        self.stream_cutoff = -1
        self.stream_keys = 0
        self.derby_log = os.path.join(ctx.work, "derby.log")

    def load_sources(self, spark) -> None:
        """Bulk-load the JDBC source into in-memory Derby, which lives in the
        driver JVM and so outlasts session restarts. Derby's own import does
        this work, not the program, so it is input preparation."""
        self.url = "jdbc:derby:memory:perfbench;create=true"
        datagen.load_derby(spark, self.url, self.csv)

    def setup(self) -> None:
        """Fresh, empty target and checkpoint for this set-up round."""
        for d in (self.tgt, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.stream_cutoff = -1
        self.stream_keys = 0

    def pass_ops(self):
        ctx = self.ctx
        plan = ([("parquet", t) for t in datagen.TABLES]
                + [("jdbc", t) for t in JDBC_TABLES]
                + [("stream", "increment")] * STREAM_INCREMENTS)
        ctx.rng.shuffle(plan)
        # seeded increment sizes with a fixed total, so every seed lands the
        # same number of rows
        sizes = [ctx.rng.randint(STREAM_MEAN_KEYS // 2, 3 * STREAM_MEAN_KEYS // 2)
                 for _ in range(STREAM_INCREMENTS - 1)]
        self.increments = sizes + [STREAM_INCREMENTS * STREAM_MEAN_KEYS - sum(sizes)]
        for kind, name in plan:
            yield getattr(self, f"_{kind}")(name)

    def source_rows(self) -> int:
        return (sum(self.rows.values())
                + sum(self.rows[t] for t in JDBC_TABLES) + self.stream_keys)

    def footprint(self) -> int:
        return sum(tree_bytes(d)[0] for d in (self.src, self.tgt, self.ckpt))

    # -- operations --

    def _check(self, op: Op, res, expected: int) -> Op:
        rep = res.report
        op.rows = expected
        op.ok = (res.ok and rep.source_count == expected
                 and rep.target_count == expected)
        if not op.ok:
            op.detail = res.error or f"audit {rep}"
        return op

    def _parquet(self, table: str) -> Op:
        from flink_job_spark.pipeline import IngestConfig, ingest_tables
        from flink_job_spark.sources.tables import load_table

        ctx, key = self.ctx, datagen.ORDER_KEYS[table]
        path = os.path.join(self.tgt, table)
        op = Op("parquet", table)
        with measured(op), ctx.tracer.span("pipeline.table", table) as sp:
            df = load_table(ctx.spark, self.src, table)
            res = ingest_tables(ctx.spark, [(df, table, path, key)],
                                IngestConfig(mode="replace"))[0]
        self._check(op, res, self.rows[table])
        if sp is not None:
            self._probe_snapshot(table, df, key, path, sp, res, "tables", None)
        return op

    def _jdbc(self, table: str) -> Op:
        from flink_job_spark.pipeline import IngestConfig, ingest_tables
        from flink_job_spark.sources.jdbc import JdbcSnapshotSource
        from flink_job_spark.sources.metadata import (
            detect_primary_key,
            read_key_bounds,
            read_table_metadata,
            read_watermark_value,
        )

        ctx, spark, url = self.ctx, self.ctx.spark, self.url
        name = f"jdbc_{table}"
        path = os.path.join(self.tgt, name)
        op = Op("jdbc", name)
        mark = self._derby_mark()
        with measured(op):
            with ctx.tracer.span("sources.jdbc.metadata", name) as s_meta:
                infos = {c.name: c for c in read_table_metadata(spark, url, table)}
                key = detect_primary_key(spark, url, table) or next(iter(infos))
                bounds = read_key_bounds(spark, url, table, key)
            with ctx.tracer.span("sources.jdbc.watermark", name) as s_wm:
                cutoff = read_watermark_value(spark, url, table, key)
            with ctx.tracer.span("pipeline.table", name) as sp:
                df = JdbcSnapshotSource(url, table, list(infos), key,
                                        cutoff=cutoff, num_partitions=ctx.nproc,
                                        bounds=bounds, infos=infos).reader(spark).load()
                res = ingest_tables(spark, [(df, name, path, key, infos)],
                                    IngestConfig(mode="replace"))[0]
        self._check(op, res, self.rows[table])
        if sp is not None:
            ctx.note("sources.jdbc.metadata_s", s_meta.seconds)
            ctx.note("sources.jdbc.watermark_s", s_wm.seconds)
            ctx.note("sources.jdbc.roundtrips", self._derby_statements(mark))
            self._probe_snapshot(name, df, key, path, sp, res, "jdbc", infos)
        return op

    def _stream(self, name: str) -> Op:
        from pyspark.sql import functions as F

        from flink_job_spark.streaming.ingest import stream_paged_ingest_audited

        ctx = self.ctx
        inc = self.increments.pop(0)
        name = f"increment{STREAM_INCREMENTS - len(self.increments)}"
        floor, cutoff = self.stream_cutoff, self.stream_cutoff + inc
        tgt = os.path.join(self.tgt, "stream")
        op = Op("stream", name, rows=inc)
        corrupt = F.lit("corrupt") if ctx.inject_corruption else None
        seen = (ctx.listener.terminated, len(ctx.listener.batches)) \
            if ctx.listener else None
        try:
            with measured(op), ctx.tracer.span("streaming.increment", name) as sp:
                ledger = stream_paged_ingest_audited(
                    ctx.spark, cutoff, tgt, self.ckpt, row_hash=corrupt)
        except Exception as e:  # a failed epoch fails the increment
            op.detail = f"{type(e).__name__}: {str(e)[:200]}"
            return op
        self.stream_cutoff = cutoff
        self.stream_keys += inc
        op.ok = (all(r.ok for r in ledger)
                 and sum(r.source_count for r in ledger) == inc)
        if not op.ok:
            op.detail = f"ledger {ledger} for {inc} keys"
        if sp is not None:
            self._probe_stream(sp, seen, ledger, floor, cutoff, tgt)
        return op

    # -- traced probes (run after the operation, so its timing is untouched) --

    def _probe_snapshot(self, name, df, key, path, sp, res, source_kind, infos):
        from pyspark.sql import functions as F

        from flink_job_spark.functions.hashing import row_hash_column, row_hash_sql_expr
        from flink_job_spark.operators.audit import run_consistency_check
        from flink_job_spark.operators.envelope import tech_column_names, with_envelope
        from flink_job_spark.operators.snapshot import cutoff_predicate, freeze_cutoff

        ctx, tr = self.ctx, self.ctx.tracer
        rows = max(1, res.report.source_count if res.report else 0)
        cols = list(df.columns)
        with tr.span(f"sources.{source_kind}.scan", name, sp.name) as s_scan:
            ctx.noop(df)
        with tr.span("operators.snapshot.cutoff", name, sp.name) as s_cut:
            cutoff = freeze_cutoff(df, key)
        with tr.span("operators.snapshot.count", name, sp.name) as s_cnt:
            df.filter(cutoff_predicate(key, cutoff)).count()
        with tr.span("functions.hashing", name, sp.name) as s_hash:
            ctx.noop(df.select(row_hash_column(df, cols, infos)))
        with tr.span("operators.envelope.stamp", name, sp.name) as s_env:
            names = tech_column_names(cols)
            ctx.noop(with_envelope(df, infos=infos).withColumn(
                names["row_hash_iceberg"],
                F.expr(row_hash_sql_expr(df.schema, cols, infos))))
        with tr.span("operators.audit.check", name, sp.name) as s_aud:
            rep = run_consistency_check(
                name, rows, ctx.spark.read.parquet(path),
                cutoff_predicate(key, cutoff),
                h1=names["row_hash"], h2=names["row_hash_iceberg"])
        nbytes, nfiles = tree_bytes(path)
        ctx.note(f"sources.{source_kind}.scan_s", s_scan.seconds)
        ctx.note("sources.rows_read", rows)
        ctx.note("operators.snapshot.cutoff_s", s_cut.seconds)
        ctx.note("operators.snapshot.count_s", s_cnt.seconds)
        # summed over tables, then divided: per-table ratios of the tiny
        # tables are all job overhead
        ctx.note("functions.hashing.s", max(0.0, s_hash.seconds - s_scan.seconds))
        ctx.note("functions.hashing.rows", rows)
        ctx.note("operators.envelope.stamp_s",
                 max(0.0, s_env.seconds - s_scan.seconds))
        ctx.note("operators.audit.check_s", s_aud.seconds)
        ctx.note("operators.audit.rows_scanned", rep.target_count)
        ctx.note("pipeline.table_s", sp.seconds)
        ctx.note("pipeline.write_s", max(0.0, sp.seconds - s_cut.seconds
                                         - s_cnt.seconds - s_aud.seconds))
        ctx.note("pipeline.jobs_per_table", sp.jobs)
        ctx.note("pipeline.bytes_written", nbytes)
        ctx.note("pipeline.files_written", nfiles)
        ctx.note("session.tasks_failed", sp.failed_tasks)

    def _probe_stream(self, sp, seen, ledger, floor, cutoff, tgt):
        ctx, lst = self.ctx, self.ctx.listener
        lst.wait_terminated(seen[0] + 1)
        batches = lst.batches[seen[1]:]
        trig = sum(b.get("triggerExecution", 0) for b in batches)
        with ctx.tracer.span("sources.paged.scan", sp.op_id, sp.name) as s_scan:
            ctx.noop(ctx.spark.read.format("paged_cursor")
                     .option("floor", floor).option("cutoff", cutoff)
                     .option("fetch_size", 1000).load())
        ctx.note("streaming.start_s", max(0.0, sp.seconds - trig / 1000.0))
        for key, metric in (("queryPlanning", "planning_ms"),
                            ("latestOffset", "latest_offset_ms"),
                            ("walCommit", "wal_commit_ms"),
                            ("addBatch", "add_batch_ms"),
                            ("triggerExecution", "trigger_ms")):
            ctx.note(f"streaming.{metric}", sum(b.get(key, 0) for b in batches))
        ctx.note("streaming.epochs", len(batches))
        ctx.note("streaming.target_files", tree_bytes(tgt)[1])
        ctx.note("sources.paged.scan_s", s_scan.seconds)
        ctx.note("sources.rows_read", cutoff - floor)
        ctx.note("operators.audit.rows_scanned",
                 sum(r.target_count for r in ledger))
        ctx.note("session.tasks_failed", sp.failed_tasks)

    def _derby_mark(self) -> int:
        try:
            return os.path.getsize(self.derby_log)
        except OSError:
            return 0

    def _derby_statements(self, mark: int) -> int:
        """Statements the Derby source executed since ``mark`` (statement
        text logging is on in traced runs only)."""
        with open(self.derby_log, "rb") as fh:
            fh.seek(mark)
            return fh.read().count(b"Executing prepared statement")


# ------------------------------------------------------------------ query mix

def _cell(v) -> str:
    import pandas as pd

    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def _column_cells(series) -> list[str]:
    """Canonical cells of one column; numeric columns skip the per-cell
    type dispatch but render exactly as :func:`_cell` would."""
    kind = series.dtype.kind
    if kind == "f":
        return ["<null>" if x != x else repr(x) for x in series.tolist()]
    if kind in "iub":
        return [str(x) for x in series.tolist()]
    if kind == "M" and not series.dt.nanosecond.any():
        # Timestamp.isoformat(): seconds, plus .ffffff when non-zero
        base = series.dt.strftime("%Y-%m-%dT%H:%M:%S").tolist()
        return [("<null>" if b != b else b if not us else f"{b}.{us:06d}")
                for b, us in zip(base, series.dt.microsecond.fillna(0)
                                 .astype("int64").tolist())]
    return [v if type(v) is str else _cell(v) for v in series.tolist()]


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result: columns by lower-cased name,
    cells canonically rendered (floats by repr, NaN as null), rows sorted.
    Returns ``<rows>:<md5>``."""
    pdf = pdf.rename(columns=str.lower)
    cols = sorted(pdf.columns)
    cells = [_column_cells(pdf[c]) for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*cells)) if cols else []
    h = hashlib.md5("\x1e".join(cols).encode())
    h.update("\x1e".join(rows).encode())
    return f"{len(pdf)}:{h.hexdigest()}"


class QueryMixWorkload:
    name = "query_mix"
    # smaller than ingest: every run computes the DuckDB oracles again
    sf = 0.005

    def __init__(self, ctx: Context):
        import duckdb

        from flink_job_spark.queries import all_queries

        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        tables = datagen.make_tables(ctx.seed, ctx.sf or self.sf)
        datagen.write_tables(tables, self.src)
        self.rows = {n: t.num_rows for n, t in tables.items()}
        self.specs = {k: all_queries()[k] for k in QUERY_KEYS}
        lacking = [k for k, spec in self.specs.items() if not spec.oracle]
        if lacking:
            raise ValueError(f"query mix keys without a DuckDB oracle: {lacking}")
        # oracle digests and input rows per key, computed before set-up
        self.expected: dict[str, str] = {}
        self.input_rows: dict[str, int] = {}
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.src}/{t}.parquet')")
            for k, spec in self.specs.items():
                self.expected[k] = frame_digest(con.execute(spec.oracle).df())
                read = set(re.findall(r"(?i)\b(?:from|join)\s+(\w+)", spec.oracle))
                self.input_rows[k] = sum(self.rows[t] for t in read & set(self.rows))
        finally:
            con.close()

    def load_sources(self, spark) -> None:
        pass

    def setup(self) -> None:
        pass

    def pass_ops(self):
        keys = list(QUERY_KEYS)
        self.ctx.rng.shuffle(keys)
        for k in keys:
            yield self._query(k)

    def _query(self, key: str) -> Op:
        from flink_job_spark.session import unpersist_all

        ctx = self.ctx
        op = Op("query", key, rows=self.input_rows[key])
        try:
            with measured(op), ctx.tracer.span(f"queries.{key}", key) as sp:
                result = self.specs[key].fn(ctx.spark, self.src).toPandas()
        except Exception as e:
            op.detail = f"{type(e).__name__}: {str(e)[:200]}"
            return op
        finally:
            # queries persist reused subplans; release them between keys
            unpersist_all(ctx.spark)
        t0 = time.perf_counter()
        got, want = frame_digest(result), self.expected[key]
        ctx.check_s += time.perf_counter() - t0
        op.ok = got == want
        op.detail = "" if op.ok else f"digest {got} != oracle {want}"
        if sp is not None:
            ctx.note(f"queries.{key}.s", sp.seconds)
            ctx.note(f"queries.{key}.jobs", sp.jobs)
            ctx.note("sources.rows_read", op.rows)
            ctx.note("session.tasks_failed", sp.failed_tasks)
        return op

    def source_rows(self) -> int:
        return sum(self.rows.values())

    def footprint(self) -> int:
        return tree_bytes(self.src)[0]


WORKLOADS = {w.name: w for w in (IngestWorkload, QueryMixWorkload)}
