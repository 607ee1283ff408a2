"""The three benchmark workloads.

Each workload prepares its seeded inputs (outside every timer), registers
them with a live session, and runs *passes*: one pass is the workload's
whole job once, as a user would submit it. A pass returns its wall time,
per-operation timings and the outputs the benchmark checks afterwards.

- ``rag_curation``: registered queries from ``queries.QUERIES``, each
  built and collected in turn.
- ``lab_stream``: the Labs 3/4 chain as three ``availableNow`` stages run
  one after another through ``streaming.catalog.StreamCatalog`` topics.
"""

from __future__ import annotations

import re
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import check
import inputs
import layers

#: AI stages of the labs (shared and all-distinct prompts; the Lab 3
#: chain through ``run_sql_script`` and ``AI_RUN_AGENT``), then the
#: LLM-data-curation tier (shuffle-heavy dedup, build-heavy pipeline)
RAG_CURATION = ("ml_predict_cached", "rag_pipeline", "lab3_chain",
                "prefix_filter_dedup", "training_data_pipeline")
STAGES = ("tumble", "anomaly", "join")


@dataclass
class Op:
    """One timed operation of a pass: a query or a stream stage."""
    name: str
    wall_s: float = 0.0
    build_s: float = 0.0
    error: str | None = None
    layer: dict = field(default_factory=dict)


@dataclass
class Pass:
    wall_s: float
    ops: list[Op]
    outputs: dict  # output name -> (columns, canonical rows), checked later
    batch_ms: list[float]
    tag: str = ""
    cpu_s: float = 0.0


class QueryWorkload:
    """A list of registered queries over the seeded fixture tables."""

    def __init__(self, name: str, queries: tuple[str, ...], seed: int, work: Path):
        self.name, self.queries, self.seed, self.work = name, queries, seed, work
        self.sf_dir: Path | None = None

    def prepare_inputs(self) -> str:
        self.sf_dir, digest = inputs.fixture_inputs(self.seed, self.work / "inputs")
        return digest

    def tables(self) -> list[str]:
        """The fixture tables this workload's oracles read."""
        from quickstart_streaming_agents_spark.queries import ORACLE
        from quickstart_streaming_agents_spark.sources.parquet import TABLES

        sql = " ".join(ORACLE[q] for q in self.queries)
        return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]

    def register(self, spark) -> None:
        from quickstart_streaming_agents_spark.sources.parquet import load_table

        names = self.tables()
        for t in names:
            load_table(spark, str(self.sf_dir), t).createOrReplaceTempView(t)
        spark.sql(f"SELECT COUNT(*) FROM {names[0]}").collect()

    def run_pass(self, spark, trace: bool, tag: str, corrupt: str | None = None,
                 listener=None) -> Pass:
        from quickstart_streaming_agents_spark.queries import QUERIES

        sc = spark.sparkContext
        ops, outputs, frames = [], {}, {}
        t_pass = time.perf_counter()
        for q in self.queries:
            op = Op(q)
            ops.append(op)
            if trace:
                sc.setJobGroup(f"{tag}:{q}", q)
            t0 = time.perf_counter()
            try:
                df = QUERIES[q](spark, str(self.sf_dir))
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — counted, reported
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                continue
            op.build_s, op.wall_s = t1 - t0, t2 - t0
            frames[q] = df
            outputs[q] = (df.columns, rows)
        wall = time.perf_counter() - t_pass
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for op in ops:
                if op.name in frames:
                    op.layer = layers.plan_counters(frames[op.name])
                    op.layer["jobs"] = len(
                        sc.statusTracker().getJobIdsForGroup(f"{tag}:{op.name}"))
                    cols, rows = outputs[op.name]
                    if "prompt" in cols:
                        i = list(cols).index("prompt")
                        op.layer["prompts"] = sorted({r[i] for r in rows})
        if corrupt in outputs:
            cols, rows = outputs[corrupt]
            outputs[corrupt] = (cols, rows[1:])
        canon = {q: (cols, check.canon_rows(list(cols), rows))
                 for q, (cols, rows) in outputs.items()}
        return Pass(wall, ops, canon, [op.wall_s * 1e3 for op in ops if not op.error])

    def references(self, spark) -> dict:
        from quickstart_streaming_agents_spark.queries import ORACLE

        tables = {f.stem: str(f) for f in self.sf_dir.glob("*.parquet")}
        ref = check.oracle_rows(tables, {q: ORACLE[q] for q in self.queries})
        return {q: (cols, check.canon_rows(cols, rows)) for q, (cols, rows) in ref.items()}

    @property
    def events(self) -> int:
        """Rows of the tables the workload reads."""
        return sum(pq.read_metadata(self.sf_dir / f"{t}.parquet").num_rows
                   for t in self.tables())


class LabStream:
    """tumble → anomaly → interval join, one ``availableNow`` stage at a time."""

    queries = ("windows", "scored", "joined")

    def __init__(self, seed: int, work: Path, shape: inputs.LabShape):
        self.name, self.seed, self.work, self.shape = "lab_stream", seed, work, shape
        self.events_dir: Path | None = None

    @property
    def events(self) -> int:
        return self.shape.events

    def prepare_inputs(self) -> str:
        self.events_dir, digest = inputs.lab_events(self.seed, self.shape,
                                                   self.work / "inputs")
        return digest

    def _catalog(self, spark, root: Path):
        from pyspark.sql import types as T

        from quickstart_streaming_agents_spark.streaming.catalog import StreamCatalog

        shutil.rmtree(root, ignore_errors=True)
        cat = StreamCatalog(spark, str(root))
        cat.register_source("events", str(self.events_dir), schema=T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("zone", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("amount", T.DoubleType()),
        ]))
        return cat

    def register(self, spark) -> None:
        cat = self._catalog(spark, self.work / "run" / "setup-catalog")
        cat.read_batch("events").count()

    def _stages(self, cat):
        from pyspark.sql import functions as F

        from quickstart_streaming_agents_spark.operators.windows import tumble
        from quickstart_streaming_agents_spark.streaming.ops import (
            interval_join_stream,
            ml_detect_anomalies_stream,
        )

        wm = f"{inputs.LAB_WATERMARK_S} seconds"

        def tumble_stage():
            raw = cat.read_stream("events", max_files_per_trigger=1)
            return tumble(
                raw, "ts", f"{inputs.LAB_WINDOW_S} seconds", ["zone"],
                [F.count("*").alias("n_events"),
                 (F.sum("amount") / F.count("*")).alias("avg_amount")],
                watermark=wm,
            ).select("zone", "window_time", "n_events", "avg_amount").coalesce(1)

        def anomaly_stage():
            # the tumble stage writes one file per micro-batch, so batch k
            # here is tumble batch k and every zone's windows arrive in
            # event-time order (the operator's ordering contract)
            win = cat.read_stream("windows", max_files_per_trigger=1)
            return ml_detect_anomalies_stream(
                win, metric="avg_amount", ts="window_time", keys=["zone"],
                min_training_size=8, max_training_size=50,
            ).select(
                "zone", "window_time", "avg_amount",
                F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
                F.col("anomaly_result.forecast_value").alias("forecast"),
            )

        def join_stage():
            raw = cat.read_stream("events", watermark=("ts", wm),
                                  max_files_per_trigger=1)
            # watermark before the filter, so it advances with every window
            anomalies = cat.read_stream(
                "scored", watermark=("window_time", wm)).filter(F.col("is_anomaly"))
            return interval_join_stream(
                raw, anomalies, on=["zone"], left_ts="ts", right_ts="window_time",
                lower=f"INTERVAL {inputs.LAB_HORIZON_S} SECONDS",
                upper="INTERVAL 0 SECONDS",
            )

        return [("tumble", "windows", tumble_stage), ("anomaly", "scored", anomaly_stage),
                ("join", "joined", join_stage)]

    def run_pass(self, spark, trace: bool, tag: str, corrupt: str | None = None,
                 listener=None) -> Pass:
        root = self.work / "run" / tag
        ops, outputs, batch_ms, progress = [], {}, [], {}
        t_pass = time.perf_counter()
        cat = self._catalog(spark, root)
        for stage, topic, build in self._stages(cat):
            op = Op(stage)
            ops.append(op)
            t0 = time.perf_counter()
            try:
                q = cat.create_table_as(topic, build(), available_now=True).query
                op.build_s = time.perf_counter() - t0
                cat.await_all()  # drops the table's query handle; q keeps it
            except Exception as e:  # noqa: BLE001 — counted, reported
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                cat.stop_all()
                break
            op.wall_s = time.perf_counter() - t0
            progress[stage] = (q, topic)
        wall = time.perf_counter() - t_pass
        for op in ops:
            if op.name not in progress:
                continue
            q, topic = progress[op.name]
            expected = [layers.progress_dict(p) for p in q.recentProgress]
            batch_ms += [p["durationMs"].get("triggerExecution", 0) for p in expected]
            if trace:
                seen = expected if listener is None else _drain(listener, topic, len(expected))
                op.layer = layers.stage_summary(seen)
            tbl = pq.read_table(root / topic)
            cols = tbl.column_names
            rows = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
            if trace:
                op.layer["rows_out"] = len(rows)
            if corrupt == topic:
                rows = rows[1:]
            outputs[topic] = (cols, check.canon_rows(cols, rows))
        shutil.rmtree(root, ignore_errors=True)
        return Pass(wall, ops, outputs, batch_ms)

    def references(self, spark) -> dict:
        ref = check.lab_references(str(self.events_dir), self.shape.events, spark)
        return {k: (cols, check.canon_rows(list(cols), rows))
                for k, (cols, rows) in ref.items()}


def _drain(listener, name: str, n: int, timeout_s: float = 5.0) -> list[dict]:
    """Progress events reach a Python listener asynchronously; wait for
    all ``n`` of them before reading the stage's figures."""
    deadline = time.monotonic() + timeout_s
    got: list[dict] = []
    while True:
        got += listener.take(name)
        if len(got) >= n or time.monotonic() > deadline:
            return got
        time.sleep(0.02)


def make(name: str, seed: int, work: Path, scale: str):
    if name == "rag_curation":
        return QueryWorkload(name, RAG_CURATION, seed, work)
    if name == "lab_stream":
        return LabStream(seed, work, inputs.LAB_SHAPES[scale])
    raise SystemExit(f"unknown workload {name!r}")
