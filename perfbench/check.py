"""Output checks: every benchmark output against an independent reference.

Batch queries are compared with their DuckDB oracle (``queries.ORACLE``)
on the same seeded inputs: schema, row count and an order-insensitive
canonical form with columns sorted by name. The ``lab_stream`` topics are
compared with batch references: DuckDB for the tumble windows and the
interval join, the batch ``operators.anomaly.ml_detect_anomalies`` for
the anomaly stage. Outputs and references are both reduced to
``(columns, canonical rows)`` and compared by ``compare``.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

from inputs import LAB_HORIZON_S, LAB_WINDOW_S


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return canon(dict(v.asDict()))
    if hasattr(v, "item"):
        return canon(v.item())
    return str(v)


def canon_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare(got, ref) -> str | None:
    """``None`` when two ``(columns, canonical rows)`` pairs match, else why not."""
    (gc, grows), (rc, rrows) = got, ref
    if sorted(gc) != sorted(rc):
        return f"schema {sorted(gc)} != {sorted(rc)}"
    if len(grows) != len(rrows):
        return f"row count {len(grows)} != {len(rrows)}"
    if grows != rrows:
        a, b = next((a, b) for a, b in zip(grows, rrows) if a != b)
        return f"first differing row {a} != {b}"
    return None


def oracle_rows(tables: dict[str, str], sqls: dict[str, str]) -> dict:
    """Run each oracle in DuckDB over views of the given parquet files."""
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for key, sql in sqls.items():
            res = con.execute(sql)
            out[key] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


# -- lab_stream references ---------------------------------------------------

LAB_WINDOWS_SQL = f"""
    SELECT zone,
           make_timestamp((epoch_us(ts) // {LAB_WINDOW_S * 10**6} + 1)
                          * {LAB_WINDOW_S * 10**6} - 1000) AS window_time,
           COUNT(*) AS n_events,
           SUM(amount) / COUNT(*) AS avg_amount
    FROM raw
    GROUP BY 1, 2
"""

LAB_JOIN_SQL = f"""
    SELECT r.event_id, r.zone, r.ts, r.amount,
           s.window_time, s.avg_amount, s.is_anomaly, s.forecast
    FROM raw r JOIN scored s
      ON r.zone = s.zone
     AND r.ts >= s.window_time - INTERVAL {LAB_HORIZON_S} SECONDS
     AND r.ts <= s.window_time
    WHERE s.is_anomaly
"""


def lab_references(events_dir: str, sentinel_from: int, spark) -> dict:
    """Reference rows for the three lab topics.

    ``windows`` and ``join`` come from DuckDB over the raw events (the
    sentinel rows, ``event_id >= sentinel_from``, never close a window).
    ``scored`` is the batch anomaly operator run over the reference
    windows — a Spark job, so it is computed after the timed passes.
    """
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.anomaly import ml_detect_anomalies

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW raw AS SELECT event_id, zone, ts::TIMESTAMP AS ts, amount "
        f"FROM read_parquet('{events_dir}/*.parquet') "
        f"WHERE event_id < {sentinel_from}")
    res = con.execute(LAB_WINDOWS_SQL)
    w_cols, w_rows = [d[0] for d in res.description], res.fetchall()

    wdf = spark.createDataFrame(w_rows, "zone string, window_time timestamp, "
                                        "n_events long, avg_amount double")
    scored = ml_detect_anomalies(
        wdf, metric="avg_amount", ts="window_time", keys=["zone"],
        min_training_size=8, max_training_size=50,
    ).select(
        "zone", "window_time", "avg_amount",
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
        F.col("anomaly_result.forecast_value").alias("forecast"),
    )
    s_cols = scored.columns
    s_rows = [tuple(r) for r in scored.collect()]

    con.register("scored_pd", _rows_frame(s_cols, s_rows))
    con.execute("CREATE VIEW scored AS SELECT zone, window_time::TIMESTAMP AS window_time, "
                "avg_amount, is_anomaly, forecast FROM scored_pd")
    res = con.execute(LAB_JOIN_SQL)
    j_cols, j_rows = [d[0] for d in res.description], res.fetchall()
    con.close()
    return {"windows": (w_cols, w_rows), "scored": (s_cols, s_rows),
            "joined": (j_cols, j_rows)}


def _rows_frame(cols, rows):
    import pandas as pd

    df = pd.DataFrame(rows, columns=cols)
    df["window_time"] = pd.to_datetime(df["window_time"])
    return df
