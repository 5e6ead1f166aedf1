"""The three workloads: what one iteration runs and how its output is
checked.  Runs inside a worker process (Spark is importable here).

Each workload object has
- ``before(i)``: untimed input arrival for iteration ``i``;
- ``run(spark, i, tracer)``: the timed iteration, returns ``(ok, detail)``;
- ``after(i)``: untimed per-iteration bookkeeping (artifact fingerprint);
- ``check(spark)``: output oracles, run once after the timed window,
  returning a list of failure strings.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import gen

# ------------------------------------------------------------------ retail

RETAIL_SQL = """
WITH sales_clean AS (
  SELECT CAST(Store AS INT) AS Store,
         CAST(Dept AS INT) AS Dept,
         COALESCE(CAST(Weekly_Sales AS DECIMAL(14,2)), 0) AS wk_sales,
         CAST(IsHoliday AS BOOLEAN) AS is_holiday,
         CAST(COALESCE(try_strptime(CAST(Date AS VARCHAR), '%m/%d/%Y'),
                       try_strptime(CAST(Date AS VARCHAR), '%Y-%m-%d')) AS DATE) AS sale_date
  FROM sales
), feat_clean AS (
  SELECT CAST(Store AS INT) AS Store,
         CAST(COALESCE(try_strptime(CAST(Date AS VARCHAR), '%m/%d/%Y'),
                       try_strptime(CAST(Date AS VARCHAR), '%Y-%m-%d')) AS DATE) AS feat_date,
         CAST(Temperature AS DOUBLE) AS temperature,
         CAST(Fuel_Price AS DOUBLE) AS fuel_price,
         CAST(CPI AS DOUBLE) AS cpi,
         CAST(Unemployment AS DOUBLE) AS unemployment
  FROM features
)
SELECT s.Store, s.Dept,
       DATE_TRUNC('week', s.sale_date) AS week,
       SUM(s.wk_sales) AS weekly_sales,
       SUM(CASE WHEN s.is_holiday THEN s.wk_sales ELSE 0 END) AS holiday_sales,
       COUNT(*) AS n_rows,
       AVG(f.temperature) AS avg_temp,
       AVG(f.fuel_price) AS avg_fuel,
       AVG(f.cpi) AS avg_cpi,
       AVG(f.unemployment) AS avg_unemployment,
       st.Type AS Type,
       CAST(st.Size AS BIGINT) AS Store_Size
FROM sales_clean s
LEFT JOIN feat_clean f ON s.Store = f.Store AND s.sale_date = f.feat_date
LEFT JOIN stores st ON s.Store = CAST(st.Store AS INT)
GROUP BY s.Store, s.Dept, week, st.Type, Store_Size
ORDER BY s.Store, s.Dept, week
"""
_EXACT = ("Store", "Dept", "week", "weekly_sales", "holiday_sales", "n_rows", "Type", "Store_Size")
_FLOAT = ("avg_temp", "avg_fuel", "avg_cpi", "avg_unemployment")


def _indent(text: str, n: int) -> str:
    return "\n".join(" " * n + line for line in text.strip().splitlines())


def _md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class RetailCsv:
    """Reference path: CSV triplet (schemas inferred) -> weekly rollup SQL
    -> DQ gate -> single-file CSV -> verify."""

    def __init__(self, inputs: str, state: str, seed: int) -> None:
        self.inputs = inputs
        self.out = os.path.join(state, "weekly_rollup.csv")
        self.plan = f"""
source:
  kind: csv
  csv:
    paths:
      sales: {inputs}/sales.csv
      features: {inputs}/features.csv
      stores: {inputs}/stores.csv
transform:
  sql: |
{_indent(RETAIL_SQL, 4)}
load:
  to: csv
  file_path: {self.out}
  include_header: true
checks:
  min_rows: 10
  nonnull_cols: [Store, Dept, week, weekly_sales]
verify:
  min_rows: 10
  nonnull_cols: [Store, Dept, week, weekly_sales]
"""
        self.digests: list[str] = []
        self.rows = sum(gen.retail_rows().values())
        self.input_bytes = sum(
            os.path.getsize(os.path.join(inputs, f)) for f in os.listdir(inputs)
        )

    def before(self, i: int) -> None:
        pass

    def run(self, spark, i: int, tracer) -> tuple[bool, str]:
        from agentic_etl_poc_spark import runtime

        res = runtime.run_from_plan(spark, self.plan, report_status=_quiet)
        return res.get("status") == "ok", str(res.get("status"))

    def after(self, i: int) -> None:
        self.digests.append(_md5(self.out) if os.path.exists(self.out) else "")

    def check(self, spark) -> list[str]:
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for name in ("sales", "features", "stores"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_csv_auto('{self.inputs}/{name}.csv', nullstr='NA')"
            )
        want = con.execute(RETAIL_SQL).df()
        got = pd.read_csv(self.out, dtype=str, keep_default_na=False)
        fails = []
        if list(got.columns) != list(want.columns):
            return [f"retail: columns {list(got.columns)} != {list(want.columns)}"]
        if len(got) != len(want):
            return [f"retail: rows {len(got)} != oracle {len(want)}"]
        want["week"] = pd.to_datetime(want["week"]).dt.strftime("%Y-%m-%d")
        got["week"] = got["week"].str.slice(0, 10)
        key = ["Store", "Dept", "week"]
        got = got.astype({"Store": int, "Dept": int}).sort_values(key).reset_index(drop=True)
        want = want.astype({"Store": int, "Dept": int}).sort_values(key).reset_index(drop=True)
        for c in _EXACT:
            a = got[c].map(_canon)
            b = want[c].map(_canon)
            bad = (a != b).sum()
            if bad:
                i = int((a != b).idxmax())
                fails.append(f"retail: {bad} mismatches in {c}, e.g. {a[i]!r} != {b[i]!r}")
        for c in _FLOAT:
            a = pd.to_numeric(got[c].replace("", None))
            b = want[c].astype(float)
            close = (a.isna() & b.isna()) | ((a - b).abs() <= 1e-9 * b.abs().clip(lower=1.0))
            if not close.all():
                fails.append(f"retail: {int((~close).sum())} mismatches in {c}")
        final = self.digests[-1] if self.digests else ""
        drift = sum(d != final for d in self.digests)
        if drift:
            fails.append(f"retail: {drift} iterations wrote a different artifact")
        return fails


def _canon(v) -> str:
    """Exact text form for ints, decimals, dates and strings."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v == "":
        return "NULL"
    if isinstance(v, (decimal.Decimal, float)) or (
        isinstance(v, str) and v.replace(".", "", 1).lstrip("-").isdigit()
    ):
        return format(decimal.Decimal(str(v)).normalize(), "f")
    return str(v)


def _quiet(step: str, detail: str) -> str:
    return "ok"


# ------------------------------------------------------------------ upsert

UPSERT_SQL = """
SELECT key, day, ts, amount_cents, status FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC) AS rn
  FROM input_df
) WHERE rn = 1
"""


class UpsertTicks:
    """One small increment lands per tick; each tick is one incremental
    ``run_from_plan`` that dedups the increment and merges it into a
    day-partitioned parquet table through the copy-on-write upsert sink."""

    def __init__(self, inputs: str, state: str, seed: int) -> None:
        self.seed = seed
        self.src = os.path.join(state, "source")
        self.table = os.path.join(state, "table")
        self.ledger = os.path.join(state, "ledger.db")
        self.plan = f"""
source:
  kind: parquet
  parquet:
    path: {self.src}
transform:
  sql: |
{_indent(UPSERT_SQL, 4)}
load:
  to: parquet
  file_path: {self.table}
  mode: upsert
  partition_by: [day]
  key_cols: [key]
checks:
  min_rows: 1
  nonnull_cols: [key, day, ts]
verify:
  min_rows: 1
incremental:
  ts_col: ts
  ledger: {self.ledger}
  key: upsert_ticks
"""
        self.ticks = []
        self.rows = gen.TICK_ROWS
        self.input_bytes = 0

    def before(self, i: int) -> None:
        self.ticks.append(gen.write_increment(self.src, self.seed, i))
        self.input_bytes = os.path.getsize(os.path.join(self.src, f"tick-{i:05d}.parquet"))

    def run(self, spark, i: int, tracer) -> tuple[bool, str]:
        from agentic_etl_poc_spark import runtime

        res = runtime.run_from_plan(spark, self.plan, report_status=_quiet)
        return res.get("status") == "ok", str(res.get("status"))

    def after(self, i: int) -> None:
        pass

    def check(self, spark) -> list[str]:
        import duckdb
        import pyarrow as pa

        ticks = pa.concat_tables(self.ticks)
        want_wm = ticks["ts"].to_pandas().max().strftime("%Y-%m-%d %H:%M:%S.%f")
        con = duckdb.connect()
        con.register("ticks", ticks)
        summary = """
            SELECT count(*) AS n,
                   sum(hash(key, day, ts, amount_cents, status)::HUGEINT) AS h
            FROM {}"""
        w = con.execute(
            summary.format(
                "(SELECT * FROM ticks QUALIFY row_number() OVER "
                "(PARTITION BY key ORDER BY ts DESC) = 1)"
            )
        ).fetchone()
        g = con.execute(
            summary.format(
                f"read_parquet('{self.table}/day=*/*.parquet', hive_partitioning=true, "
                f"hive_types={{'day': DATE}})"
            )
        ).fetchone()
        fails = []
        if g != w:
            fails.append(f"upsert: table (rows, checksum) {g} != generator {w}")
        import json
        import sqlite3

        row = sqlite3.connect(self.ledger).execute(
            "SELECT value_json FROM etl_agent_state WHERE key='watermark:upsert_ticks'"
        ).fetchone()
        got_wm = json.loads(row[0]) if row else None
        if got_wm != want_wm:
            fails.append(f"upsert: ledger watermark {got_wm!r} != newest ts {want_wm!r}")
        return fails


# ----------------------------------------------------------------- battery

#: One entry from each of six battery families (relational, dedup, text,
#: Python UDTF over Arrow, streaming drain, iterative graph), few enough
#: that two warm-up passes and ~4 timed passes fit one run.
BATTERY_ENTRIES = ("q01", "d01", "t03", "u08", "v08", "g01")


class BatteryMix:
    """Battery entries, each built (the entry function call) and forced
    through the ``noop`` sink, timed separately."""

    def __init__(self, inputs: str, state: str, seed: int) -> None:
        from agentic_etl_poc_spark.queries import load_all

        specs = load_all()
        self.inputs = inputs
        self.entries = [
            (n, specs[n]) for p in BATTERY_ENTRIES for n in specs if n.split("_")[0] == p
        ]
        self.rows = 0
        self.frames = []
        self.input_bytes = sum(
            os.path.getsize(os.path.join(inputs, f)) for f in os.listdir(inputs)
        )

    def before(self, i: int) -> None:
        pass

    def run(self, spark, i: int, tracer) -> tuple[bool, str]:
        self.frames = []
        for name, spec in self.entries:
            fam = name[0]
            with tracer.span(f"queries.{fam}.build"):
                df = spec.fn(spark, self.inputs)
            with tracer.span(f"queries.{fam}.force"):
                df.write.format("noop").mode("overwrite").save()
            self.frames.append((name, spec, df))
        return True, "ok"

    def after(self, i: int) -> None:
        pass

    def check(self, spark) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(self.inputs)):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.inputs, f)}')"
            )
        fails = []
        for name, spec, df in self.frames:  # the last timed pass's frames
            got = df.toPandas()
            want = con.execute(spec.oracle).df()
            if sorted(got.columns) != sorted(want.columns):
                fails.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            elif _multiset(got) != _multiset(want):
                fails.append(f"{name}: rows differ from its oracle ({len(got)} vs {len(want)})")
        return fails


def _cell(v):
    import datetime

    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float) and v == 0.0:
        return "0.0"
    if isinstance(v, (pd.Timestamp, datetime.date)):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return repr(v)


def _multiset(pdf) -> list:
    cols = sorted(pdf.columns)
    return sorted(tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))


WORKLOADS = {
    "plan_retail_csv": RetailCsv,
    "plan_upsert_ticks": UpsertTicks,
    "battery_mix": BatteryMix,
}
