"""Output checks that do not use Spark.

* ingest     -- rows and value sum per (month, Event) of the committed EAV
                parquet, against a NumPy/pandas evaluation of the reference
                formulas over the generator's clean rows.
* join_pivot -- set3 rows and a (non-null count, sum) fingerprint of every
                set3 column against a DuckDB interval join of the same
                inputs; exactly one non-null ``value_*`` per row; daily-CSV
                data lines equal parquet rows.
* catalog    -- DuckDB oracle parity on the untimed pass (the repository's
                ``tests/oracle_parity.py`` comparison), row counts on every
                timed pass.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

GIB = 1024.0 ** 3
UNITS = {"block": "GB/s", "cpuuser": "CPU %", "memused": "GB",
         "memused_minus_diskcache": "GB", "nfs": "MB/s"}


def data_files(path: str) -> list[str]:
    """Committed data files under a sink's output directory."""
    return [
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith("part-")
    ]


def file_rows(f: str) -> int:
    """Rows of one committed parquet or CSV (with header line) file."""
    if f.endswith(".parquet"):
        return pq.ParquetFile(f).metadata.num_rows
    with open(f, "rb") as fh:
        return max(0, sum(1 for _ in fh) - 1)


def _close(a: float, b: float) -> bool:
    # sums of up to ~1e6 doubles added in another order agree to ~1e-13
    return math.isclose(a, b, rel_tol=1e-11, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def ingest_expected(manifest: dict) -> dict:
    """{(ym, Event): (rows, value_sum)} from the reference formulas
    (transform_conte_ts_data.py block/cpu/mem/nfs) over the clean rows."""
    d = manifest["dir"]
    frames = []

    def emit(df, event, value):
        frames.append(pd.DataFrame({"ts": df["ts"].to_numpy(), "Event": event,
                                    "Value": np.asarray(value, dtype=np.float64)}))

    b = pd.read_parquet(os.path.join(d, "clean_block.parquet"))
    ticks = (b.rd_ticks + b.wr_ticks).to_numpy()
    nbytes = (b.rd_sectors + b.wr_sectors).to_numpy().astype(np.float64) * 512.0
    with np.errstate(divide="ignore", invalid="ignore"):
        v = np.where(ticks != 0, nbytes / ticks, 0.0) / GIB
    emit(b, "block", np.maximum(0.0, v))

    c = pd.read_parquet(os.path.join(d, "clean_cpu.parquet"))
    un = (c.user + c.nice).to_numpy()
    total = un + (c.system + c.idle + c.iowait + c.irq + c.softirq).to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        v = np.where(total != 0, un / total, 0.0) * 100.0
    emit(c, "cpuuser", np.maximum(0.0, v))

    m = pd.read_parquet(os.path.join(d, "clean_mem.parquet"))
    mt = m.MemTotal.to_numpy().astype(np.float64)
    used = np.maximum(0.0, mt) - np.maximum(0.0, np.minimum(m.MemFree.to_numpy(), mt))
    emit(m, "memused", np.maximum(0.0, used / GIB))
    fp = np.maximum(0.0, m.FilePages.to_numpy().astype(np.float64))
    emit(m, "memused_minus_diskcache", np.maximum(0.0, np.maximum(0.0, used - fp) / GIB))

    n = pd.read_parquet(os.path.join(d, "clean_llite.parquet"))
    n = n.assign(total=(n.read_bytes + n.write_bytes).astype(np.float64))
    n = n.sort_values(["jobID", "node", "ts"], kind="stable")
    g = n.groupby(["jobID", "node"], sort=False)
    dv = (n.total - g.total.shift()).to_numpy()
    dt = (n.ts - g.ts.shift()).to_numpy()
    rate = np.nan_to_num(dv / np.maximum(0.1, dt), nan=0.0) / (1024.0 ** 2)
    emit(n, "nfs", np.maximum(0.0, rate))

    allrows = pd.concat(frames, ignore_index=True)
    months = allrows.ts.to_numpy().astype("datetime64[s]").astype("datetime64[M]")
    uniq, inv = np.unique(months, return_inverse=True)
    allrows["ym"] = np.array([str(u).replace("-", "_") for u in uniq])[inv]
    agg = allrows.groupby(["ym", "Event"]).Value.agg(["count", "sum"])
    return {k: (int(r["count"]), float(r["sum"])) for k, r in agg.iterrows()}


def ingest_observed(out_path: str) -> dict:
    t = ds.dataset(out_path, format="parquet", partitioning="hive").to_table(
        columns=["ym", "Event", "Value", "Units"]).to_pandas()
    bad_units = (t.Units != t.Event.map(UNITS)).sum()
    agg = t.groupby(["ym", "Event"]).Value.agg(["count", "sum"])
    obs = {(str(ym), ev): (int(r["count"]), float(r["sum"])) for (ym, ev), r in agg.iterrows()}
    if bad_units:
        obs[("units", "mismatch")] = (int(bad_units), 0.0)
    return obs


def ingest_check(expected: dict, out_path: str) -> str | None:
    """None when the committed EAV matches, else a one-line reason."""
    got = ingest_observed(out_path)
    if got.keys() != expected.keys():
        return f"groups differ: {sorted(set(got) ^ set(expected))}"
    for k, (n, s) in expected.items():
        gn, gs = got[k]
        if gn != n or not _close(gs, s):
            return f"{k}: rows {gn} vs {n}, sum {gs!r} vs {s!r}"
    return None


# ---------------------------------------------------------------------------
# join_pivot
# ---------------------------------------------------------------------------

VALUE_COLS = ["value_cpuuser", "value_gpu_usage", "value_memused",
              "value_memused_minus_diskcache", "value_nfs", "value_block"]

#: set3 columns in DuckDB, for the generator's accounting formats (every
#: datetime is ``MM/dd/yyyy HH:mm:ss``; walltime is a number, H:M:S, M:S
#: or garbage).
_ACCT_TS = "try_strptime({}, '%m/%d/%Y %H:%M:%S')"
_WALL_PARTS = "string_split(a.wall, ':')"
SET3_SQL = {
    "time": 't."Timestamp"',
    "submit_time": _ACCT_TS.format("a.qtime"),
    "start_time": "a.s",
    "end_time": "a.e",
    "timelimit": f"""CASE
        WHEN regexp_full_match(a.wall, '\\d+(\\.\\d+)?') THEN TRY_CAST(a.wall AS DOUBLE)
        WHEN len({_WALL_PARTS}) = 3 THEN TRY_CAST({_WALL_PARTS}[1] AS DOUBLE) * 3600
             + TRY_CAST({_WALL_PARTS}[2] AS DOUBLE) * 60 + TRY_CAST({_WALL_PARTS}[3] AS DOUBLE)
        WHEN len({_WALL_PARTS}) = 2 THEN TRY_CAST({_WALL_PARTS}[1] AS DOUBLE) * 60
             + TRY_CAST({_WALL_PARTS}[2] AS DOUBLE)
        END""",
    "nhosts": "TRY_CAST(a.nodect AS DOUBLE)",
    "ncores": "TRY_CAST(a.ncpus AS DOUBLE)",
    "account": "a.account",
    "queue": "a.queue",
    "host": "t.Host",
    "jid": 't."Job Id"',
    "unit": "t.Units",
    "jobname": "a.jobname",
    "exitcode": """CASE WHEN a.jobevent = 'E' AND a.Exit_status = '0' THEN 'COMPLETED'
        WHEN a.jobevent = 'E' THEN 'FAILED:' || coalesce(a.Exit_status, '')
        WHEN a.jobevent = 'Q' THEN 'QUEUED' END""",
    "host_list": """'{' || array_to_string(list_sort(list_distinct(
        regexp_extract_all(a.exec_host, '([^/+]+)/', 1))), ',') || '}'""",
    "username": 'a."user"',
    **{f"value_{e}": f"CASE WHEN t.Event = '{e}' THEN t.Value END"
       for e in ["cpuuser", "gpu_usage", "memused", "memused_minus_diskcache", "nfs", "block"]},
}


def _fingerprint_sql(col: str, kind: str) -> str:
    if kind == "string":
        return f"COUNT({col}), SUM(length({col}))"
    if kind == "timestamp":
        return f"COUNT({col}), SUM(epoch_us({col}) / 1e6)"
    return f"COUNT({col}), SUM({col})"


SET3_KINDS = {c: ("timestamp" if c.endswith("time") else
                  "double" if c in ("timelimit", "nhosts", "ncores") or c.startswith("value_")
                  else "string") for c in SET3_SQL}


def join_pivot_expected(manifest: dict) -> dict:
    """DuckDB interval join of the generated inputs: set3 rows and, per
    set3 column, (non-null count, sum) -- of the value, of the epoch
    seconds for timestamps, of the length for strings."""
    import duckdb

    d = manifest["dir"]
    con = duckdb.connect()
    try:
        parts = []
        cols = ", ".join(f"{sql} AS {name}" for name, sql in SET3_SQL.items())
        for mo in manifest["months"]:
            files = ", ".join(f"'{os.path.join(d, f)}'" for f in mo["ts_files"])
            acct = os.path.join(d, mo["acct"])
            parts.append(f"""
              SELECT {cols}
              FROM read_parquet([{files}]) t
              JOIN (
                SELECT *, 'JOB' || regexp_extract(jobID, '(\\d+)', 1) AS jid,
                       "Resource_List.walltime" AS wall,
                       "Resource_List.nodect" AS nodect, "Resource_List.ncpus" AS ncpus,
                       {_ACCT_TS.format('"start"')} AS s, {_ACCT_TS.format('"end"')} AS e
                FROM read_csv('{acct}', all_varchar = true, header = true)
              ) a
              ON a.jid = t."Job Id" AND t."Timestamp" BETWEEN a.s AND a.e""")
        sql = " UNION ALL ".join(parts)
        aggs = ", ".join(_fingerprint_sql(c, SET3_KINDS[c]) for c in SET3_SQL)
        row = con.execute(f"SELECT COUNT(*), {aggs} FROM ({sql})").fetchone()
    finally:
        con.close()
    out = {"rows": (int(row[0]), 0.0)}
    for i, c in enumerate(SET3_SQL):
        n, total = row[1 + 2 * i], row[2 + 2 * i]
        out[c] = (int(n), float(total or 0))
    return out


def join_pivot_observed(set3_path: str, csv_path: str) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc

    t = ds.dataset(set3_path, format="parquet", partitioning="hive").to_table(
        columns=list(SET3_SQL))
    obs = {"rows": (t.num_rows, 0.0)}
    for c in SET3_SQL:
        col = t.column(c)
        kind = SET3_KINDS[c]
        if kind == "string":
            vals = pc.utf8_length(col)
        elif kind == "timestamp":
            us = pc.cast(pc.cast(col, pa.timestamp("us", tz=col.type.tz)), pa.int64())
            vals = pc.divide(pc.cast(us, pa.float64()), 1e6)
        else:
            vals = col
        total = pc.sum(vals).as_py()
        obs[c] = (t.num_rows - col.null_count, float(total or 0))
    nonnull = sum(pc.cast(pc.is_valid(t.column(c)), pa.int8()).to_numpy(zero_copy_only=False)
                  for c in VALUE_COLS)
    obs["rows_not_one_value"] = (int((nonnull != 1).sum()), 0.0)
    obs["csv_rows"] = (sum(file_rows(f) for f in data_files(csv_path)), 0.0)
    return obs


def join_pivot_check(expected: dict, set3_path: str, csv_path: str) -> str | None:
    got = join_pivot_observed(set3_path, csv_path)
    if got.pop("rows_not_one_value")[0]:
        return "rows without exactly one non-null value_* column"
    if got.pop("csv_rows")[0] != got["rows"][0]:
        return f"daily CSV rows differ from parquet rows ({got['rows'][0]})"
    for k, (n, s) in expected.items():
        gn, gs = got[k]
        if gn != n or not _close(gs, s):
            return f"{k}: count {gn} vs {n}, sum {gs!r} vs {s!r}"
    return None


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

class Collected:
    """Rows a query returned, shaped like the DataFrame that
    ``tests/oracle_parity.compare`` expects."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns, self._rows = columns, rows

    def collect(self) -> list[tuple]:
        return self._rows


def catalog_parity(results: dict, sf_dir: str) -> tuple[list, dict, int]:
    """Compare each collected query result with its DuckDB oracle using
    the repository's own parity rules.  Returns (failure reasons, oracle
    row count per query, total Arrow bytes of the oracle results)."""
    import __spark_entry__ as entrymod
    from tests.oracle_parity import compare, duck_connection

    con = duck_connection(sf_dir)
    reasons, rows, nbytes = [], {}, 0
    try:
        for q, res in results.items():
            ok, msg = compare(q, res, con)
            reasons.append(None if ok else f"{q}: {msg}")
            t = con.execute(entrymod.oracle_sql()[q]).arrow()
            rows[q] = t.num_rows
            nbytes += t.nbytes
    finally:
        con.close()
    return reasons, rows, nbytes
