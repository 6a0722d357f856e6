"""Seeded input generators for the three benchmark workloads.

No Spark here: inputs are built with NumPy/pandas/pyarrow, so generating
them never touches the system under test.  Each generator writes into a
cache directory keyed by (workload, seed, size, GEN_VERSION) and returns a
manifest dict (also saved as ``manifest.json``) that the output checks
read.  The same seed always yields byte-identical files.

* ``ingest``     -- raw TACC_Stats ``block``/``cpu``/``mem``/``llite`` CSVs
                    (FIXTURES.md sections 1-4) with dirty rows, spanning the
                    March/April 2015 month boundary.
* ``join_pivot`` -- step-2 inputs in the reference's own layout: monthly
                    ``FRESCO_Conte_ts_YYYY_MM_v1_chunkNNN.parquet`` EAV chunks
                    (microsecond timestamps) plus one ``YYYY-MM.csv`` PBS
                    accounting file per month with Q and E rows per job.
* ``catalog``    -- TPC-H-ish star schema + events/documents/embeddings
                    tables with the column layout the registered catalog
                    queries read.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Bump whenever a generator's output for a given (seed, size) changes.
GEN_VERSION = 4

#: Cache entries kept per workload; older ones are deleted.
CACHE_KEEP = 4

#: 2015-03-29 00:00:00 UTC -- ingest series start within ~6 days of it,
#: so every run spans the March/April boundary.
INGEST_EPOCH = 1427587200
SAMPLE_EVERY_S = 600

#: Node names ``conte-a000`` .. ``conte-a899``.
HOSTS = np.char.add("conte-a", np.char.zfill(np.arange(900).astype(str), 3))

RAW_COLUMNS = {
    "block": ["rd_sectors", "wr_sectors", "rd_ticks", "wr_ticks"],
    "cpu": ["user", "nice", "system", "idle", "iowait", "irq", "softirq"],
    "mem": ["MemTotal", "MemFree", "FilePages"],
    "llite": ["read_bytes", "write_bytes"],
}


def cached(root: str, workload: str, seed: int, size: int, build) -> dict:
    """Return the manifest of (workload, seed, size), building it into
    ``root`` with ``build(out_dir, seed, size)`` on a miss.  Builds go to a
    temporary directory renamed into place, so an interrupted build never
    leaves a half-written entry behind."""
    key = f"{workload}-s{seed}-n{size}-v{GEN_VERSION}"
    out = os.path.join(root, key)
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        os.utime(out)
        return load(out)
    os.makedirs(root, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp, seed, size)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(root, workload)
    return load(out)


def load(entry: str) -> dict:
    """Read an entry's manifest; ``dir`` is where its relative paths start."""
    with open(os.path.join(entry, "manifest.json")) as fh:
        manifest = json.load(fh)
    manifest["dir"] = entry
    return manifest


def _evict(root: str, workload: str) -> None:
    entries = [
        os.path.join(root, n) for n in os.listdir(root)
        if n.startswith(workload + "-s") and not n.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[CACHE_KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)


def raw_ts_strings(epoch_s: np.ndarray) -> np.ndarray:
    """Vectorized ``MM/dd/yyyy HH:mm:ss`` formatting of epoch seconds."""
    iso = np.datetime_as_string(epoch_s.astype("datetime64[s]"), unit="s")
    c = iso.astype("<U19").view("<U1").reshape(len(iso), 19)
    out = np.empty((len(iso), 19), dtype="<U1")
    out[:, 0:2] = c[:, 5:7]
    out[:, 2] = "/"
    out[:, 3:5] = c[:, 8:10]
    out[:, 5] = "/"
    out[:, 6:10] = c[:, 0:4]
    out[:, 10] = " "
    out[:, 11:19] = c[:, 11:19]
    return out.view("<U19").ravel()


# ---------------------------------------------------------------------------
# ingest: raw metric CSVs
# ---------------------------------------------------------------------------

def build_ingest(out_dir: str, seed: int, lines_per_file: int) -> dict:
    """Four raw CSVs of ``lines_per_file`` data lines each.

    Rows come from (job, host) series sampled every ~10 minutes; every
    file carries the same series keys.  About 2.5 % of the lines are
    dirty: a null jobID, an unparseable timestamp or a non-numeric
    counter (DROPMALFORMED), and block/cpu/mem also get ~0.4 % exact
    duplicate lines that the sink's dedup must remove.  The clean rows
    are saved as ``clean_<name>.parquet`` for the Spark-free check."""
    rng = np.random.default_rng([seed, 1])
    per_series = 48
    n_series = -(-lines_per_file // per_series)
    hosts_per_job = 4
    n_jobs = -(-n_series // hosts_per_job)
    job_ids = rng.choice(np.arange(100_000, 1_000_000), n_jobs, replace=False)
    s = np.arange(n_series)
    s_job = job_ids[s // hosts_per_job]
    s_host = (s // hosts_per_job * 7 + s % hosts_per_job) % 899 + 1
    s_start = INGEST_EPOCH + rng.integers(0, 6 * 86400 - per_series * SAMPLE_EVERY_S, n_series)

    k = np.tile(np.arange(per_series), n_series)[:lines_per_file]
    sid = np.repeat(s, per_series)[:lines_per_file]
    ts = s_start[sid] + k * SAMPLE_EVERY_S + rng.integers(0, 60, lines_per_file)
    job = np.char.add("jobID", s_job.astype(str))[sid]
    node = HOSTS[s_host][sid]
    n = lines_per_file

    counters = {
        "block": [rng.integers(0, 2_000_000, n), rng.integers(0, 2_000_000, n),
                  rng.integers(0, 400, n) * (rng.random(n) > 0.02),
                  rng.integers(0, 400, n) * (rng.random(n) > 0.02)],
        "cpu": [rng.integers(0, 50_000, n) * (rng.random(n) > 0.01)
                for _ in range(7)],
        "mem": [np.full(n, 33_554_432_000) - rng.integers(0, 2, n) * 16_777_216_000,
                rng.integers(0, 34_000_000_000, n),
                rng.integers(0, 20_000_000_000, n)],
    }
    # llite counters are cumulative per series with occasional resets
    inc = rng.integers(0, 50_000_000, (2, n))
    reset = rng.random(n) < 0.005
    cum = []
    for row in inc:
        c = np.cumsum(row)
        start_of_series = np.r_[True, sid[1:] != sid[:-1]]
        base_idx = np.maximum.accumulate(np.where(start_of_series | reset, np.arange(n), 0))
        cum.append(c - c[base_idx] + row[base_idx])
    counters["llite"] = cum

    ts_str = pa.array(raw_ts_strings(ts))
    job_arr, node_arr = pa.array(job), pa.array(node)
    files = {}
    for i, (name, cols) in enumerate(RAW_COLUMNS.items()):
        frng = np.random.default_rng([seed, 2, i])
        kind = frng.random(n)
        null_job = kind < 0.010
        bad_ts = (kind >= 0.010) & (kind < 0.018)
        malformed = (kind >= 0.018) & (kind < 0.025)
        ok = ~(null_job | bad_ts | malformed)
        vals = [v.astype(np.int64) for v in counters[name]]
        pq.write_table(
            pa.table({"jobID": job_arr, "node": node_arr, "ts": ts,
                      **dict(zip(cols, vals))}).filter(pa.array(ok)),
            os.path.join(out_dir, f"clean_{name}.parquet"),
        )
        bad_ts_str = np.where(frng.random(n) < 0.5, "13/45/2015 25:61:00", "not-a-time")
        raw = pa.table({
            "jobID": pc.if_else(pa.array(null_job), None, job_arr),
            "node": node_arr,
            "timestamp": pc.if_else(pa.array(bad_ts), pa.array(bad_ts_str), ts_str),
            **dict(zip(cols[:-1], vals[:-1])),
            cols[-1]: pc.if_else(pa.array(malformed), "n/a",
                                 pc.cast(pa.array(vals[-1]), pa.string())),
        })
        order = np.arange(n)
        if name != "llite":
            # exact duplicate lines of clean rows: the sink dedup removes them
            dups = np.flatnonzero(ok)[frng.random(int(ok.sum())) < 0.004]
            order = np.concatenate([order, dups])
        raw = raw.take(pa.array(frng.permutation(order)))
        path = os.path.join(out_dir, "raw", f"{name}.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pacsv.write_csv(raw, path, pacsv.WriteOptions(quoting_style="needed"))
        files[name] = {"lines": raw.num_rows, "bytes": os.path.getsize(path)}
    return {
        "workload": "ingest",
        "seed": seed,
        "raw_dir": "raw",
        "files": files,
        "rows_in": sum(f["lines"] for f in files.values()),
        "bytes_in": sum(f["bytes"] for f in files.values()),
    }


# ---------------------------------------------------------------------------
# join_pivot: monthly EAV parquet chunks + accounting CSVs
# ---------------------------------------------------------------------------

EVENTS = [
    ("cpuuser", "CPU %"), ("memused", "GB"), ("memused_minus_diskcache", "GB"),
    ("nfs", "MB/s"), ("block", "GB/s"),
]
JP_MONTHS = [(2015, 3), (2015, 4)]
CHUNK_ROWS = 1_000_000


def _month_bounds(y: int, m: int) -> tuple[int, int]:
    lo = int(pd.Timestamp(year=y, month=m, day=1).timestamp())
    hi = int((pd.Timestamp(year=y, month=m, day=1) + pd.offsets.MonthBegin(1)).timestamp())
    return lo, hi


def build_join_pivot(out_dir: str, seed: int, rows_per_month: int) -> dict:
    """Per month: ``rows_per_month`` EAV rows in chunks of at most 1M rows
    and an accounting CSV.  Every job has a Q row and an E row; a fifth
    of the Q rows carry the same start/end as the E row (so the join
    multiplies those samples by two), the rest have none.  Four fifths
    of the EAV rows belong to jobs missing from accounting and a third
    of a job's samples fall outside its [start, end], so set3 has about
    a sixth of the input rows."""
    rng = np.random.default_rng([seed, 3])
    ts_dir = os.path.join(out_dir, "ts")
    acct_dir = os.path.join(out_dir, "acct")
    os.makedirs(ts_dir)
    os.makedirs(acct_dir)
    bytes_in = 0
    months = []
    for y, m in JP_MONTHS:
        lo, hi = _month_bounds(y, m)
        n_jobs = max(50, rows_per_month // 400)
        jid = rng.choice(np.arange(1_000_000, 9_000_000), n_jobs, replace=False)
        start = lo + rng.integers(3600, hi - lo - 3 * 86400, n_jobs)
        dur = rng.integers(3600, 2 * 86400, n_jobs)
        end = start + dur
        # EAV rows: a job's samples cover [start - 25% dur, end + 25% dur]
        known = rng.random(rows_per_month) < 0.20
        j = rng.integers(0, n_jobs, rows_per_month)
        frac = rng.random(rows_per_month) * 1.5 - 0.25
        t = np.where(
            known,
            start[j] + (frac * dur[j]).astype(np.int64),
            lo + rng.integers(0, hi - lo - 3 * 86400, rows_per_month),
        )
        t = np.clip(t, lo, hi - 1) * 1_000_000 + rng.integers(0, 1_000_000, rows_per_month)
        # the other rows belong to 500 jobs absent from accounting
        job_names = np.char.add("JOB", np.r_[jid, 9_000_001 + np.arange(500)].astype(str))
        job_col = job_names[np.where(known, j, n_jobs + j % 500)]
        ev = rng.integers(0, len(EVENTS), rows_per_month)
        table = pa.table({
            "Job Id": pa.array(job_col),
            "Host": pa.array(HOSTS[rng.integers(1, 900, rows_per_month)]),
            "Event": pa.array(np.array([e for e, _ in EVENTS])[ev]),
            "Value": pa.array(np.round(rng.random(rows_per_month) * 100.0, 4)),
            "Units": pa.array(np.array([u for _, u in EVENTS])[ev]),
            # microsecond unit: Spark 4 refuses pyarrow's default
            # nanosecond INT64 timestamps (PARQUET_COLUMN_DATA_TYPE_MISMATCH)
            "Timestamp": pa.array(t.astype("datetime64[us]"), type=pa.timestamp("us")),
        })
        files = []
        chunk = min(CHUNK_ROWS, -(-rows_per_month // 2))
        for c, off in enumerate(range(0, rows_per_month, chunk)):
            p = os.path.join(ts_dir, f"FRESCO_Conte_ts_{y}_{m:02d}_v1_chunk{c + 1:03d}.parquet")
            pq.write_table(table.slice(off, chunk), p, compression="snappy")
            files.append(os.path.relpath(p, out_dir))
            bytes_in += os.path.getsize(p)

        fmt = raw_ts_strings
        q_has_window = rng.random(n_jobs) < 0.2
        wall = rng.integers(0, 4, n_jobs)
        walltime = np.select(
            [wall == 0, wall == 1, wall == 2],
            [np.char.add(np.char.zfill((dur // 3600).astype(str), 2), ":00:00"),
             np.char.add((dur // 60 % 60).astype(str), ":30"),
             dur.astype(str)],
            "garbage",
        )
        hosts = rng.integers(1, 900, (n_jobs, 2))
        exec_host = np.char.add(np.char.add(HOSTS[hosts[:, 0]], "/0+"),
                                np.char.add(HOSTS[hosts[:, 1]], "/1"))
        base = {
            "jobID": np.char.add(jid.astype(str), ".conte-adm"),
            "user": np.char.add("user", rng.integers(0, 200, n_jobs).astype(str)),
            "account": np.char.add("acct", rng.integers(0, 40, n_jobs).astype(str)),
            "queue": np.array(["standard", "debug", "long"])[rng.integers(0, 3, n_jobs)],
            "ctime": fmt(start - 1800), "qtime": fmt(start - 1800), "etime": fmt(start - 1700),
            "Resource_List.walltime": walltime,
            "Resource_List.nodect": rng.integers(1, 16, n_jobs).astype(str),
            "Resource_List.ncpus": (rng.integers(1, 16, n_jobs) * 16).astype(str),
            "group": np.char.add("grp", rng.integers(0, 20, n_jobs).astype(str)),
            "exec_host": exec_host,
            "jobname": np.char.add("job_", rng.integers(0, 5000, n_jobs).astype(str)),
        }
        q_rows = pd.DataFrame({
            **base,
            "start": np.where(q_has_window, fmt(start), ""),
            "end": np.where(q_has_window, fmt(end), ""),
            "timestamp": fmt(start - 1800), "jobevent": "Q", "Exit_status": "",
        })
        e_rows = pd.DataFrame({
            **base, "start": fmt(start), "end": fmt(end), "timestamp": fmt(end),
            "jobevent": "E",
            "Exit_status": np.where(rng.random(n_jobs) < 0.8, "0", "271"),
        })
        acct = pd.concat([q_rows, e_rows], ignore_index=True)
        acct = acct.iloc[rng.permutation(len(acct))]
        ap = os.path.join(acct_dir, f"{y}-{m:02d}.csv")
        acct.to_csv(ap, index=False)
        bytes_in += os.path.getsize(ap)
        months.append({"ym": f"{y}_{m:02d}", "ts_files": files,
                       "acct": os.path.relpath(ap, out_dir),
                       "acct_rows": len(acct)})
    return {
        "workload": "join_pivot",
        "seed": seed,
        "ts_dir": "ts",
        "acct_dir": "acct",
        "months": months,
        "rows_in": rows_per_month * len(JP_MONTHS),
        "bytes_in": bytes_in,
    }


# ---------------------------------------------------------------------------
# catalog: TPC-H-ish star schema + events/documents/embeddings
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data table row column key value part order line customer query "
    "join scan sort hash merge group agg window filter batch stream spark "
    "fast slow big small vector index cache plan"
).split()


def build_catalog(out_dir: str, seed: int, scale: int) -> dict:
    """Tables sized ``scale`` x the smallest layout (6k lineitem rows per
    unit of scale), one parquet file each, with the column names and types
    the catalog queries read."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line = 1500 * scale, 6000 * scale
    n_ev, n_doc = 1000 * scale, 50 * scale
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                      "FURNITURE"])[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(np.array(["blue", "hot", "small", "old", "red", "new", "big",
                                      "cold"])[rng.integers(0, 8, n_part)], " "),
                np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "nut",
                          "spring"])[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                "PROMO"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2),
        }),
    }
    o_date = d0 + rng.integers(0, 2404, n_ord) * day
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(o_date, type=pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    l_ord = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(o_date[l_ord] + rng.integers(1, 122, n_line) * day,
                               type=pa.timestamp("us")),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 15 * scale, n_ev).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))])
             for _ in range(n_doc)]
    # one document in twenty is a near-copy of an earlier one, so the
    # near-duplicate queries have pairs to find
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.12, (n_doc, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32)),
    })
    sf_dir = os.path.join(out_dir, "tables")
    os.makedirs(sf_dir)
    rows = {}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    return {
        "workload": "catalog",
        "seed": seed,
        "sf_dir": "tables",
        "rows": rows,
        "bytes": {n: os.path.getsize(os.path.join(sf_dir, f"{n}.parquet")) for n in tables},
    }
