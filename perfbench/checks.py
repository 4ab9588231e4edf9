"""Correctness checks of the benchmark, computed apart from the engine.

Every check returns a list of error strings; an empty list means it passed.
The checks take plain pandas frames and dicts, so `test_checks.py` can feed
each one a deliberately wrong input.
"""
import json
from pathlib import Path

import pandas as pd

# documented error of the three sketch queries that have no SQL oracle:
# 5% of exact for the distinct-count sketches (rsd 0.02 / lgK 12), and a
# rank error of 0.5% plus one rank step for approx_percentile(..., 10000)
DISTINCT_REL_ERR = 0.05
RANK_ERR = 0.005


def duckdb_over(sf_dir):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    return con


def read_parquet_dir(path):
    files = sorted(Path(path).rglob("*.parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def canon(df):
    """The row compare of scripts/verify_local.py: columns sorted by name,
    every value stringified, rows sorted."""
    df = df[sorted(df.columns)]
    rows = sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None))
    return rows, list(df.columns)


def compare_rows(name, got, want):
    got_rows, got_cols = canon(got)
    want_rows, want_cols = canon(want)
    if got_cols != want_cols:
        return [f"{name}: columns {got_cols} != {want_cols}"]
    if got_rows != want_rows:
        diff = next(
            (i for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b),
            min(len(got_rows), len(want_rows)),
        )
        return [f"{name}: {len(got_rows)} vs {len(want_rows)} rows, first difference at sorted row {diff}"]
    if not got_rows:
        return [f"{name}: empty result"]
    return []


def check_sketch(name, got, con):
    """q_approx_distinct, q_hll_sketch and q_approx_percentile against
    DuckDB's exact count(DISTINCT ...) and quantile_cont."""
    errors = []
    if got.empty:
        return [f"{name}: empty result"]
    flags = con.execute(
        "SELECT l_returnflag, count(*) AS n, count(DISTINCT l_partkey) AS parts, "
        "count(DISTINCT l_orderkey) AS orders FROM lineitem GROUP BY l_returnflag"
    ).df().set_index("l_returnflag")
    if sorted(got["l_returnflag"]) != sorted(flags.index):
        return [f"{name}: groups {sorted(got['l_returnflag'])} != {sorted(flags.index)}"]

    def rel(est, exact):
        return abs(float(est) - float(exact)) / float(exact)

    for _, row in got.iterrows():
        f = row["l_returnflag"]
        ex = flags.loc[f]
        if name == "q_approx_distinct":
            for col, exact in (("approx_parts", ex["parts"]), ("approx_orders", ex["orders"])):
                if rel(row[col], exact) >= DISTINCT_REL_ERR:
                    errors.append(f"{name}[{f}].{col}: {row[col]} vs exact {exact}")
        elif name == "q_hll_sketch":
            if rel(row["hll_parts"], ex["parts"]) >= DISTINCT_REL_ERR:
                errors.append(f"{name}[{f}].hll_parts: {row['hll_parts']} vs exact {ex['parts']}")
            if int(row["exact_parts"]) != int(ex["parts"]):
                errors.append(f"{name}[{f}].exact_parts: {row['exact_parts']} vs {ex['parts']}")
        elif name == "q_approx_percentile":
            tol = RANK_ERR + 1.0 / float(ex["n"])
            for col, src, q in (
                ("ap50", "l_extendedprice", 0.5),
                ("ap95", "l_extendedprice", 0.95),
                ("ap50_qty", "l_quantity", 0.5),
            ):
                lo, hi = con.execute(
                    f"SELECT quantile_cont({src}, {max(q - tol, 0.0)}), quantile_cont({src}, {min(q + tol, 1.0)}) "
                    "FROM lineitem WHERE l_returnflag = ?",
                    [f],
                ).fetchone()
                if not (lo <= float(row[col]) <= hi):
                    errors.append(f"{name}[{f}].{col}: {row[col]} outside [{lo}, {hi}]")
    return errors


SKETCHES = ("q_approx_distinct", "q_hll_sketch", "q_approx_percentile")


def check_query_results(results_dir, queries, oracle_sql, sf_dir):
    """Every query of a mix: DuckDB oracle compare, or the sketch bound."""
    con = duckdb_over(sf_dir)
    errors = []
    for q in queries:
        got = read_parquet_dir(Path(results_dir) / q)
        if q in oracle_sql:
            errors += compare_rows(q, got, con.execute(oracle_sql[q]).df())
        elif q in SKETCHES:
            errors += check_sketch(q, got, con)
        else:
            errors.append(f"{q}: no oracle and no documented bound")
    return errors


def check_landing(landed, expected_ids, injected):
    """Every non-injected event lands exactly once; nothing else lands."""
    ids = landed["event_id"]
    errors = []
    dup = ids[ids.duplicated()]
    if len(dup):
        errors.append(f"{len(dup)} events landed more than once, e.g. {int(dup.iloc[0])}")
    got = set(int(i) for i in ids)
    want = set(expected_ids) - set(injected)
    if got & set(injected):
        errors.append(f"{len(got & set(injected))} malformed payloads landed as rows")
    missing = want - got
    if missing:
        errors.append(f"{len(missing)} events missing, e.g. {min(missing)}")
    extra = got - want - set(injected)
    if extra:
        errors.append(f"{len(extra)} unexpected events landed, e.g. {min(extra)}")
    return errors


def type_totals(con, relation):
    """Per-event_type count and exact decimal sum(value), as strings."""
    rows = con.execute(
        f"SELECT event_type, count(*) AS n, "
        f"cast(sum(cast(\"value\" AS DECIMAL(38, 10))) AS VARCHAR) AS s "
        f"FROM {relation} GROUP BY event_type ORDER BY event_type"
    ).fetchall()
    return [tuple(str(v) for v in r) for r in rows]


def check_type_totals(landed, con, max_events, injected):
    """The landed rows' per-type count and sum against events.parquet
    without the injected ids, both computed by DuckDB."""
    con.register("landed", landed[["event_type", "value"]])
    got = type_totals(con, "landed")
    con.unregister("landed")
    con.register("injected_ids", pd.DataFrame({"event_id": sorted(injected) or [-1]}))
    want = type_totals(
        con,
        f"(SELECT * FROM events WHERE event_id < {int(max_events)} "
        f"AND event_id NOT IN (SELECT event_id FROM injected_ids))",
    )
    con.unregister("injected_ids")
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:1] or [(len(got), len(want))]
        return [f"per-type totals differ: landed {diff[0][0]} vs expected {diff[0][1]}"]
    return []


def check_dropped(dropped, injected_count):
    if dropped != injected_count:
        return [f"sources.rows_dropped {dropped} != {injected_count} injected payloads"]
    return []


def log_last_offsets(log_dir):
    """Last offset of every partition file, read with a parser of our own."""
    last = {}
    for f in sorted(Path(log_dir).glob("partition-*.log")):
        p = int(f.name[len("partition-"):-len(".log")])
        off = -1
        with open(f, "rb") as fh:
            for line in fh:
                tab = line.find(b"\t")
                if tab > 0:
                    off = int(line[:tab])
        last[p] = off
    return last


def committed_offsets(ckpt_dir):
    """Source offsets of the last committed batch of a checkpoint."""
    commits = [int(p.name) for p in (Path(ckpt_dir) / "commits").iterdir() if p.name.isdigit()]
    if not commits:
        return {}
    lines = (Path(ckpt_dir) / "offsets" / str(max(commits))).read_text().splitlines()
    return {int(k): int(v) for k, v in json.loads(lines[-1]).items()}


def check_offsets(committed, last):
    if committed != last:
        return [f"committed offsets {committed} != last log offsets {last}"]
    return []
