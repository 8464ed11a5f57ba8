"""Correctness checks, run after the timed region. Each returns a list of
failure messages; an empty list means the check passed."""
import glob
import hashlib
import json
import math
import os

from gen import QUERY_TABLES


def dump_digest(path):
    """(count, sha256) of a TSV dump, insensitive to row order; the same
    digest gen.table_digest computes from the expected rows."""
    with open(path, encoding="utf-8") as f:
        lines = sorted(line.rstrip("\n") for line in f)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def check_catalog(dump_dir, manifest):
    """Every manifest table: row count and order-insensitive hash."""
    bad = []
    for table, (count, digest) in sorted(manifest["tables"].items()):
        path = os.path.join(dump_dir, f"{table}.tsv")
        if not os.path.exists(path):
            bad.append(f"{table}: no dump")
            continue
        got_n, got_h = dump_digest(path)
        if (got_n, got_h) != (count, digest):
            bad.append(f"{table}: {got_n} rows (hash {got_h[:12]}), "
                       f"expected {count} (hash {digest[:12]})")
    refused = manifest.get("guard_refused")
    if refused:
        path = os.path.join(dump_dir, "videos.tsv")
        titles = {}
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    cols = line.rstrip("\n").split("\x1f")
                    titles[cols[0]] = cols[1]
        downgraded = [v for v in refused
                      if titles.get(v, "\\N") == "\\N"
                      or titles[v].endswith("(remastered)")]
        if downgraded:
            bad.append(f"videos: W2 guard let {len(downgraded)} refused "
                       f"upgrades through, e.g. {downgraded[0]}")
    return bad


def _norm(v):
    # NULLs sort first and NaN compares equal to itself
    if v is None:
        return (0, "")
    if isinstance(v, float) and math.isnan(v):
        return (1, "NaN")
    return (1, v)


def check_queries(results_dir, tables_dir, oracle_path):
    """Each query's parquet result equals its DuckDB oracle: same column
    names, and the same rows once columns are sorted by name and rows are
    sorted, compared exactly."""
    import duckdb
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result")
            continue
        try:
            exp = con.execute(sql)
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
            got = con.execute(
                f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:  # an oracle that cannot run is a failure
            bad.append(f"{name}: {e}")
            continue
        if sorted(ecols) != sorted(gcols):
            bad.append(f"{name}: columns {sorted(gcols)} != {sorted(ecols)}")
            continue
        ei = [ecols.index(c) for c in sorted(ecols)]
        gi = [gcols.index(c) for c in sorted(gcols)]
        e = sorted(tuple(_norm(r[i]) for i in ei) for r in erows)
        g = sorted(tuple(_norm(r[i]) for i in gi) for r in grows)
        if e != g:
            diff = next(((x, y) for x, y in zip(e, g) if x != y), None)
            bad.append(f"{name}: {len(g)} rows vs oracle {len(e)}; "
                       f"first difference {diff}")
    return bad
