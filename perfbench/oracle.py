"""Untimed output check: each query's collected rows against DuckDB.

The rules are oracle/diff.py's: columns sorted by name, the full sorted
row multiset with doubles at full precision, and pandas dtypes through
DuckDB's .df(). The benchmark JVM fingerprints every execution's rows
and writes each fingerprint it has not seen verified as parquet; this
module checks those dumps and remembers, per source state and scale
factor, which fingerprints passed, so later runs of the same build
check by fingerprint alone.
"""
import hashlib
import json
import math

TABLES = ["region", "nation", "supplier", "customer", "part",
          "orders", "lineitem", "documents", "embeddings", "events"]

# Queries with no oracle (approximate estimators by design): their result
# must have this schema and at least one row.
DECLARED = {
    "q_approx_distinct": {"cols": ["approx_users", "event_type"], "dtypes": ["int64", "object"]},
    "q_harmonic_approx": {"cols": ["harmonic", "n_hop1", "n_hop2", "vertex"],
                          "dtypes": ["float64", "float64", "float64", "object"]},
}


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest(con, rel):
    """(sorted columns, their dtypes, row count, hash of the sorted rows)."""
    cols = sorted(rel.columns)
    sel = con.sql(f"SELECT {', '.join(cols)} FROM rel")
    df = sel.df()
    rows = sorted(tuple(norm(v) for v in r) for r in sel.fetchall())
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"cols": cols, "dtypes": [str(df[c].dtype) for c in cols], "rows": len(rows),
            "digest": h}


def _connect(sf):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def _state(cache_dir, stamp, sf):
    f = cache_dir / "verified.json"
    data = json.loads(f.read_text()) if f.exists() else {}
    return f, data, f"{stamp} {sf}"


def known_file(cache_dir, stamp, sf, run_dir):
    """Writes the fingerprints already verified for this build and sf."""
    _, data, key = _state(cache_dir, stamp, sf)
    out = run_dir / "known.txt"
    out.write_text("".join(k + "\n" for k in data.get(key, [])))
    return out


def check(cache_dir, stamp, sf, res):
    """Returns {"<query> <fingerprint>": None when correct, else the reason}."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    f, data, key = _state(cache_dir, stamp, sf)
    verified = set(data.get(key, []))
    verdicts = {}
    con = _connect(sf) if res["dumps"] else None
    for d in res["dumps"]:
        name = d["key"].split()[0]
        try:
            got = digest(con, con.sql(f"SELECT * FROM read_parquet('{d['dir']}/*.parquet')"))
        except Exception as e:  # noqa: BLE001
            verdicts[d["key"]] = f"result unreadable: {e}"
            continue
        sql = res["oracle_sql"].get(name)
        if sql is None:
            want = DECLARED.get(name)
            bad = ("no oracle and no declared schema" if want is None
                   else f"schema {got['cols']} {got['dtypes']} != declared"
                   if (got["cols"], got["dtypes"]) != (want["cols"], want["dtypes"])
                   else "empty result" if got["rows"] == 0 else None)
        else:
            want = _oracle(cache_dir, con, sf, sql)
            bad = (want["error"] if "error" in want
                   else f"columns {got['cols']} != {want['cols']}" if got["cols"] != want["cols"]
                   else f"dtypes {got['dtypes']} != {want['dtypes']}"
                   if got["dtypes"] != want["dtypes"]
                   else f"rows {got['rows']} != {want['rows']}" if got["rows"] != want["rows"]
                   else "row values differ" if got["digest"] != want["digest"] else None)
        verdicts[d["key"]] = bad
        if bad is None:
            verified.add(d["key"])
    for e in res["warm"] + res["execs"]:
        k = f"{e['query']} {e['fp']}"
        if not e["error"] and k not in verdicts:
            verdicts[k] = None if k in verified else "result not checked"
    data[key] = sorted(verified)
    f.write_text(json.dumps(data))
    return verdicts


def _oracle(cache_dir, con, sf, sql):
    """The oracle's digest for one SQL text, cached by (sf, SQL)."""
    f = cache_dir / (hashlib.sha1(f"{sf}\n{sql}".encode()).hexdigest() + ".json")
    if f.exists():
        return json.loads(f.read_text())
    try:
        want = digest(con, con.sql(sql))
    except Exception as e:  # noqa: BLE001
        want = {"error": f"oracle errored: {e}"}
    f.write_text(json.dumps(want))
    return want
