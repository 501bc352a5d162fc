"""Differential check of gate results against their DuckDB oracles.

Each gate's result (parquet written by the runner's check pass) is compared
with `SparkEntry.oracleSql(gate)` run by DuckDB over the same fixture
files: columns matched by name, rows as a multiset, doubles within 1e-9
relative.  A column whose numeric type family (integer, floating point,
decimal) differs between the two sides fails the gate, because a typed
hash of the result would differ even when every value matches.
"""
import math
from pathlib import Path

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

FAMILIES = {
    "integer": ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"),
    "float": ("FLOAT", "DOUBLE"),
    "decimal": ("DECIMAL",),
}


def family(duck_type):
    t = str(duck_type).upper()
    for fam, names in FAMILIES.items():
        if any(t == n or t.startswith(n + "(") for n in names):
            return fam
    return None


def connect(fixture_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return tuple(f"{x:.9g}" if isinstance(x, float) else str(x) for x in row)


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def _fetch(con, sql):
    """({column: DuckDB type}, rows).  The relation API carries the real
    types; a cursor's description reports every numeric as NUMBER."""
    rel = con.sql(sql)
    return dict(zip(rel.columns, map(str, rel.types))), rel.fetchall()


def _rows(types, rows, cols):
    idx = [list(types).index(c) for c in cols]
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=_sort_key)


def compare(con, result_dir, sql):
    """(None when the result matches the oracle, else the reason; result
    row count)."""
    files = sorted(str(f) for f in Path(result_dir).glob("*.parquet"))
    if not files:
        return "no result written", 0
    got_t, got = _fetch(con, f"SELECT * FROM read_parquet({files!r})")
    return _diff(got_t, got, *_fetch(con, sql)), len(got)


def _diff(got_t, got, exp_t, exp):
    if sorted(got_t) != sorted(exp_t):
        return f"columns {sorted(got_t)} != oracle {sorted(exp_t)}"
    bad = [f"{c}: {got_t[c]} vs oracle {exp_t[c]}" for c in got_t
           if family(got_t[c]) != family(exp_t[c])
           and (family(got_t[c]) or family(exp_t[c]))]
    if bad:
        return "type family mismatch: " + "; ".join(bad)
    cols = sorted(got_t)
    g, e = _rows(got_t, got, cols), _rows(exp_t, exp, cols)
    if len(g) != len(e):
        return f"{len(g)} rows != oracle {len(e)}"
    for i, (r1, r2) in enumerate(zip(g, e)):
        if not all(_close(a, b) for a, b in zip(r1, r2)):
            return f"row {i} differs: {r1} vs oracle {r2}"
    return None


def check(fixture_dir, check_dir, gates, oracles, passes):
    """({gate: reason} for every gate that threw in one of the `passes`,
    has no oracle, or mismatched it; {gate: result rows})."""
    errors = {q["gate"]: q["err"] for q in passes if not q["ok"]}
    con = connect(fixture_dir)
    failures, rows = {}, {}
    for gate in gates:
        if gate in errors:
            failures[gate] = f"threw: {errors[gate]}"
        elif not oracles.get(gate):
            failures[gate] = "no oracle"
        else:
            try:
                why, rows[gate] = compare(con, Path(check_dir) / gate, oracles[gate])
            except Exception as e:  # an oracle that cannot run is a failure
                why = f"check error: {e}"
            if why:
                failures[gate] = why
    return failures, rows
