"""DuckDB answer check for the suite_mix workload.

The benchmark JVM writes each suite query's output as parquet under one
directory per query, together with the query's oracle SQL. This module runs
each oracle in DuckDB over the same test tables and compares the answers
exactly: same columns (by name, case-insensitive), same row count, same
values row by row in order. Oracle results depend only on the SQL and the
read-only tables, so they are cached by a hash of both.
"""
import hashlib
import math
import os
import pickle

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _same(a, b):
    a, b = _norm(a), _norm(b)
    if a == b:
        return True
    if a is None and b == "NaN":
        return True
    return str(a) == str(b)


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def compare(got, exp):
    """None when (cols, rows) `got` equals `exp`, else the first difference."""
    gc, gr = got
    ec, er = exp
    if sorted(c.lower() for c in gc) != sorted(c.lower() for c in ec):
        return f"columns differ: got {gc}, expected {ec}"
    if len(gr) != len(er):
        return f"row count {len(gr)}, expected {len(er)}"
    order = sorted(range(len(gc)), key=lambda i: gc[i].lower())
    eidx = {c.lower(): i for i, c in enumerate(ec)}
    for n, (g, e) in enumerate(zip(gr, er)):
        for i in order:
            a, b = g[i], e[eidx[gc[i].lower()]]
            if not _same(a, b):
                return f"row {n} column {gc[i]}: got {a!r}, expected {b!r}"
    return None


def perturb(result):
    """A copy of `result` with one value changed (for the checker self-test)."""
    cols, rows = result
    rows = [list(r) for r in rows]
    if not rows:
        return cols, [[None] * len(cols)]
    r = rows[len(rows) // 2]
    v = r[0]
    if isinstance(v, bool):
        r[0] = not v
    elif isinstance(v, (int, float)):
        r[0] = v + 1
    elif isinstance(v, str):
        r[0] = v + "x"
    else:
        r[0] = None if v is not None else 0
    return cols, [tuple(x) for x in rows]


def check(sf_dir, answers_dir, oracle_sql, cache_dir):
    """Return ({query: None | reason}, self_test_ok)."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdicts, self_test_ok = {}, True
    for name in sorted(oracle_sql):
        sql = oracle_sql[name]
        key = hashlib.sha256((os.path.realpath(sf_dir) + "\0" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".pkl")
        try:
            got = _fetch(con, f"SELECT * FROM read_parquet('{answers_dir}/{name}/*.parquet')")
            if os.path.exists(cached):
                with open(cached, "rb") as f:
                    exp = pickle.load(f)
            else:
                exp = _fetch(con, sql)
                with open(cached + ".tmp", "wb") as f:
                    pickle.dump(exp, f)
                os.replace(cached + ".tmp", cached)
        except Exception as e:  # an unreadable answer or a broken oracle is a failure
            verdicts[name] = f"{type(e).__name__}: {e}"
            continue
        verdicts[name] = compare(got, exp)
        # self-test on real data: a perturbed answer must be caught
        if compare(perturb(got), exp) is None:
            self_test_ok = False
    return verdicts, self_test_ok
