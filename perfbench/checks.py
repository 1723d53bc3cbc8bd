"""Output checks, each computed apart from graft: the YAML against the
generator's own expectations, marts and served answers against DuckDB SQL
over the raw parquet."""
import json
import os

import duckdb
import yaml


def check(workload, run_dir, cfg, expect):
    if workload == "yaml_refactor":
        return check_yaml(run_dir, cfg, expect)
    return check_serve(run_dir, cfg)


# --- yaml_refactor -------------------------------------------------------

def check_yaml(run_dir, cfg, expect):
    root = cfg["project"]
    docs, types = expect["docs"], expect["types"]
    seed_of = {c: f"seed.bench.seed_{c[1:].split('_')[0]}" for c in docs}
    problems, out_of_order = [], []
    for name, m in expect["models"].items():
        layer = f"layer_{m['layer']:02d}"  # template {parent}/{model}.yml, from models/<layer>/
        path = os.path.join(root, "models", layer, layer, f"{name}.yml")
        if not os.path.exists(path):
            problems.append(f"{name}: no YAML at {path}")
            continue
        entries = [e for e in (yaml.safe_load(open(path)) or {}).get("models", [])
                   if e.get("name") == name]
        if len(entries) != 1:
            problems.append(f"{name}: {len(entries)} entries in {path}")
            continue
        cols = entries[0].get("columns") or []
        names = [c.get("name") for c in cols]
        if sorted(names) != sorted(m["columns"]):
            problems.append(f"{name}: columns {names} != {m['columns']}")
            continue
        if names != m["columns"]:
            out_of_order.append(name)
        for c in cols:
            n = c["name"]
            meta = c.get("meta") or {}
            if c.get("description") != docs[n]:
                problems.append(f"{name}.{n}: description {c.get('description')!r}")
            if meta.get("osmosis_progenitor") != seed_of[n]:
                problems.append(f"{name}.{n}: progenitor {meta.get('osmosis_progenitor')!r}")
            if str(c.get("data_type", "")).upper() != types[n]:
                problems.append(f"{name}.{n}: type {c.get('data_type')!r} != {types[n]}")
    legacy = os.path.join(root, "models", "schema.yml")
    if os.path.exists(legacy) and (yaml.safe_load(open(legacy)) or {}).get("models"):
        problems.append("models/schema.yml still documents models")
    # A refactor pass whose YAML lists columns out of relation order counts as
    # failed in the JVM; that count must name the same models as this check.
    counted = json.load(open(os.path.join(run_dir, "order_drift.json")))
    if sorted(out_of_order) != counted:
        problems.append(f"columns out of relation order in {sorted(out_of_order)[:5]} "
                        f"({len(out_of_order)} models), but the failed pass counted {counted[:5]} "
                        f"({len(counted)} models)")
    return problems


# --- build_serve ---------------------------------------------------------

def _con(data, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(float(a) - float(b)) <= 0.011 + 1e-9 * abs(float(b))
    return a == b


def _rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


REV = "l_extendedprice * (1 - l_discount)"

EXPECTED_SQL = {
    "lookup": lambda k: (
        f"SELECT c.c_custkey, c.c_name, n.n_name, count(DISTINCT o.o_orderkey), "
        f"round(sum({REV}), 2) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE c.c_custkey = {k} GROUP BY ALL"),
    "range_agg": lambda d0, d1: (
        f"SELECT count(*), round(sum({REV}), 2) FROM lineitem l JOIN orders o "
        f"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderdate >= DATE '1995-01-01' + {d0} "
        f"AND o.o_orderdate < DATE '1995-01-01' + {d1}"),
    "topk": lambda n: (
        f"SELECT c_custkey, round(ltv, 2), rk FROM (SELECT o.o_custkey AS c_custkey, sum({REV}) AS ltv, "
        f"row_number() OVER (ORDER BY sum({REV}) DESC, o.o_custkey) AS rk FROM lineitem l "
        f"JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE c.c_nationkey = {n} GROUP BY o.o_custkey) WHERE rk <= 5 ORDER BY rk"),
    "join": lambda pr: (
        f"SELECT c.c_mktsegment, count(DISTINCT o.o_orderkey), round(sum({REV}), 2) FROM lineitem l "
        f"JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE o.o_orderpriority = '{pr}' GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
    "pivot": lambda lo, hi: (
        "SELECT o_orderpriority, count(*) FILTER (o_orderstatus = 'F'), "
        "count(*) FILTER (o_orderstatus = 'O'), count(*) FILTER (o_orderstatus = 'P') "
        f"FROM orders WHERE o_custkey BETWEEN {lo} AND {hi} GROUP BY 1 ORDER BY 1"),
}


def check_serve(run_dir, cfg):
    problems = []
    served_path = os.path.join(run_dir, "served.json")
    if not os.path.exists(served_path):
        return ["no served.json"]
    served = json.load(open(served_path))
    con = _con(cfg["data"], cfg["tables"])
    marts = served.get("tables")
    if not marts:
        return ["no built tables"]
    for m in ["fct_order_lines", "dim_customer", "fct_orders", "mart_customer_ltv",
              "mart_revenue_by_nation", "mart_revenue_by_month"]:
        con.execute(f"CREATE VIEW {m} AS SELECT * FROM read_parquet('{marts}/{m}/*.parquet')")
    want = {
        "fct_order_lines": ("SELECT count(*) FROM lineitem", None),
        "dim_customer": ("SELECT count(*) FROM customer", None),
        "fct_orders": ("SELECT count(DISTINCT l_orderkey) FROM lineitem", "revenue"),
        "mart_customer_ltv": ("SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderkey IN "
                              "(SELECT l_orderkey FROM lineitem)", "ltv"),
        "mart_revenue_by_nation": ("SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_custkey IN "
                                   "(SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
                                   "revenue"),
        "mart_revenue_by_month": ("SELECT count(DISTINCT date_trunc('month', o_orderdate)) FROM orders "
                                  "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)", "revenue"),
    }
    total = con.execute(f"SELECT sum({REV}) FROM lineitem").fetchone()[0]
    for m, (sql, rev) in want.items():
        n_want = con.execute(sql).fetchone()[0]
        n_got = con.execute(f"SELECT count(*) FROM {m}").fetchone()[0]
        if n_got != n_want:
            problems.append(f"{m}: {n_got} rows, DuckDB says {n_want}")
        if rev:
            got = con.execute(f"SELECT sum({rev}) FROM {m}").fetchone()[0]
            if abs(got - total) > 1e-9 * abs(total):
                problems.append(f"{m}: revenue {got} != DuckDB {total}")
    alters = {}
    for reqs, bodies in zip(cfg["clients"], served["responses"]):
        for r, body in zip(reqs, bodies):
            if not body:
                problems.append(f"{r['kind']}: no response")
                continue
            if r["kind"] == "alter":
                alters[(r["args"][0], r["args"][1])] = r["args"][2]
            if r["kind"] not in EXPECTED_SQL:
                continue
            got = json.loads(body)["rows"]
            want_rows = [list(x) for x in con.execute(EXPECTED_SQL[r["kind"]](*r["args"])).fetchall()]
            if not _rows_equal(got, want_rows):
                problems.append(f"{r['kind']}{r['args']}: served {got[:3]} != DuckDB {want_rows[:3]}")
    schema = json.loads(served["schema"]) if served.get("schema") else {}
    tables = {t: cols for s in schema.values() for t, cols in s.items()}
    for (t, c), note in alters.items():
        if tables.get(t, {}).get(c, {}).get("description") != note:
            problems.append(f"/schema {t}.{c} lacks comment {note!r}")
    return problems

