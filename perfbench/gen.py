"""Seeded input generators for the benchmark.

Every generator takes a numpy Generator built from the run's --seed, so the
same seed writes byte-identical inputs, and sizes never depend on the seed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["FURNITURE", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"]
PADJ = ["red", "old", "cold", "hot", "new", "small", "blue", "big"]
PNOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "nut", "spring"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds since epoch


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(rng, out, sf):
    """TPC-H-like star schema with the schemas of graft's fixture tables;
    `sf` scales the row counts."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else []
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 95000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, n_li) * DAY_US)})


# --- yaml_refactor: a legacy-layout dbt project --------------------------

TYPES = ["INTEGER", "BIGINT", "DOUBLE", "VARCHAR", "DATE", "BOOLEAN"]
DRIFT_TYPE = {"INTEGER": "integer", "BIGINT": "bigint", "DOUBLE": "double",
              "VARCHAR": "varchar", "DATE": "date", "BOOLEAN": "boolean"}


def _yaml_str(s):
    return json.dumps(s)  # a JSON string is a valid YAML double-quoted scalar


def project(rng, root, n_models, n_layers, n_seeds, cols_per_model):
    """Writes a dbt project whose docs all sit in models/schema.yml with
    planted drift, and returns (relation schemas, expected model columns,
    seed column docs) for declaring warehouse views and checking output."""
    os.makedirs(os.path.join(root, "seeds"), exist_ok=True)
    seed_cols = {}
    col_type = {}
    for s in range(n_seeds):
        names = [f"s{s}_c{j}" for j in range(cols_per_model * 2)]
        seed_cols[f"seed_{s}"] = names
        for c in names:
            col_type[c] = TYPES[int(rng.integers(0, len(TYPES)))]
        with open(os.path.join(root, "seeds", f"seed_{s}.csv"), "w") as f:
            f.write(",".join(names) + "\n")
    doc = {c: f"{c} documented on its seed (tag {int(rng.integers(0, 10**6))})"
           for cols in seed_cols.values() for c in cols}

    # layer 0 = seeds; models in layers 1..n_layers, each with fan-in 2
    layers = [list(seed_cols)]
    per_layer = max(n_models // n_layers, 1)
    rel_cols = dict(seed_cols)
    model_layer = {}
    sql = {}
    for layer in range(1, n_layers + 1):
        count = per_layer if layer < n_layers else n_models - per_layer * (n_layers - 1)
        names = []
        for _ in range(count):
            name = f"m{len(model_layer):04d}"
            # parents come from the previous layer only, so every path to a seed
            # has the same length and the seed is each column's farthest ancestor
            pool = layers[-1]
            parents = list(dict.fromkeys(
                pool[int(i)] for i in rng.choice(len(pool), min(2, len(pool)), replace=False)))
            owner = {}
            for p in parents:
                for c in rel_cols[p]:
                    owner.setdefault(c, p)
            avail = [(p, c) for c, p in owner.items()]
            pick = sorted(rng.choice(len(avail), min(cols_per_model, len(avail)),
                                     replace=False))
            chosen = [avail[i] for i in pick]
            alias = {p: f"p{k}" for k, p in enumerate(parents)}
            select = ",\n  ".join(f"{alias[p]}.{c}" for p, c in chosen)
            frm = "\n  cross join ".join(
                (f"{{{{ ref('{p}') }}}} {alias[p]}") for p in parents)
            sql[name] = (layer, f"select\n  {select}\nfrom {frm}\n")
            rel_cols[name] = [c for _, c in chosen]
            model_layer[name] = layer
            names.append(name)
        layers.append(names)

    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    for name, (layer, text) in sql.items():
        d = os.path.join(root, "models", f"layer_{layer:02d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{name}.sql"), "w") as f:
            f.write(text)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: bench\nversion: '1.0'\nconfig-version: 2\n"
                "models:\n  bench:\n    +materialized: view\n")

    # legacy docs: one schema.yml, seeds documented, models drifted
    out = ["version: 2", "seeds:"]
    for s, cols in seed_cols.items():
        out += [f"  - name: {s}", "    columns:"]
        for c in cols:
            out += [f"      - name: {c}", f"        description: {_yaml_str(doc[c])}",
                    f"        data_type: {col_type[c]}"]
    out.append("models:")
    for name in sql:
        cols = list(rel_cols[name])
        listed = [c for c in cols if rng.random() > 0.2]           # missing columns
        if len(listed) > 2 and rng.random() < 0.5:                  # out of order
            i, j = rng.choice(len(listed), 2, replace=False)
            listed[i], listed[j] = listed[j], listed[i]
        if name == "m0000":  # on every seed, one model listed in reverse order
            listed.reverse()
        listed += [f"stale_{name}_{k}" for k in range(int(rng.integers(0, 3)))]
        out += [f"  - name: {name}", f"    description: model {name}", "    columns:"]
        for c in listed:
            out.append(f"      - name: {c}")
            if not c.startswith("stale_"):
                t = col_type[c]
                out.append(f"        data_type: {DRIFT_TYPE[t] if rng.random() < 0.3 else t}")
    with open(os.path.join(root, "models", "schema.yml"), "w") as f:
        f.write("\n".join(out) + "\n")

    schemas = {r: [[c, col_type[c]] for c in cols] for r, cols in rel_cols.items()}
    models = {name: {"layer": model_layer[name], "columns": rel_cols[name]} for name in sql}
    return schemas, models, doc, col_type


# --- build_serve: a dbt-style project over the TPC-H-like tables ---------

SERVE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

SERVE_MODELS = {
    "staging/stg_region": "select r_regionkey, r_name from {{ source('raw', 'region') }}",
    "staging/stg_nation": "select n_nationkey, n_name, n_regionkey from {{ source('raw', 'nation') }}",
    "staging/stg_customer": "select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                            "from {{ source('raw', 'customer') }}",
    "staging/stg_supplier": "select s_suppkey, s_name, s_nationkey from {{ source('raw', 'supplier') }}",
    "staging/stg_part": "select p_partkey, p_name, p_type, p_size from {{ source('raw', 'part') }}",
    "staging/stg_orders": "select o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority "
                          "from {{ source('raw', 'orders') }}",
    "staging/stg_lineitem": "select l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, "
                            "l_extendedprice * (1 - l_discount) as revenue "
                            "from {{ source('raw', 'lineitem') }}",
    "marts/fct_order_lines": "select l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, "
                             "l.l_quantity, l.revenue, o.o_custkey, o.o_orderdate, o.o_orderstatus, "
                             "o.o_orderpriority from {{ ref('stg_lineitem') }} l "
                             "join {{ ref('stg_orders') }} o on l.l_orderkey = o.o_orderkey",
    "marts/dim_customer": "select c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal, n.n_name, r.r_name "
                          "from {{ ref('stg_customer') }} c "
                          "join {{ ref('stg_nation') }} n on c.c_nationkey = n.n_nationkey "
                          "join {{ ref('stg_region') }} r on n.n_regionkey = r.r_regionkey",
    "marts/fct_orders": "select l_orderkey as o_orderkey, o_custkey, o_orderdate, o_orderstatus, "
                        "o_orderpriority, count(*) as n_lines, sum(revenue) as revenue "
                        "from {{ ref('fct_order_lines') }} "
                        "group by l_orderkey, o_custkey, o_orderdate, o_orderstatus, o_orderpriority",
    "marts/mart_customer_ltv": "select c.c_custkey, c.c_name, c.n_name, count(*) as n_orders, "
                               "sum(o.revenue) as ltv from {{ ref('fct_orders') }} o "
                               "join {{ ref('dim_customer') }} c on o.o_custkey = c.c_custkey "
                               "group by c.c_custkey, c.c_name, c.n_name",
    "marts/mart_revenue_by_nation": "select c.n_name, c.r_name, count(*) as n_orders, "
                                    "sum(o.revenue) as revenue from {{ ref('fct_orders') }} o "
                                    "join {{ ref('dim_customer') }} c on o.o_custkey = c.c_custkey "
                                    "group by c.n_name, c.r_name",
    "marts/mart_revenue_by_month": "select date_trunc('month', o_orderdate) as month, "
                                   "count(*) as n_lines, sum(revenue) as revenue "
                                   "from {{ ref('fct_order_lines') }} group by 1",
    "marts/mart_part_sales": "select p.p_partkey, p.p_type, sum(l.l_quantity) as qty, "
                             "sum(l.revenue) as revenue from {{ ref('fct_order_lines') }} l "
                             "join {{ ref('stg_part') }} p on l.l_partkey = p.p_partkey "
                             "group by p.p_partkey, p.p_type",
    "marts/mart_supplier_revenue": "select s.s_suppkey, s.s_name, n.n_name, sum(l.revenue) as revenue "
                                   "from {{ ref('fct_order_lines') }} l "
                                   "join {{ ref('stg_supplier') }} s on l.l_suppkey = s.s_suppkey "
                                   "join {{ ref('stg_nation') }} n on s.s_nationkey = n.n_nationkey "
                                   "group by s.s_suppkey, s.s_name, n.n_name",
}

# documented columns: ALTER ... COMMENT only lands on columns the YAML lists
SERVE_DOCS = {
    "dim_customer": ["c_custkey", "c_name", "c_mktsegment", "c_acctbal", "n_name", "r_name"],
    "mart_customer_ltv": ["c_custkey", "c_name", "n_name", "n_orders", "ltv"],
    "fct_orders": ["o_orderkey", "o_custkey", "o_orderdate", "n_lines", "revenue"],
}


def serve_project(root):
    for path, text in SERVE_MODELS.items():
        p = os.path.join(root, "models", path + ".sql")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(text + "\n")
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write("name: shop\nversion: '1.0'\nconfig-version: 2\nmodels:\n  shop:\n"
                "    staging:\n      materialized: view\n    marts:\n      materialized: table\n")
    out = ["version: 2", "sources:", "  - name: raw", "    tables:"]
    out += [f"      - name: {t}" for t in SERVE_TABLES]
    out.append("models:")
    for m, cols in SERVE_DOCS.items():
        out += [f"  - name: {m}", "    columns:"]
        out += [f"      - name: {c}\n        description: {c} of {m}" for c in cols]
    with open(os.path.join(root, "models", "schema.yml"), "w") as f:
        f.write("\n".join(out) + "\n")


SERVE_MIX = [("lookup", 30), ("range_agg", 20), ("topk", 15), ("join", 15), ("pivot", 10),
             ("schema", 5), ("alter", 5)]


def serve_request(rng, kind, i, n_cust):
    if kind == "lookup":
        k = int(rng.integers(0, n_cust))
        sql = (f"{{% set key = {k} %}}select c_custkey, c_name, n_name, n_orders, round(ltv, 2) as ltv "
               "from {{ ref('mart_customer_ltv') }} where c_custkey = {{ key }}")
        return {"kind": kind, "sql": sql, "args": [k]}
    if kind == "range_agg":
        d0 = int(rng.integers(0, 2300))
        d1 = d0 + int(rng.integers(7, 120))
        sql = ("select count(*) as n_lines, round(sum(revenue), 2) as revenue "
               "from {{ ref('fct_order_lines') }} "
               f"where o_orderdate >= date_add(date'1995-01-01', {d0}) "
               f"and o_orderdate < date_add(date'1995-01-01', {d1})")
        return {"kind": kind, "sql": sql, "args": [d0, d1]}
    if kind == "topk":
        n = int(rng.integers(0, 25))
        sql = ("select c_custkey, round(ltv, 2) as ltv, rk from (select c_custkey, ltv, "
               "row_number() over (partition by n_name order by ltv desc, c_custkey) as rk "
               f"from {{{{ ref('mart_customer_ltv') }}}} where n_name = 'NATION_{n}') "
               "where rk <= 5 order by rk")
        return {"kind": kind, "sql": sql, "args": [n]}
    if kind == "join":
        pr = PRIORITIES[int(rng.integers(0, 5))]
        sql = ("select c.c_mktsegment, count(*) as n_orders, round(sum(o.revenue), 2) as revenue "
               "from {{ ref('fct_orders') }} o join {{ ref('dim_customer') }} c "
               f"on o.o_custkey = c.c_custkey where o.o_orderpriority = '{pr}' "
               "group by c.c_mktsegment order by c.c_mktsegment")
        return {"kind": kind, "sql": sql, "args": [pr]}
    if kind == "pivot":
        lo = int(rng.integers(0, n_cust))
        hi = lo + int(rng.integers(10, 200))
        sql = ("{% set statuses = ['F', 'O', 'P'] %}select o_orderpriority"
               "{% for s in statuses %}, sum(case when o_orderstatus = '{{ s }}' then 1 else 0 end) "
               "as n_{{ s }}{% endfor %} from {{ ref('stg_orders') }} "
               f"where o_custkey between {lo} and {hi} group by o_orderpriority order by o_orderpriority")
        return {"kind": kind, "sql": sql, "args": [lo, hi]}
    if kind == "alter":
        table = sorted(SERVE_DOCS)[int(rng.integers(0, len(SERVE_DOCS)))]
        col = SERVE_DOCS[table][int(rng.integers(0, len(SERVE_DOCS[table])))]
        note = f"note {i} {int(rng.integers(0, 10**9))}"
        return {"kind": kind, "sql": f"ALTER TABLE {table} MODIFY COLUMN {col} STRING COMMENT '{note}'",
                "args": [table, col, note]}
    return {"kind": "schema"}


def serve_requests(rng, data, per_client):
    """Two closed-loop clients' request lists. Only client 0 sends ALTERs, so
    two comment updates never race each other."""
    kinds, weights = zip(*SERVE_MIX)
    p = np.array(weights, float) / sum(weights)
    n_cust = pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows
    clients = []
    for c in range(2):
        reqs = []
        for i in range(per_client):
            k = kinds[int(rng.choice(len(kinds), p=p))]
            if k == "alter" and c != 0:
                k = "schema"
            reqs.append(serve_request(rng, k, i, n_cust))
        clients.append(reqs)
    return clients
