"""Randomized differential fuzzer: Spark vs DuckDB over an engine-neutral SQL core.

The catalog's 123 hand-written oracles referee 123 fixed plans.  This tool
referees the *translation conventions those oracles rely on* across a much
broader expression space: it generates random queries restricted to a dialect
subset whose semantics are bit-identical in Spark and DuckDB, runs the SAME
query string on both engines, and compares full results with the same
order-insensitive comparator the parity suite uses (tests/oracle.compare).
Any mismatch is a real cross-engine divergence, not dialect noise — exactly
the class of defect the r6 c82_winsorize bug belonged to.

The safe dialect (deliberate restrictions, each dodging a known
cross-engine gray zone):

- **Integers**: leaves are bounded via ``% K`` before +/-/* composition, so
  no overflow under either engine's (ANSI) arithmetic; no division (DuckDB
  errors on x/0, Spark ANSI too, non-ANSI returns NULL — three behaviors).
- **Doubles**: per-row +/-/* only (IEEE ops on identical expression trees
  are bit-exact in both engines; no FMA contraction in either evaluator;
  no transcendental functions — libm rounding differs; no round() —
  HALF_UP vs HALF_EVEN).  Products are ONE price-like base column times
  (1.0 +/- ratio) factors over the small ratio columns (or a small int
  constant), so the true value keeps <= 6 decimal digits AND stays small
  enough (|v| << 1e-6 * 2^52 ~ 4.5e9) that the double's ulp is far below
  the 1e-6 grain.  Aggregated only as SUM(CAST(. AS DECIMAL(38,6))):
  under those bounds the decimal cast is unambiguous and decimal addition
  is order-independent.  The magnitude bound is NOT cosmetic — the
  fuzzer's own first campaign (seed 20260815, i=66/135) proved
  double->decimal casting diverges outside it: for
  x = -1.13240561587676e16 (exact binary value -11324056158767600),
  DuckDB's cast multiplies by 10^scale in double arithmetic and yields
  -11324056158767599.845376 while Spark's goes through shortest-repr
  BigDecimal.valueOf and yields -11324056158767600.000000.  This is the
  measured justification for the catalog-wide decimal-sum digest
  convention holding only for money-grain values.
- **Strings**: ``||`` (NULL-propagating in both; DuckDB's concat() is not),
  upper/lower/trim/replace/substr (positive offsets only — negative
  offsets differ), length, LIKE with literal patterns, IN lists.
- **Timestamps**: year/month/day/hour + comparisons against TIMESTAMP
  literals (UTC-pinned session on the Spark side, naive on DuckDB — same
  wall clock, the repo-wide convention).
- **NULL machinery**: NULLIF/COALESCE/CASE/IS NULL to synthesize and route
  NULLs through every shape.
- **Aggregates**: COUNT(*)/COUNT(x)/COUNT(DISTINCT int|str)/SUM(int)/
  MIN/MAX(int|str)/decimal-sum(double).  No AVG (accumulates as double —
  order-dependent), no DISTINCT over doubles (NaN multiset semantics).
- **Windows**: RANK/DENSE_RANK over any ordering, ROW_NUMBER only when the
  ORDER BY ends with a unique key (ties would be nondeterministic);
  explicit ``NULLS FIRST``/``NULLS LAST`` always (engine defaults differ).
- **Set ops**: UNION ALL / INTERSECT ALL / EXCEPT ALL (the DISTINCT
  variants agree too, but ALL exercises multiset semantics).
- **Joins**: INNER/LEFT equi-joins along the schema's FK edges; semi/anti
  via (NOT) EXISTS and (NOT) IN dim-key subqueries (keys are non-null, so
  NOT IN's empty-on-NULL trap can't fire).
- **Grouping sets**: ROLLUP over low-card keys, full-table only — grouping
  sets over an EMPTY input are a real divergence this fuzzer found (Spark
  returns no rows, DuckDB/PostgreSQL the grand-total row; pinned in
  tests/test_tools.py).
- **Composition**: re-aggregation over derived-table aggregates,
  conditional aggregation (CASE-in-agg + FILTER clause), date_trunc
  bucketing (outer CAST AS TIMESTAMP — DuckDB returns DATE at day+
  granularity, Spark always TIMESTAMP), uncorrelated scalar subqueries,
  ORDER BY + LIMIT with a corpus-verified total-order tail.

Every query is derived from ``random.Random(f"{seed}:{i}")`` so any failure
reproduces from (seed, index) alone:

    python tools/fuzz_differential.py --n 300 --seed 7
    python tools/fuzz_differential.py --seed 7 --emit 42   # print query 42

Exit code is non-zero when any query mismatches; the JSON summary line lists
failing indices with their SQL.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --- schema metadata ---------------------------------------------------------

TABLES: dict[str, dict[str, list[str]]] = {
    "lineitem": {
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "money": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "ratio": ["l_discount", "l_tax"],
        "str": ["l_returnflag", "l_linestatus"],
        "ts": ["l_shipdate"],
        # NOT (l_orderkey, l_linenumber): the driver-generated corpus has
        # ~11.8k duplicate pairs at sf0.01; l_extendedprice totalizes the
        # key at every generated SF (asserted in build_pools).
        "unique": ["l_orderkey", "l_linenumber", "l_extendedprice"],
        "lowcard": ["l_returnflag", "l_linestatus"],
    },
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "money": ["o_totalprice"],
        "str": ["o_orderstatus", "o_orderpriority"],
        "ts": ["o_orderdate"],
        "unique": ["o_orderkey"],
        "lowcard": ["o_orderstatus", "o_orderpriority"],
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "money": ["c_acctbal"],
        "str": ["c_name", "c_mktsegment"],
        "ts": [],
        "unique": ["c_custkey"],
        "lowcard": ["c_mktsegment", "c_nationkey"],
    },
    "part": {
        "int": ["p_partkey", "p_size"],
        "money": ["p_retailprice"],
        "str": ["p_name", "p_brand", "p_type"],
        "ts": [],
        "unique": ["p_partkey"],
        "lowcard": ["p_brand", "p_size"],
    },
    "supplier": {
        "int": ["s_suppkey", "s_nationkey"],
        "money": ["s_acctbal"],
        "str": ["s_name"],
        "ts": [],
        "unique": ["s_suppkey"],
        "lowcard": ["s_nationkey"],
    },
    "events": {
        "int": ["event_id", "user_id"],
        "money": ["value"],
        "str": ["event_type", "props"],
        "ts": ["ts"],
        "unique": ["event_id"],
        "lowcard": ["event_type"],
    },
    "documents": {
        "int": ["doc_id", "n_chars"],
        "money": [],
        "str": ["lang", "source", "text"],
        "ts": [],
        "unique": ["doc_id"],
        "lowcard": ["lang", "source"],
    },
    "nation": {
        "int": ["n_nationkey", "n_regionkey"],
        "money": [],
        "str": ["n_name"],
        "ts": [],
        "unique": ["n_nationkey"],
        "lowcard": ["n_regionkey"],
    },
    "region": {
        "int": ["r_regionkey"],
        "money": [],
        "str": ["r_name"],
        "ts": [],
        "unique": ["r_regionkey"],
        # r_regionkey included so grouping shapes keep their two-distinct-
        # key invariant on this 2-column table (5 rows — "low card" holds)
        "lowcard": ["r_regionkey", "r_name"],
    },
}

# FK edges: (fact, fact_key, dim, dim_key).  Dim side is unique on dim_key,
# so INNER/LEFT joins never multiply fact rows.
JOIN_EDGES: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# Two-hop FK chains (fact -> dim1 -> dim2), derived so new edges extend them.
JOIN_CHAINS: list[tuple[tuple, tuple]] = [
    (e1, e2) for e1 in JOIN_EDGES for e2 in JOIN_EDGES if e2[0] == e1[2]
]


# --- partial-corpus guards ---------------------------------------------------
# build_pools silently skips tables whose parquet is absent from sf_dir (a
# partial corpus, e.g. an sf100 subset).  Shape generators must then draw
# only from what is actually registered — otherwise campaigns report
# spurious engine errors for missing views.  All helpers preserve TABLES /
# JOIN_EDGES order, so on a FULL corpus the filtered list is identical to
# the unfiltered one and every seed:index draws the exact same query as
# before partial-corpus support existed.


def _tables(pools: dict) -> list[str]:
    present = [t for t in TABLES if t in pools]
    if not present:
        raise ValueError("no fuzzable tables present in pools — wrong --sf-dir?")
    return present


def _sample_two(rng: random.Random, pools: dict) -> list[str]:
    present = _tables(pools)
    if len(present) < 2:
        raise ValueError(f"setop shape needs >= 2 tables; corpus has only {present}")
    return rng.sample(present, 2)


def _edge(rng: random.Random, pools: dict) -> tuple:
    edges = [e for e in JOIN_EDGES if e[0] in pools and e[2] in pools]
    if not edges:
        raise ValueError(
            "no JOIN_EDGES with both endpoints in this corpus — "
            "join shapes ungeneratable; pass --shapes to exclude them"
        )
    return rng.choice(edges)


def _chain(rng: random.Random, pools: dict) -> tuple:
    chains = [
        c for c in JOIN_CHAINS
        if c[0][0] in pools and c[0][2] in pools and c[1][2] in pools
    ]
    if not chains:
        raise ValueError(
            "no complete JOIN_CHAINS in this corpus — "
            "join_chain shape ungeneratable; pass --shapes to exclude it"
        )
    return rng.choice(chains)


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


# --- literal pools (sampled from the actual corpus) --------------------------


def build_pools(sf_dir: str) -> dict[str, dict[str, list]]:
    """Per-table literal pools sampled from the target scale factor via
    DuckDB, so generated predicates hit real data at any SF."""
    import duckdb

    con = duckdb.connect()
    pools: dict[str, dict[str, list]] = {}
    for t, meta in TABLES.items():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        if not (os.path.exists(path.replace("*.parquet", "")) or os.path.exists(path)):
            continue
        p: dict[str, list] = {"int": {}, "str": {}, "ts": {}}
        for c in meta["int"]:
            row = con.sql(
                f"SELECT MIN({c}), MAX({c}), "
                f"CAST(quantile_cont({c}, 0.5) AS BIGINT) FROM '{path}'"
            ).fetchone()
            p["int"][c] = [v for v in row if v is not None]
        for c in meta["str"]:
            if c in ("text", "props"):  # long freeform strings: prefix pool
                vals = con.sql(
                    f"SELECT DISTINCT substr({c}, 1, 3) FROM '{path}' "
                    f"WHERE {c} IS NOT NULL LIMIT 4"
                ).fetchall()
            else:
                vals = con.sql(
                    f"SELECT DISTINCT {c} FROM '{path}' WHERE {c} IS NOT NULL "
                    f"ORDER BY 1 LIMIT 8"
                ).fetchall()
            p["str"][c] = [r[0] for r in vals]
        for c in meta["ts"]:
            rows = con.sql(
                f"SELECT CAST(quantile_disc({c}, [0.25, 0.5, 0.75]) AS "
                f"TIMESTAMP[]) FROM '{path}'"
            ).fetchone()
            p["ts"][c] = [str(v) for v in (rows[0] or []) if v is not None]
        # Shapes that promise a total order (orderlimit, window ROW_NUMBER)
        # lean on "unique" actually being duplicate-free in THIS corpus —
        # the driver regenerates testdata per round, so verify, don't trust.
        key = ", ".join(meta["unique"])
        dup = con.sql(
            f"SELECT COUNT(*) FROM (SELECT {key} FROM '{path}' "
            f"GROUP BY {key} HAVING COUNT(*) > 1)"
        ).fetchone()[0]
        if dup:
            raise ValueError(
                f"declared unique key ({key}) of {t} has {dup} duplicate "
                f"groups in {sf_dir} — fix TABLES before fuzzing"
            )
        pools[t] = p
    con.close()
    return pools


# --- expression generators ---------------------------------------------------


class Gen:
    def __init__(self, rng: random.Random, table: str, pools: dict):
        self.rng = rng
        self.t = TABLES[table]
        self.pool = pools.get(table, {"int": {}, "str": {}, "ts": {}})

    # ints ------------------------------------------------------------------
    def int_leaf(self) -> str:
        c = self.rng.choice(self.t["int"])
        k = self.rng.choice([7, 97, 1000, 12345])
        return f"({c} % {k})"

    def int_expr(self, depth: int = 2) -> str:
        r = self.rng.random()
        if depth <= 0 or r < 0.35:
            return self.int_leaf()
        if r < 0.45 and self.t["str"]:
            return f"length({self.str_expr(0)})"
        if r < 0.55 and self.t["ts"]:
            c = self.rng.choice(self.t["ts"])
            fn = self.rng.choice(["year", "month", "day", "hour"])
            return f"{fn}({c})"
        if r < 0.65:
            a, b = self.int_expr(depth - 1), self.int_expr(depth - 1)
            return f"(CASE WHEN {self.pred(depth - 1)} THEN {a} ELSE {b} END)"
        if r < 0.75:
            a = self.int_leaf()
            v = self.rng.randrange(0, 100)
            return f"coalesce(nullif({a}, {v}), {self.rng.randrange(-5, 5)})"
        op = self.rng.choice(["+", "-", "*"])
        if op == "*":
            return f"({self.int_leaf()} * {self.rng.randrange(2, 9)})"
        return f"({self.int_expr(depth - 1)} {op} {self.int_expr(depth - 1)})"

    # strings ---------------------------------------------------------------
    def str_expr(self, depth: int = 1) -> str:
        c = self.rng.choice(self.t["str"])
        r = self.rng.random()
        if depth <= 0 or r < 0.3:
            return c
        if r < 0.45:
            return f"{self.rng.choice(['upper', 'lower', 'trim'])}({c})"
        if r < 0.6:
            pos = self.rng.randrange(1, 5)
            return f"substr({c}, {pos}, {self.rng.randrange(1, 8)})"
        if r < 0.75 and self.pool["str"].get(c):
            v = self.rng.choice(self.pool["str"][c])
            return f"replace({c}, {_sql_str(v[:2])}, {_sql_str('~')})"
        if r < 0.85:
            return f"({self.str_expr(depth - 1)} || {_sql_str('_')} || {self.str_expr(0)})"
        if self.pool["str"].get(c):
            v = self.rng.choice(self.pool["str"][c])
            return f"nullif({c}, {_sql_str(v)})"
        return c

    # doubles (money-derived, exactly castable at DECIMAL(38,6)) ------------
    def money_expr(self) -> str:
        cols = self.t["money"]
        if not cols:
            return "CAST(0.0 AS DOUBLE)"
        a = self.rng.choice(cols)
        ratios = self.t.get("ratio", [])
        r = self.rng.random()
        if r < 0.4:
            return a
        if r < 0.6:
            b = self.rng.choice(cols)
            return f"({a} {self.rng.choice(['+', '-'])} {b})"
        if ratios and r < 0.85:
            # the TPC-H price form: one base times (1 +/- small ratio)
            b = self.rng.choice(ratios)
            expr = f"({a} * (1.0 {self.rng.choice(['-', '+'])} {b}))"
            if self.rng.random() < 0.4:
                c = self.rng.choice(ratios)
                expr = expr[:-1] + f" * (1.0 {self.rng.choice(['-', '+'])} {c}))"
            return expr
        return f"({a} * {self.rng.randrange(2, 9)})"

    # predicates ------------------------------------------------------------
    def pred(self, depth: int = 2) -> str:
        r = self.rng.random()
        if depth <= 0 or r < 0.3:
            return self._simple_pred()
        if r < 0.5:
            return f"({self.pred(depth - 1)} AND {self.pred(depth - 1)})"
        if r < 0.65:
            return f"({self.pred(depth - 1)} OR {self.pred(depth - 1)})"
        if r < 0.75:
            return f"(NOT {self.pred(depth - 1)})"
        return self._simple_pred()

    def _simple_pred(self) -> str:
        choices = ["int_cmp"]
        if self.t["str"]:
            choices += ["str_in", "str_like", "null_check"]
        if self.t["ts"] and self.pool["ts"]:
            choices.append("ts_cmp")
        if self.t["money"]:
            choices.append("money_cmp")
        kind = self.rng.choice(choices)
        op = self.rng.choice(["<", "<=", ">", ">=", "=", "<>"])
        if kind == "int_cmp":
            c = self.rng.choice(self.t["int"])
            vals = self.pool["int"].get(c) or [0, 100]
            if self.rng.random() < 0.5:
                v = self.rng.choice(vals)
            else:
                lo, hi = min(vals), max(vals)
                v = self.rng.randrange(lo, hi + 2)
            return f"({c} {op} {v})"
        if kind == "money_cmp":
            return f"({self.money_expr()} {op} {self.rng.randrange(0, 200)}.{self.rng.randrange(0, 100):02d})"
        if kind == "str_in":
            c = self.rng.choice(self.t["str"])
            vals = self.pool["str"].get(c)
            if not vals:
                return f"({c} IS NOT NULL)"
            k = self.rng.randrange(1, min(4, len(vals)) + 1)
            lst = ", ".join(_sql_str(v) for v in self.rng.sample(vals, k))
            neg = "NOT " if self.rng.random() < 0.3 else ""
            return f"({c} {neg}IN ({lst}))"
        if kind == "str_like":
            c = self.rng.choice(self.t["str"])
            vals = self.pool["str"].get(c)
            if not vals:
                return f"({c} IS NOT NULL)"
            v = self.rng.choice(vals)
            pat = self.rng.choice([f"{v[:2]}%", f"%{v[-2:]}", f"%{v[1:3]}%"])
            return f"({c} LIKE {_sql_str(pat)})"
        if kind == "null_check":
            c = self.rng.choice(self.t["str"] + self.t["int"])
            vals = self.pool["str"].get(c)
            if vals and self.rng.random() < 0.6:
                return f"(nullif({c}, {_sql_str(self.rng.choice(vals))}) IS NULL)"
            return f"({c} IS {'NOT ' if self.rng.random() < 0.5 else ''}NULL)"
        c = self.rng.choice(self.t["ts"])
        vals = self.pool["ts"].get(c)
        if not vals:
            return f"({c} IS NOT NULL)"
        return f"({c} {op} TIMESTAMP {_sql_str(self.rng.choice(vals))})"

    # aggregates ------------------------------------------------------------
    def agg_expr(self, alias: str) -> str:
        kinds = ["count_star", "count", "count_distinct", "sum_int", "minmax_int"]
        if self.t["money"]:
            kinds.append("dec_sum")
        if self.t["str"]:
            kinds += ["minmax_str", "count_distinct_str"]
        kind = self.rng.choice(kinds)
        if kind == "count_star":
            return f"COUNT(*) AS {alias}"
        if kind == "count":
            c = self.rng.choice(self.t["int"] + self.t["str"])
            return f"COUNT({c}) AS {alias}"
        if kind == "count_distinct":
            return f"COUNT(DISTINCT {self.rng.choice(self.t['int'])}) AS {alias}"
        if kind == "count_distinct_str":
            return f"COUNT(DISTINCT {self.str_expr(1)}) AS {alias}"
        if kind == "sum_int":
            return f"SUM({self.int_expr(1)}) AS {alias}"
        if kind == "minmax_int":
            fn = self.rng.choice(["MIN", "MAX"])
            return f"{fn}({self.int_expr(1)}) AS {alias}"
        if kind == "minmax_str":
            fn = self.rng.choice(["MIN", "MAX"])
            return f"{fn}({self.str_expr(1)}) AS {alias}"
        return (
            f"SUM(CAST({self.money_expr()} AS DECIMAL(38,6))) AS {alias}"
        )


# --- query shapes ------------------------------------------------------------


def _select_exprs(g: Gen, n: int) -> list[str]:
    out = []
    for i in range(n):
        r = g.rng.random()
        if r < 0.4:
            out.append(f"{g.int_expr()} AS c{i}")
        elif r < 0.7 and g.t["str"]:
            out.append(f"{g.str_expr()} AS c{i}")
        elif r < 0.85 and g.t["money"]:
            out.append(f"{g.money_expr()} AS c{i}")
        elif g.t["ts"]:
            out.append(f"{g.rng.choice(g.t['ts'])} AS c{i}")
        else:
            out.append(f"{g.int_expr()} AS c{i}")
    return out

def gen_project(rng: random.Random, pools: dict) -> str:
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    exprs = _select_exprs(g, rng.randrange(2, 5))
    return f"SELECT {', '.join(exprs)} FROM {t} WHERE {g.pred()}"


def gen_agg(rng: random.Random, pools: dict) -> str:
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    nk = rng.randrange(1, 3)
    keys = []
    for i in range(nk):
        if rng.random() < 0.6:
            keys.append(f"{rng.choice(g.t['lowcard'])} AS g{i}")
        elif rng.random() < 0.5:
            keys.append(f"{g.int_expr(1)} AS g{i}")
        elif g.t["str"]:
            keys.append(f"{g.str_expr(1)} AS g{i}")
        else:
            keys.append(f"{g.int_expr(1)} AS g{i}")
    aggs = [g.agg_expr(f"a{i}") for i in range(rng.randrange(1, 4))]
    where = f" WHERE {g.pred()}" if rng.random() < 0.6 else ""
    having = ""
    if rng.random() < 0.3:
        having = f" HAVING COUNT(*) >= {rng.randrange(1, 5)}"
    positions = ", ".join(str(i + 1) for i in range(nk))
    return (
        f"SELECT {', '.join(keys + aggs)} FROM {t}{where} "
        f"GROUP BY {positions}{having}"
    )


def gen_join(rng: random.Random, pools: dict) -> str:
    fact, fk, dim, dk = _edge(rng, pools)
    gf, gd = Gen(rng, fact, pools), Gen(rng, dim, pools)
    jt = rng.choice(["JOIN", "LEFT JOIN"])
    dim_filter = f" AND {gd.pred(1)}" if jt == "JOIN" and rng.random() < 0.5 else ""
    base = (
        f"FROM {fact} {jt} {dim} ON {fact}.{fk} = {dim}.{dk}{dim_filter} "
        f"WHERE {gf.pred(1)}"
    )
    if rng.random() < 0.5:  # aggregate shape
        key = rng.choice(gd.t["lowcard"] + gd.t["unique"][:1])
        aggs = [gf.agg_expr(f"a{i}") for i in range(rng.randrange(1, 3))]
        return f"SELECT {dim}.{key} AS g0, {', '.join(aggs)} {base} GROUP BY 1"
    cols = [f"{fact}.{c} AS c{i}" for i, c in enumerate(gf.t["unique"])]
    k = rng.choice(gd.t["str"] + gd.t["int"])
    cols.append(f"{dim}.{k} AS d0")
    if gf.t["money"] and rng.random() < 0.5:
        cols.append(f"{gf.money_expr()} AS m0")
    return f"SELECT {', '.join(cols)} {base}"


def gen_window(rng: random.Random, pools: dict) -> str:
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    part = rng.choice(g.t["lowcard"])
    uniq = ", ".join(
        f"{c} {rng.choice(['ASC', 'DESC'])}" for c in g.t["unique"]
    )
    fn = rng.choice(["ROW_NUMBER", "RANK", "DENSE_RANK"])
    if fn == "ROW_NUMBER":
        # deterministic only with a total order: unique key(s) terminate it
        lead = ""
        if g.t["money"] and rng.random() < 0.5:
            lead = f"{rng.choice(g.t['money'])} DESC NULLS LAST, "
        order = f"{lead}{uniq}"
    else:
        c = rng.choice(g.t["int"] + g.t["money"])
        order = f"{c} {rng.choice(['ASC NULLS FIRST', 'DESC NULLS LAST'])}"
    keep = [c for c in (g.t["unique"] + [part]) if c]
    inner = (
        f"SELECT {', '.join(dict.fromkeys(keep))}, {fn}() OVER "
        f"(PARTITION BY {part} ORDER BY {order}) AS rn FROM {t}"
    )
    if rng.random() < 0.5:
        inner = inner + f" WHERE {g.pred(1)}"
    return f"SELECT * FROM ({inner}) ranked WHERE rn <= {rng.randrange(1, 6)}"


def gen_setop(rng: random.Random, pools: dict) -> str:
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    n = rng.randrange(1, 3)
    exprs = _select_exprs(g, n)
    op = rng.choice(["UNION ALL", "INTERSECT ALL", "EXCEPT ALL"])
    p1, p2 = g.pred(1), g.pred(1)
    return (
        f"SELECT {', '.join(exprs)} FROM {t} WHERE {p1} "
        f"{op} SELECT {', '.join(exprs)} FROM {t} WHERE {p2}"
    )


def gen_exists(rng: random.Random, pools: dict) -> str:
    """Semi/anti join via (NOT) EXISTS along an FK edge, dim side out."""
    fact, fk, dim, dk = _edge(rng, pools)
    gf, gd = Gen(rng, fact, pools), Gen(rng, dim, pools)
    neg = rng.choice(["EXISTS", "NOT EXISTS"])
    cols = [f"{c} AS c{i}" for i, c in enumerate(gd.t["unique"])]
    if gd.t["str"]:
        cols.append(f"{gd.str_expr(1)} AS s0")
    outer = f" AND {gd.pred(1)}" if rng.random() < 0.5 else ""
    return (
        f"SELECT {', '.join(cols)} FROM {dim} WHERE {neg} "
        f"(SELECT 1 FROM {fact} WHERE {fact}.{fk} = {dim}.{dk} "
        f"AND {gf.pred(1)}){outer}"
    )


def gen_rollup(rng: random.Random, pools: dict) -> str:
    """ROLLUP over two low-card columns.  Data NULLs and rolled-up NULLs
    are indistinguishable per-row, but the full multisets still agree.

    No WHERE clause — deliberately.  Grouping sets over an EMPTY input are
    a real engine divergence this fuzzer found (seed "newshapes", i=33):
    Spark returns zero rows for GROUP BY ROLLUP(...)/GROUPING SETS(())
    when the input relation is empty, while DuckDB (and PostgreSQL, per
    the standard's GROUPING SETS(()) ≡ global-aggregate reading) emit the
    grand-total row with COUNT=0/NULL aggregates.  A random predicate can
    empty the input, so predicates are excluded from this shape; the
    divergence itself is pinned in tests/test_tools.py."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    k0 = rng.choice(g.t["lowcard"])
    k1_candidates = [c for c in g.t["lowcard"] + g.t["str"] if c != k0]
    k1 = rng.choice(k1_candidates)  # every table has >= 2 distinct candidates
    aggs = [g.agg_expr(f"a{i}") for i in range(rng.randrange(1, 3))]
    op = rng.choice(["ROLLUP", "CUBE"])
    gsel = ""
    if rng.random() < 0.6:
        # GROUPING() disambiguates data-NULLs from rolled-up NULLs, making
        # the order-insensitive multiset compare strictly stronger.
        gsel = f"GROUPING({k0}) AS gi0, GROUPING({k1}) AS gi1, "
    return (
        f"SELECT {k0} AS g0, {k1} AS g1, {gsel}{', '.join(aggs)} FROM {t} "
        f"GROUP BY {op}({k0}, {k1})"
    )


def gen_orderlimit(rng: random.Random, pools: dict) -> str:
    """Top-k with a provably total order: any expr prefix, unique-key tail
    (explicit NULLS placement — engine defaults differ)."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    exprs = _select_exprs(g, rng.randrange(1, 3))
    keys = [f"{c} AS k{i}" for i, c in enumerate(g.t["unique"])]
    lead = ""
    if rng.random() < 0.6:
        col = rng.choice(g.t["int"] + (g.t["money"] or g.t["int"]))
        lead = f"{col} {rng.choice(['ASC NULLS FIRST', 'DESC NULLS LAST'])}, "
    tail = ", ".join(f"k{i} {rng.choice(['ASC', 'DESC'])}" for i in range(len(g.t["unique"])))
    where = f" WHERE {g.pred(1)}" if rng.random() < 0.5 else ""
    return (
        f"SELECT {', '.join(keys + exprs)} FROM {t}{where} "
        f"ORDER BY {lead}{tail} LIMIT {rng.randrange(1, 200)}"
    )


def gen_scalar_sub(rng: random.Random, pools: dict) -> str:
    """Uncorrelated scalar subquery in the WHERE clause."""
    t, t2 = _sample_two(rng, pools)
    g, g2 = Gen(rng, t, pools), Gen(rng, t2, pools)
    op = rng.choice(["<", "<=", ">", ">=", "<>"])
    fn = rng.choice(["MIN", "MAX"])
    sub = f"(SELECT {fn}({g2.int_expr(1)}) FROM {t2} WHERE {g2.pred(1)})"
    exprs = _select_exprs(g, rng.randrange(1, 3))
    return (
        f"SELECT {', '.join(exprs)} FROM {t} "
        f"WHERE {g.int_expr(1)} {op} {sub}"
    )


def gen_join_chain(rng: random.Random, pools: dict) -> str:
    """Two-hop FK chain (fact -> dim1 -> dim2) — the join-reordering
    surface single-edge gen_join never exercises.  Both hops land on
    unique dim keys, so row multiplicity is the fact's."""
    e1, e2 = _chain(rng, pools)
    fact, fk1, dim1, dk1 = e1
    _, fk2, dim2, dk2 = e2
    gf, g2 = Gen(rng, fact, pools), Gen(rng, dim2, pools)
    base = (
        f"FROM {fact} "
        f"JOIN {dim1} ON {fact}.{fk1} = {dim1}.{dk1} "
        f"JOIN {dim2} ON {dim1}.{fk2} = {dim2}.{dk2} "
        f"WHERE {gf.pred(1)}"
    )
    if rng.random() < 0.6:  # aggregate consumer grouped by the far dim
        key = rng.choice(g2.t["lowcard"] + g2.t["str"])
        aggs = [gf.agg_expr(f"a{i}") for i in range(rng.randrange(1, 3))]
        extra = f" AND {g2.pred(1)}" if rng.random() < 0.4 else ""
        return (
            f"SELECT {dim2}.{key} AS g0, {', '.join(aggs)} {base}{extra} "
            f"GROUP BY 1"
        )
    cols = [f"{fact}.{c} AS c{i}" for i, c in enumerate(gf.t["unique"])]
    cols.append(f"{dim2}.{rng.choice(g2.t['str'] + g2.t['int'])} AS d0")
    return f"SELECT {', '.join(cols)} {base}"


def gen_cond_agg(rng: random.Random, pools: dict) -> str:
    """Conditional aggregation: CASE-WHEN inside the aggregate and the
    SQL:2003 FILTER clause (both engines support both spellings)."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    key = rng.choice(g.t["lowcard"])
    aggs = []
    for i in range(rng.randrange(2, 4)):
        p = g.pred(1)
        style = rng.random()
        if style < 0.4:
            aggs.append(f"SUM(CASE WHEN {p} THEN {g.int_expr(1)} ELSE 0 END) AS a{i}")
        elif style < 0.7:
            aggs.append(f"COUNT(CASE WHEN {p} THEN 1 END) AS a{i}")
        else:
            fn = rng.choice(["COUNT(*)", f"MIN({g.int_expr(1)})", f"MAX({g.int_expr(1)})"])
            aggs.append(f"{fn} FILTER (WHERE {p}) AS a{i}")
    return f"SELECT {key} AS g0, {', '.join(aggs)} FROM {t} GROUP BY 1"


def gen_two_level(rng: random.Random, pools: dict) -> str:
    """Re-aggregation over a derived-table aggregate (partial-agg shape:
    inner per-(k0,k1) rollup, outer collapse to k0).  Int-only aggregates so
    the outer SUM-of-SUMs stays exact in both engines at any SF."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    k0 = rng.choice(g.t["lowcard"])
    k1_candidates = [c for c in g.t["int"] + g.t["str"] if c != k0]
    k1 = rng.choice(k1_candidates)
    where = f" WHERE {g.pred(1)}" if rng.random() < 0.5 else ""
    inner = (
        f"SELECT {k0} AS g0, {k1} AS g1, COUNT(*) AS n, "
        f"SUM({g.int_expr(1)}) AS s FROM {t}{where} GROUP BY 1, 2"
    )
    outer_aggs = ["COUNT(*) AS n_groups", "SUM(n) AS n_rows"]
    outer_aggs.append(rng.choice(["SUM(s) AS s_total", "MIN(s) AS s_min", "MAX(s) AS s_max"]))
    return f"SELECT g0, {', '.join(outer_aggs)} FROM ({inner}) sub GROUP BY 1"


def gen_date_bucket(rng: random.Random, pools: dict) -> str:
    """Tumbling-window-style date_trunc bucketing.  The outer CAST AS
    TIMESTAMP is load-bearing: DuckDB's date_trunc returns DATE for
    day/month/year granularity while Spark always returns TIMESTAMP."""
    candidates = [t for t in _tables(pools) if TABLES[t]["ts"]]
    if not candidates:
        raise ValueError(
            "no timestamp-bearing tables in this corpus — "
            "date_bucket shape ungeneratable; pass --shapes to exclude it"
        )
    t = rng.choice(candidates)
    g = Gen(rng, t, pools)
    c = rng.choice(g.t["ts"])
    grain = rng.choice(["hour", "day", "month", "year"])
    bucket = f"CAST(date_trunc('{grain}', CAST({c} AS TIMESTAMP)) AS TIMESTAMP)"
    aggs = [g.agg_expr(f"a{i}") for i in range(rng.randrange(1, 3))]
    where = f" WHERE {g.pred(1)}" if rng.random() < 0.5 else ""
    extra = ""
    if rng.random() < 0.4:
        extra = f", {rng.choice(g.t['lowcard'])} AS g1"
    return (
        f"SELECT {bucket} AS w0{extra}, {', '.join(aggs)} FROM {t}{where} "
        f"GROUP BY {'1, 2' if extra else '1'}"
    )


def gen_frame_window(rng: random.Random, pools: dict) -> str:
    """Frame aggregates and LAG/LEAD over a corpus-verified total order
    (build_pools asserts the key), so every frame's contents — and thus
    SUM/MIN/MAX/COUNT over it and any offset function — are deterministic.
    ROWS frames only: RANGE frames over non-unique orderings are
    well-defined but exercise nothing the total order doesn't."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    part = rng.choice(g.t["lowcard"])
    order = ", ".join(
        f"{c} {rng.choice(['ASC', 'DESC'])}" for c in g.t["unique"]
    )
    over = f"OVER (PARTITION BY {part} ORDER BY {order}"
    keys = [f"{c} AS k{i}" for i, c in enumerate(g.t["unique"])]
    wins = []
    for i in range(rng.randrange(1, 3)):
        kind = rng.random()
        if kind < 0.4:
            fn = rng.choice(["LAG", "LEAD"])
            off = rng.randrange(1, 4)
            wins.append(f"{fn}({g.int_expr(1)}, {off}) {over}) AS w{i}")
        elif kind < 0.8:
            fn = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
            lo = rng.randrange(0, 5)
            hi = rng.choice(["CURRENT ROW", f"{rng.randrange(1, 3)} FOLLOWING"])
            wins.append(
                f"{fn}({g.int_expr(1)}) {over} "
                f"ROWS BETWEEN {lo} PRECEDING AND {hi}) AS w{i}"
            )
        else:
            wins.append(
                f"SUM({g.int_expr(1)}) {over} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
            )
    where = f" WHERE {g.pred(1)}" if rng.random() < 0.4 else ""
    return f"SELECT {', '.join(keys + wins)} FROM {t}{where}"


def gen_in_subquery(rng: random.Random, pools: dict) -> str:
    """(NOT) IN against a filtered dim-key subquery along an FK edge.
    Dim keys are non-null, so NOT IN's empty-on-NULL trap can't fire and
    both engines agree on the standard semantics."""
    fact, fk, dim, dk = _edge(rng, pools)
    gf, gd = Gen(rng, fact, pools), Gen(rng, dim, pools)
    neg = rng.choice(["IN", "NOT IN"])
    sub = f"(SELECT {dk} FROM {dim} WHERE {gd.pred(1)})"
    if rng.random() < 0.5:  # aggregate consumer
        key = rng.choice(gf.t["lowcard"])
        aggs = [gf.agg_expr(f"a{i}") for i in range(rng.randrange(1, 3))]
        return (
            f"SELECT {key} AS g0, {', '.join(aggs)} FROM {fact} "
            f"WHERE {fk} {neg} {sub} GROUP BY 1"
        )
    cols = [f"{c} AS c{i}" for i, c in enumerate(gf.t["unique"])]
    outer = f" AND {gf.pred(1)}" if rng.random() < 0.5 else ""
    return f"SELECT {', '.join(cols)} FROM {fact} WHERE {fk} {neg} {sub}{outer}"


def gen_distinct(rng: random.Random, pools: dict) -> str:
    """SELECT DISTINCT over int/str expressions — multiset-to-SET collapse
    is a semantics class no other shape exercises (project keeps
    multiplicity, agg groups explicitly).  Doubles are excluded: DISTINCT
    over floats hits NaN/-0.0 multiset gray zones; int/str/timestamp
    equality is total and identical in both engines.  NULLs flow through
    (both engines treat NULL as one distinct value, per the standard)."""
    t = rng.choice(_tables(pools))
    g = Gen(rng, t, pools)
    n = rng.randrange(1, 4)
    exprs = []
    for i in range(n):
        r = rng.random()
        if r < 0.5:
            exprs.append(f"{g.int_expr(1)} AS c{i}")
        elif r < 0.85 and g.t["str"]:
            exprs.append(f"{g.str_expr(1)} AS c{i}")
        elif g.t["ts"]:
            exprs.append(f"{rng.choice(g.t['ts'])} AS c{i}")
        else:
            exprs.append(f"{g.int_expr(1)} AS c{i}")
    where = f" WHERE {g.pred()}" if rng.random() < 0.5 else ""
    return f"SELECT DISTINCT {', '.join(exprs)} FROM {t}{where}"


SHAPES = {
    "project": gen_project,
    "agg": gen_agg,
    "join": gen_join,
    "window": gen_window,
    "setop": gen_setop,
    "exists": gen_exists,
    "rollup": gen_rollup,
    "orderlimit": gen_orderlimit,
    "scalar_sub": gen_scalar_sub,
    "cond_agg": gen_cond_agg,
    "two_level": gen_two_level,
    "date_bucket": gen_date_bucket,
    "in_subquery": gen_in_subquery,
    "frame_window": gen_frame_window,
    "join_chain": gen_join_chain,
    "distinct": gen_distinct,
}


def gen_query(seed, index: int, pools: dict, shapes: list[str] | None = None) -> str:
    rng = random.Random(f"{seed}:{index}")
    shape = rng.choice(sorted(shapes or SHAPES))
    return SHAPES[shape](rng, pools)


# --- runner ------------------------------------------------------------------


def register_views(spark, sf_dir: str) -> None:
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def run_campaign(
    spark,
    sf_dir: str,
    n: int,
    seed,
    shapes: list[str] | None = None,
    max_failures: int = 10,
    row_cap: int = 200_000,
) -> dict:
    """Compare ``n`` generated queries.  Results up to ``row_cap`` rows are
    compared row-for-row; larger ones fall back to the engine-side exact
    digest (tests/oracle.compare_digest) so campaigns scale to sf1+ where
    a project shape can emit millions of rows."""
    from tests.oracle import compare, compare_digest

    register_views(spark, sf_dir)
    pools = build_pools(sf_dir)
    ok = 0
    digested = 0
    failures: list[dict] = []
    errors: list[dict] = []
    for i in range(n):
        sql = gen_query(seed, i, pools, shapes)
        try:
            # Persist before the path-choosing count: the digest-vs-row
            # decision needs the cardinality, and without the cache the
            # compare would execute the whole query a second time —
            # doubling campaign cost at sf1+ (MEMORY_AND_DISK so a big
            # result spills instead of evicting mid-compare).
            df = spark.sql(sql).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                if df.count() > row_cap:
                    res = compare_digest(f"fuzz_{i}", df, sql, sf_dir)
                    digested += 1
                else:
                    res = compare(f"fuzz_{i}", df, sql, sf_dir)
            finally:
                df.unpersist()
        except Exception as exc:  # engine-level error = also a finding
            errors.append({"i": i, "sql": sql, "err": f"{type(exc).__name__}: {exc}"})
            if len(errors) + len(failures) >= max_failures:
                break
            continue
        if res.ok:
            ok += 1
        else:
            failures.append({"i": i, "sql": sql, "mismatches": res.mismatches[:4]})
            if len(errors) + len(failures) >= max_failures:
                break
    return {
        "metric": "fuzz_differential",
        "sf_dir": sf_dir,
        "n": n,
        "seed": str(seed),
        "ok": ok,
        "digest": digested,
        "fail": len(failures),
        "err": len(errors),
        "failures": failures,
        "errors": errors,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=100)
    ap.add_argument("--seed", default="7")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    )
    ap.add_argument(
        "--shapes", default=None,
        help="comma list from: " + ",".join(SHAPES),
    )
    ap.add_argument("--emit", type=int, default=None, help="print query i and exit")
    ap.add_argument("--row-cap", type=int, default=200_000)
    args = ap.parse_args()

    shapes = args.shapes.split(",") if args.shapes else None
    if shapes:
        unknown = set(shapes) - set(SHAPES)
        if unknown:
            ap.error(f"unknown shapes: {sorted(unknown)}")

    if args.emit is not None:
        pools = build_pools(args.sf_dir)
        print(gen_query(args.seed, args.emit, pools, shapes))
        return 0

    from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

    spark = get_spark(EngineConfig(app_name="fuzz-differential"))
    out = run_campaign(spark, args.sf_dir, args.n, args.seed, shapes, row_cap=args.row_cap)
    print(json.dumps(out))
    return 1 if (out["fail"] or out["err"]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
