"""The ``governed_sql`` workload: interactive SQL through GovernedCatalog.

Five users with distinct policies issue sessions of statements; every
statement goes through ``GovernedCatalog.execute`` and its result is
compared with a DuckDB replay over per-user DuckDB views that apply the
same policy (projection, row filter, sha256 / partial masks).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import duckdb

USERS = ["analyst", "sales", "regional", "privacy", "support"]
#: Sessions per pass per user: a Zipf(s~1.2) skew over the 11 sessions.
SESSION_USERS = [5, 2, 2, 1, 1]
#: Statements per session, one session each; they sum to one pass.
SESSION_LENGTHS = [3, 4, 5, 6, 7, 8, 10, 11, 13, 15, 18]

#: user -> table -> TablePolicy fields. One user per policy kind; the
#: columns a policy hides are never referenced by that user's templates.
POLICIES: dict[str, dict[str, dict]] = {
    "analyst": {},
    "sales": {
        "customer": {"allowed_columns": ["c_custkey", "c_name",
                                         "c_nationkey", "c_mktsegment"]},
        "orders": {"allowed_columns": ["o_orderkey", "o_custkey",
                                       "o_orderstatus", "o_totalprice",
                                       "o_orderdate"]},
    },
    "regional": {
        "customer": {"row_filter": "c_nationkey < 15"},
        "orders": {"row_filter": "o_orderstatus <> 'P'"},
        "lineitem": {"row_filter": "l_returnflag <> 'A'"},
    },
    "privacy": {
        "customer": {"column_masks": {"c_name": "hash"}},
        "supplier": {"column_masks": {"s_name": "hash"}},
    },
    "support": {
        "customer": {"column_masks": {"c_name": "partial"}},
        "part": {"column_masks": {"p_name": "partial"}},
    },
}

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
DESCRIBED = ["customer", "orders", "lineitem", "part", "supplier", "nation"]
PREPARED = ("PREPARE q_cust FROM SELECT o_orderkey, o_totalprice FROM orders "
            "WHERE o_custkey = ? AND o_orderstatus = ?")

#: Statement mix of one pass: template -> count. 95 reads + 5 writes.
PASS_MIX = {
    "point_trino": 12, "point_spark": 10, "agg_spark": 9, "agg_trino": 8,
    "topk_trino": 9, "join3_trino": 7, "rank_spark": 7, "show_tables": 5,
    "describe": 7, "info_schema": 4, "prepare": 3, "execute": 14,
    "w_set_policy": 2, "w_create_view": 1, "w_drop_view": 1,
    "w_set_session": 1,
}
WRITES = {k for k in PASS_MIX if k.startswith("w_")}
assert sum(SESSION_LENGTHS) == sum(PASS_MIX.values())
assert len(SESSION_LENGTHS) == sum(SESSION_USERS)


@dataclass(frozen=True)
class Op:
    """One generated statement. ``sql`` is what the client submits;
    ``replay`` is the DuckDB text whose rows the result must equal."""
    kind: str
    user: str
    sql: str = ""
    dialect: str = "trino"
    replay: str = ""
    session_start: bool = False


def _date(rng: random.Random, lo_year: int = 1995, hi_year: int = 2001) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


def _statement(kind: str, user: str, rng: random.Random, n_orders: int,
               n_cust: int) -> Op:
    if kind == "point_trino":
        k = rng.randrange(n_orders)
        q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
             f"FROM orders WHERE o_orderkey = {k}")
        return Op(kind, user, q, "trino", q)
    if kind == "point_spark":
        a, b, c = (rng.randrange(n_cust) for _ in range(3))
        q = ("SELECT c_custkey, c_name, c_mktsegment FROM customer "
             f"WHERE c_custkey IN ({a}, {b}, {c})")
        return Op(kind, user, q, "spark", q)
    if kind == "agg_spark":
        y = rng.randint(1995, 2000)
        q = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
             f"FROM orders WHERE o_orderdate >= DATE '{y}-01-01' "
             f"AND o_orderdate < DATE '{y + 1}-07-01' GROUP BY o_orderstatus")
        return Op(kind, user, q, "spark", q)
    if kind == "agg_trino":
        d, qty = _date(rng, 1996), rng.randint(5, 45)
        q = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
             "sum(l_quantity) AS qty, avg(l_discount) AS disc FROM lineitem "
             f"WHERE l_shipdate < DATE '{d}' AND l_quantity > {qty} "
             "GROUP BY l_returnflag, l_linestatus")
        return Op(kind, user, q, "trino", q)
    if kind == "topk_trino":
        a = rng.randrange(max(n_cust - 100, 1))
        head = ("SELECT o_orderkey, o_totalprice FROM orders "
                f"WHERE o_custkey BETWEEN {a} AND {a + 100} "
                "ORDER BY o_totalprice DESC, o_orderkey ")
        return Op(kind, user, head + "FETCH FIRST 10 ROWS ONLY", "trino",
                  head + "LIMIT 10")
    if kind == "join3_trino":
        seg, d = rng.choice(SEGMENTS), _date(rng, 1995, 2000)
        q = ("SELECT n.n_name, count(*) AS n_orders, "
             "sum(o.o_totalprice) AS total FROM customer c "
             "JOIN orders o ON c.c_custkey = o.o_custkey "
             "JOIN nation n ON c.c_nationkey = n.n_nationkey "
             f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate >= DATE '{d}' "
             "GROUP BY n.n_name")
        return Op(kind, user, q, "trino", q)
    if kind == "rank_spark":
        a = rng.randrange(max(n_cust - 20, 1))
        q = ("SELECT o_custkey, o_orderkey, rk FROM (SELECT o_custkey, "
             "o_orderkey, rank() OVER (PARTITION BY o_custkey ORDER BY "
             "o_totalprice DESC, o_orderkey) AS rk FROM orders "
             f"WHERE o_custkey BETWEEN {a} AND {a + 20}) t WHERE rk <= 2")
        return Op(kind, user, q, "spark", q)
    if kind == "show_tables":
        return Op(kind, user, "SHOW TABLES", "trino")
    if kind == "describe":
        return Op(kind, user, f"DESCRIBE {rng.choice(DESCRIBED)}", "trino")
    if kind == "info_schema":
        q = ("SELECT table_name, count(*) AS n_cols FROM "
             "information_schema.columns WHERE table_schema = 'default' "
             "GROUP BY table_name")
        return Op(kind, user, q, "trino")
    if kind == "prepare":
        return Op(kind, user, PREPARED, "trino")
    if kind == "execute":
        k, st = rng.randrange(n_cust), rng.choice("FO")
        return Op(kind, user, f"EXECUTE q_cust USING {k}, '{st}'", "trino",
                  "SELECT o_orderkey, o_totalprice FROM orders "
                  f"WHERE o_custkey = {k} AND o_orderstatus = '{st}'")
    if kind == "w_set_policy":  # re-installs the named user's policies
        return Op(kind, user, rng.choice(USERS[1:]))
    if kind == "w_create_view":
        return Op(kind, user, "SELECT o_orderkey, o_totalprice FROM orders "
                              f"WHERE o_totalprice > {rng.randint(1, 4)}00000")
    if kind == "w_drop_view":
        return Op(kind, user)
    if kind == "w_set_session":
        return Op(kind, user, "SET SESSION stats_mode = 'okera'", "trino")
    raise ValueError(kind)


def generate(seed: int, n_orders: int, n_cust: int) -> list[Op]:
    """One pass: the fixed PASS_MIX in seeded order, cut into sessions of
    SESSION_LENGTHS statements whose users come from SESSION_USERS (a
    Zipf-skewed share), both in seeded order. Fixing the multisets and
    seeding only the order keeps every pass the same mix of work."""
    rng = random.Random(seed)
    kinds = [k for k, n in PASS_MIX.items() for _ in range(n)]
    rng.shuffle(kinds)
    lengths = list(SESSION_LENGTHS)
    rng.shuffle(lengths)
    users = [u for u, n in zip(USERS, SESSION_USERS) for _ in range(n)]
    rng.shuffle(users)
    ops: list[Op] = []
    i = 0
    for user, length in zip(users, lengths):
        for j, kind in enumerate(kinds[i:i + length]):
            op = _statement(kind, user, rng, n_orders, n_cust)
            ops.append(Op(op.kind, op.user, op.sql, op.dialect, op.replay,
                          session_start=j == 0))
        i += length
    return ops


def warmup(ops: list[Op]) -> list[Op]:
    """One statement of every kind, users taken in turn, then a point
    lookup per user (each user's policies give it its own plans)."""
    firsts: dict[str, Op] = {}
    for o in ops:
        firsts.setdefault(o.kind, o)
    warm = [Op(o.kind, USERS[i % len(USERS)], o.sql, o.dialect, o.replay,
               True) for i, o in enumerate(firsts.values())]
    point = firsts["point_spark"]
    return warm + [Op(point.kind, u, point.sql, point.dialect, point.replay,
                      True) for u in USERS]


def _duck_expr(col: str, mask: str | None) -> str:
    if mask == "hash":
        return f"sha256(CAST({col} AS VARCHAR)) AS {col}"
    if mask == "partial":
        return f"concat(substring(CAST({col} AS VARCHAR), 1, 2), '***') AS {col}"
    return col


class Replay:
    """DuckDB views per user that apply the same policies as the catalog."""

    def __init__(self, sf_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.tables = tables
        for t in tables:
            self.con.execute(
                f"CREATE VIEW main.{t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for user in USERS:
            self.con.execute(f"CREATE SCHEMA u_{user}")
            for t in tables:
                pol = POLICIES[user].get(t, {})
                cols = [r[0] for r in self.con.execute(
                    f"DESCRIBE main.{t}").fetchall()]
                allowed = pol.get("allowed_columns")
                masks = pol.get("column_masks") or {}
                sel = ", ".join(_duck_expr(c, masks.get(c)) for c in cols
                                if allowed is None or c in allowed)
                where = (f" WHERE {pol['row_filter']}"
                         if pol.get("row_filter") else "")
                self.con.execute(f"CREATE VIEW u_{user}.{t} AS SELECT {sel} "
                                 f"FROM main.{t}{where}")

    def rows(self, user: str, sql: str) -> list[tuple]:
        self.con.execute(f"SET schema = 'u_{user}'")
        return self.con.execute(sql).fetchall()

    def columns(self, user: str, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(
            f"DESCRIBE u_{user}.{table}").fetchall()]

    def close(self) -> None:
        self.con.close()


def expected(op: Op, replay: Replay,
             schemas: dict[str, list[str]]) -> list[tuple] | None:
    """Rows ``op`` must return, or None for writes without a result."""
    if op.replay:
        return replay.rows(op.user, op.replay)
    if op.kind == "show_tables":
        return [(s, t) for s in sorted(schemas) for t in sorted(schemas[s])]
    if op.kind == "describe":
        table = op.sql.split()[-1]
        return [(c,) for c in replay.columns(op.user, table)]
    if op.kind == "info_schema":
        return [(t, len(replay.columns(op.user, t)))
                for t in schemas["default"]]
    if op.kind == "prepare":
        return [("q_cust",)]
    if op.kind == "w_set_session":
        return [("stats_mode", "okera")]
    return None
