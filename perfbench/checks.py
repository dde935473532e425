"""Output checks, computed by DuckDB independently of the program.

Each check returns a list of failure strings; an empty list means the
operation's output is correct. The program's outputs are read straight
from the parquet files it wrote (Spark's hidden-file rule applied:
path components starting with `_` or `.` are skipped), and compared with
what DuckDB derives from the same generated inputs.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa

from gen import REGIONS, SEGMENTS

SEG_LIST = "[" + ", ".join(f"'{s}'" for s in SEGMENTS) + "]"
REG_LIST = "[" + ", ".join(f"'{r}'" for r in REGIONS) + "]"


def parquet_files(path: str) -> list[str]:
    """The data files a Spark read of `path` sees."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(
            os.path.join(root, f) for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _rel(path: str) -> str:
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    lst = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{lst}], hive_partitioning = true, union_by_name = true)"


# -- ELT ---------------------------------------------------------------------
def _source_views(con, src: str) -> None:
    for t in ("customer", "orders", "lineitem", "nation", "region"):
        con.execute(f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM '{src}/{t}.parquet'")
    con.execute(f"""
        CREATE OR REPLACE VIEW exp_users AS
        SELECT c_custkey AS user_id, c_acctbal AS acct_balance,
               list_position({SEG_LIST}, c_mktsegment) AS seg,
               list_position({REG_LIST}, r_name) AS reg
        FROM src_customer JOIN src_nation ON c_nationkey = n_nationkey
                          JOIN src_region ON n_regionkey = r_regionkey""")
    con.execute("""
        CREATE OR REPLACE VIEW exp_plans AS
        SELECT o_orderkey AS plan_id, o_custkey AS user_id,
               o_totalprice AS target_amount, o_orderpriority AS product_type
        FROM src_orders""")
    con.execute("""
        CREATE OR REPLACE VIEW exp_txns AS
        SELECT transaction_id, plan_id, amount, updated_at FROM (
            SELECT l_orderkey * 100 + l_linenumber AS transaction_id,
                   l_orderkey AS plan_id,
                   l_extendedprice * (1 - l_discount) AS amount,
                   l_shipdate AS updated_at,
                   row_number() OVER (PARTITION BY l_orderkey * 100 + l_linenumber
                                      ORDER BY l_shipdate DESC) AS rn
            FROM src_lineitem) WHERE rn = 1""")


_MONEY = "CAST(sum(CAST({c} AS DECIMAL(18,4))) AS VARCHAR)"


def _summary(con, rel: str, key: str, money: str, extra: str = "") -> tuple:
    return con.execute(
        f"SELECT count(*), count(DISTINCT {key}), sum({key}), "
        f"{_MONEY.format(c=money)}{extra} FROM {rel}"
    ).fetchone()


def elt_check(src: str, wh: str, flips: dict[int, int], delta=None) -> list[str]:
    """Check every model of a warehouse built from the sources in `src`.

    `flips` maps each user to the number of segment changes applied so
    far (the SCD2 history depth); `delta` is the cycle just applied, whose
    changed keys must be visible exactly once with their new values.
    """
    with duckdb.connect() as con:
        return _elt_check(con, src, wh, flips, delta)


def _elt_check(con, src, wh, flips, delta) -> list[str]:
    _source_views(con, src)
    bad: list[str] = []

    def m(name: str) -> str:
        return _rel(os.path.join(wh, name))

    def same(what: str, got, want) -> None:
        if tuple(got) != tuple(want):
            bad.append(f"{what}: got {got}, want {want}")

    seg = f", sum(user_id * list_position({SEG_LIST}, segment))"
    exp_u = _summary(con, "exp_users", "user_id", "acct_balance", ", sum(user_id * seg)")
    same("stg_users", _summary(con, m("stg_users"), "user_id", "acct_balance", seg), exp_u)
    same("users_snapshot open", _summary(con, m("users_snapshot__open"), "user_id",
                                         "acct_balance", seg), exp_u)
    exp_du = _summary(con, "exp_users", "user_id", "acct_balance",
                      ", sum(user_id * seg), sum(user_id * reg)")
    same("dim_users", _summary(con, m("dim_users"), "user_id", "acct_balance",
                               seg + f", sum(user_id * list_position({REG_LIST}, region))"),
         exp_du)
    n_closed = sum(flips.values())
    closed_dir = os.path.join(wh, "users_snapshot__closed")
    got_closed = con.execute(f"SELECT count(*) FROM {m('users_snapshot__closed')}").fetchone()[0] \
        if parquet_files(closed_dir) else 0
    same("users_snapshot closed rows", (got_closed,), (n_closed,))

    exp_p = _summary(con, "exp_plans", "plan_id", "target_amount")
    same("stg_plans", _summary(con, m("stg_plans"), "plan_id", "target_amount"), exp_p)
    same("dim_plans", _summary(con, m("dim_plans"), "plan_id", "target_amount"), exp_p)

    months = ", count(DISTINCT date_trunc('month', updated_at))"
    exp_t = _summary(con, "exp_txns", "transaction_id", "amount", months)
    same("stg_transactions", _summary(con, m("stg_transactions"), "transaction_id",
                                      "amount", months), exp_t)
    same("fact_transactions", _summary(con, m("fact_transactions"), "transaction_id", "amount",
                                       ", count(DISTINCT txn_month)"), exp_t)

    if delta is not None:
        _delta_checks(con, m, delta, flips, same)
    return bad


def _delta_checks(con, m, delta, flips, same) -> None:
    """Changed keys are visible exactly once with their new values; each
    flipped user has one open version and one closed row per flip."""
    con.register("d_plans", _frame(plan_id=delta.plan_ids, amt=delta.new_plan_amounts))
    for model in ("stg_plans", "dim_plans"):
        got = con.execute(f"""
            SELECT count(*), count(DISTINCT t.plan_id),
                   sum(CASE WHEN t.target_amount = d.amt THEN 1 ELSE 0 END)
            FROM {m(model)} t JOIN d_plans d USING (plan_id)""").fetchone()
        n = len(delta.plan_ids)
        same(f"{model} changed plans", got, (n, n, n))
    # a re-stamped plan is re-enriched: its segment is its owner's current one
    got = con.execute(f"""
        SELECT count(*) FROM {m('dim_plans')} t JOIN d_plans USING (plan_id)
        JOIN exp_users u ON u.user_id = t.user_id
        WHERE list_position({SEG_LIST}, t.segment) IS DISTINCT FROM u.seg""").fetchone()
    same("dim_plans changed plans' segment", got, (0,))

    con.register("d_users", _frame(user_id=delta.user_ids, seg=delta.new_segments + 1,
                                   closed=np.array([flips[int(u)] for u in delta.user_ids])))
    got = con.execute(f"""
        SELECT count(*), sum(CASE WHEN list_position({SEG_LIST}, o.segment) = d.seg
                                  THEN 1 ELSE 0 END)
        FROM {m('users_snapshot__open')} o JOIN d_users d USING (user_id)""").fetchone()
    n = len(delta.user_ids)
    same("flipped users: one open version with the new segment", got, (n, n))
    got = con.execute(f"""
        SELECT count(*) FROM d_users d LEFT JOIN (
            SELECT user_id, count(*) AS c FROM {m('users_snapshot__closed')} GROUP BY user_id
        ) c USING (user_id) WHERE coalesce(c.c, 0) <> d.closed""").fetchone()
    same("flipped users: one closed row per flip", got, (0,))

    if len(delta.new_line_keys):
        keys = delta.new_line_keys[:, 0] * 100 + delta.new_line_keys[:, 1]
        con.register("d_txns", _frame(transaction_id=keys))
        want = con.execute(f"""
            SELECT count(*), count(DISTINCT transaction_id), {_MONEY.format(c='amount')}
            FROM exp_txns JOIN d_txns USING (transaction_id)""").fetchone()
        n = len(keys)
        for model in ("stg_transactions", "fact_transactions"):
            got = con.execute(f"""
                SELECT count(*), count(DISTINCT transaction_id),
                       {_MONEY.format(c='t.amount')}
                FROM {m(model)} t JOIN d_txns USING (transaction_id)""").fetchone()
            same(f"{model} inserted txns", got, (n, n, want[2]))
        got = con.execute(f"""
            SELECT count(*) FROM {m('fact_transactions')} t JOIN d_txns USING (transaction_id)
            JOIN exp_plans p ON p.plan_id = t.plan_id
            WHERE t.product_type IS DISTINCT FROM p.product_type""").fetchone()
        same("fact_transactions inserted txns' plan attributes", got, (0,))


def _frame(**cols):
    return pa.table({k: np.asarray(v) for k, v in cols.items()})


# -- mart queries ------------------------------------------------------------
def oracle_frames(src: str, rows: dict[str, str]) -> dict:
    """DuckDB's answer for each query row, from its REGISTRY oracle SQL."""
    with duckdb.connect() as con:
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
        return {name: con.execute(sql).df() for name, sql in rows.items()}


def query_check(name: str, got, want) -> list[str]:
    """The repository's strict mirror rules: column names, dtype classes,
    then an exact-value multiset comparison."""
    from tests.test_queries_vs_duckdb import _dtype_class, _multiset

    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    bad = [
        c for c in got.columns
        if _dtype_class(got[c]) != _dtype_class(want[c])
        and "empty" not in (_dtype_class(got[c]), _dtype_class(want[c]))
    ]
    if bad:
        return [f"{name}: dtype class differs on {bad}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)}"]
    if _multiset(got) != _multiset(want):
        return [f"{name}: values differ"]
    return []


# -- ANN ---------------------------------------------------------------------
def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, q_ids: np.ndarray,
               q: np.ndarray, k: int) -> dict[int, set[int]]:
    """Brute-force cosine top-k (self excluded) for each query vector."""
    out = {}
    c = corpus.astype(np.float64)
    for lo in range(0, len(q_ids), 64):  # bounded sims matrix per chunk
        ids = q_ids[lo:lo + 64]
        sims = q[lo:lo + 64].astype(np.float64) @ c.T
        sims[ids[:, None] == corpus_ids[None, :]] = -np.inf
        top = np.argpartition(-sims, k, axis=1)[:, :k]
        out.update({int(qid): set(corpus_ids[row].tolist()) for qid, row in zip(ids, top)})
    return out


def recall_at_k(got: dict[int, set[int]], want: dict[int, set[int]]) -> float:
    hit = sum(len(got.get(q, set()) & w) for q, w in want.items())
    return hit / max(1, sum(len(w) for w in want.values()))


def index_check(index_dir: str, want_ids: int) -> list[str]:
    """Every vector appended so far is in the index exactly once."""
    with duckdb.connect() as con:
        n, nd = con.execute(
            f"SELECT count(*), count(DISTINCT vec_id) FROM {_rel(os.path.join(index_dir, 'lists'))}"
        ).fetchone()
    return [] if (n, nd) == (want_ids, want_ids) else [
        f"index holds {n} rows / {nd} ids, want {want_ids}"]
