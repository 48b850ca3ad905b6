"""The benchmark's workloads: the federated schema, the seeded op
sequence of one pass, and the oracle model for every op.

A pass is one instance of a workload's fixed template sequence. Its
parameters (keys, dates, thresholds) are drawn from the seed and the pass
index, so passes differ in what they touch but never in their mix. Every
pass ends with OPTIMIZE + VACUUM of the versioned table, so each pass
starts from the same version/file layout. What the writes leave behind
(adjusted balances, the one document upserted into the Mongo-style
collection) stays; the model that computes expectations replays every
pass in order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Callable

import datagen

TPCH_TABLES = [
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
]
# Corpus operators of a batch pass. dedup_minhash_lsh (3-8 s a call at
# sf0.1, ~21 s for its exact DuckDB twin) and text_bm25_topk (0.9-1.4 s)
# are left out so that a run fits its time budget.
OPERATORS = ["ann_cosine_topk", "text_quality", "embedding_cluster_assign"]
WRITE_HEADS = ("INSERT", "UPDATE", "UPSERT", "DELETE")


# Input sizes shared by both workloads; only the TPC-H scale factor differs.
LOG_DOCS = 2000  # ES-style log documents
USER_DOCS = 1000  # Mongo-style user documents
ACCOUNTS = 1000  # rows of the versioned copy-on-write table
WARMUP_PASSES = 1

# Why each workload exists is recorded in BENCHMARK.json. federated_point:
# per-statement work in engine/dialect/sources/dml is most of each
# op's latency, so planning and caching changes show there; batch_analytics:
# Spark execution and the corpus operators dominate, so a planning change
# should read unchanged and an execution change shows. Values: TPC-H sf.
WORKLOADS = {
    "federated_point": 0.01,
    "batch_analytics": 0.1,
}


@dataclass
class Op:
    template: str
    kind: str  # read | write | maint | operator
    sql: str = ""
    args: list | None = None
    operator: str = ""
    ordered: bool = False
    width: int | None = None  # compare only the first `width` columns
    duck: str = ""  # DuckDB twin over the parquet files
    model: Callable | None = field(default=None, repr=False)  # state -> expectation


# ---------------------------------------------------------------- inputs

def paths(work: str) -> dict[str, str]:
    data = os.path.join(work, "data")
    return {
        "tpch": os.path.join(data, "tpch"),
        "logs": os.path.join(data, "logs.json"),
        "users": os.path.join(data, "users.json"),
        "accounts": os.path.join(data, "accounts"),
    }


def make_inputs(sf: float, work: str, seed: int) -> dict:
    """Write every input of one run under `work`; return the sizes."""
    p = paths(work)
    counts = datagen.write_tpch(p["tpch"], sf, seed)
    datagen.write_json(p["logs"], datagen.log_docs(LOG_DOCS, seed))
    datagen.write_json(p["users"], datagen.user_docs(USER_DOCS, seed, counts["customer"]))
    datagen.write_accounts(p["accounts"], ACCOUNTS, seed, counts["customer"])
    return {
        "sf": sf,
        "tpch_rows": counts,
        "es_docs": LOG_DOCS,
        "mongo_docs": USER_DOCS,
        "accounts_rows": ACCOUNTS,
        "registered_tables": len(TPCH_TABLES) + 4,  # + logs, users, seg_dim, accounts
    }


def register_schema(engine, spark, work: str, cow_dir: str) -> None:
    """The virtual schema both workloads query: a parquet TPC-H dir, an
    ES-style index, a writable Mongo-style collection, a memory source with
    a dimension table, and a versioned copy-on-write parquet table."""
    from dataux_spark.sources import EsStyleRestSource, MongoStyleSource

    p = paths(work)
    engine.register_parquet_dir("tpch", p["tpch"])
    engine.register_source(EsStyleRestSource("es", {"logs": f"file://{p['logs']}"}))
    engine.register_source(MongoStyleSource("mongo", {"users": f"file://{p['users']}"}))
    engine.register_memory("dims", {"seg_dim": spark.createDataFrame(
        [(s, i + 1) for i, s in enumerate(datagen.USER_SEGS)], "seg string, seg_rank int")})
    engine.register_writable_parquet(
        "accounts", os.path.join(p["accounts"], "accounts.parquet"), cow_dir,
        keys=["acct_id"],
    )


FIRST_STATEMENT = "SELECT count(*) AS n FROM logs WHERE status = 200"


def first_statement_rows(work: str) -> int:
    """Expected result of FIRST_STATEMENT."""
    import json

    with open(paths(work)["logs"]) as fh:
        return sum(1 for d in json.load(fh) if d["status"] == 200)


# ---------------------------------------------------------------- model

class Model:
    """Python model of the writable and document-backed tables, used for
    ES/Mongo statements and for every read-your-writes check."""

    def __init__(self, work: str):
        import json

        import pyarrow.parquet as pq

        p = paths(work)
        with open(p["logs"]) as fh:
            self.logs = json.load(fh)
        with open(p["users"]) as fh:
            self.users = {d["uid"]: d for d in json.load(fh)}
        acc = pq.read_table(os.path.join(p["accounts"], "accounts.parquet")).to_pylist()
        self.accounts = {r["acct_id"]: r for r in acc}
        cust = pq.read_table(os.path.join(p["tpch"], "customer.parquet"),
                             columns=["c_custkey", "c_name"]).to_pylist()
        self.cust_name = {r["c_custkey"]: r["c_name"] for r in cust}
        self.seg_rank = {s: i + 1 for i, s in enumerate(datagen.USER_SEGS)}
        self.schemas = {
            t: pq.read_schema(os.path.join(p["tpch"], f"{t}.parquet")).names
            for t in TPCH_TABLES
        }


def _rows(rows, ordered=False):
    return {"kind": "rows", "rows": [list(r) for r in rows], "ordered": ordered}


def _affected(n):
    return {"kind": "affected", "n": n}


def _acct_row(m: Model, k: int):
    r = m.accounts.get(k)
    return _rows([] if r is None else [(r["acct_id"], r["custkey"], r["balance"], r["status"])])


def _user_row(m: Model, uid: str):
    d = m.users.get(uid)
    return _rows([] if d is None else [(d["uid"], d["seg"], d["country"], d["score"], d["custkey"])])


# ------------------------------------------------------- federated_point

# Template weights. The bound-argument customer lookup is half of a timed
# pass: with the few faster ops (keyed reads of the versioned table,
# VACUUM) below it, it holds every rank from roughly the 3rd to the 35th
# of 56, so the p50 (rank 28-29) falls inside its latency cluster rather
# than on the edge between two templates. The p90 (rank ~51) is held the
# same way by the ES filter-plus-residual scan, run ES_FILTERS times a
# pass: with the UPDATE and the Mongo keyed read and GROUP BY of about
# its latency it spans ranks ~50-55, below only the cross-source join; a
# single scan a pass would leave the p90 on the steep edge between half a
# dozen single-sample templates (520-1050 ms). The repeated templates are
# spread evenly over the pass, so a stall at one point of it (a GC pause,
# a busy host) slows a few of them rather than a run of them. The warm-up
# pass runs as many lookups as a timed pass: their latency still falls
# steeply over the first tens of calls. UPSERTS upserts of one key, with
# the INSERT and the Mongo-style UPSERT of about their latency, make six
# of the eight writes of a pass, so the write median falls inside their
# cluster too, not on the edge between them and the slower DELETE and
# UPDATE.
BIND_LOOKUPS = 26
ES_FILTERS = 3
UPSERTS = 4
# One document the Mongo-style collection keeps after the first pass: each
# pass upserts it with a new score and reads it back.
BENCH_UID = "u_bench"

def _federated_point_pass(rng: random.Random, sizes: dict, i: int, warmup: bool) -> list[Op]:
    n_filters, n_upserts = (1, 1) if warmup else (ES_FILTERS, UPSERTS)
    n_ord = sizes["tpch_rows"]["orders"]
    n_cust = sizes["tpch_rows"]["customer"]
    n_acc = sizes["accounts_rows"]
    ok = rng.randrange(n_ord)
    cust_keys = [rng.randrange(n_cust) for _ in range(BIND_LOOKUPS)]
    lk = rng.randrange(n_ord)
    filters = [(rng.choice([404, 500, 301]), rng.randrange(10)) for _ in range(n_filters)]
    agg_status = rng.choice([200, 404, 500])
    min_bytes = rng.randrange(1000, 40000)
    topk_status = rng.choice([200, 201, 404])
    seg = rng.choice(datagen.USER_SEGS)
    country = rng.choice(datagen.COUNTRIES)
    min_score = rng.randrange(850, 950)
    desc_table = TPCH_TABLES[i % len(TPCH_TABLES)]
    new_id = n_acc + 1000 + i
    cust = rng.randrange(n_cust)
    bal, delta = rng.randrange(1000), rng.randrange(1, 500)
    upsert_bals = [rng.randrange(1000) for _ in range(n_upserts)]
    new_score = rng.randrange(1000)

    def acct_read():
        return Op("acct_read", "read",
                  f"SELECT acct_id, custkey, balance, status FROM accounts WHERE acct_id = {new_id}",
                  model=lambda m: _acct_row(m, new_id))

    def acct_insert(m):
        m.accounts[new_id] = {"acct_id": new_id, "custkey": cust, "balance": bal, "status": "new"}
        return _affected(1)

    def acct_update(m):
        r = m.accounts[new_id]
        r["balance"] += delta
        r["status"] = "active"
        return _affected(1)

    def acct_upsert(b):
        def f(m):
            m.accounts[new_id] = {"acct_id": new_id, "custkey": cust, "balance": b,
                                  "status": "upserted"}
            return _affected(1)
        return f

    def acct_delete(m):
        del m.accounts[new_id]
        return _affected(1)

    def user_upsert(m):
        m.users[BENCH_UID] = {"uid": BENCH_UID, "seg": "gold", "country": "de",
                              "score": new_score, "custkey": cust}
        return _affected(1)

    def es_filter(status, host_digit):
        return lambda m: _rows(sorted(
            (d["id"], d["host"], d["bytes"]) for d in m.logs
            if d["status"] == status and d["host"].endswith(str(host_digit))
        ), ordered=True)

    def es_agg(m):
        hit = [d for d in m.logs if d["status"] == agg_status and d["bytes"] > min_bytes]
        lat = [d["latency"] for d in hit]
        return _rows([(len(hit), sum(lat) / len(lat) if lat else None,
                       max((d["bytes"] for d in hit), default=None))])

    def es_topk(m):
        hit = [d for d in m.logs if d["status"] == topk_status]
        hit.sort(key=lambda d: (-d["latency"], d["id"]))
        return _rows([(d["id"], d["host"], d["latency"]) for d in hit[:5]], ordered=True)

    def mongo_groupby(m):
        groups: dict[str, list[int]] = {}
        for d in m.users.values():
            if d["seg"] == seg:
                groups.setdefault(d["country"], []).append(d["score"])
        return _rows([(c, len(v), sum(v) / len(v)) for c, v in groups.items()])

    def cross_join(m):
        return _rows(sorted(
            (d["uid"], m.cust_name[d["custkey"]], m.seg_rank[d["seg"]])
            for d in m.users.values()
            if d["country"] == country and d["score"] >= min_score and d["custkey"] in m.cust_name
        ), ordered=True)

    lookups = [
        Op("pk_customer_bind", "read",
           "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
           "WHERE c_custkey = ?",
           args=[ck],
           duck=f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
                f"WHERE c_custkey = {ck}")
        for ck in cust_keys
    ]
    upserts = []
    for b in upsert_bals:
        upserts += [
            Op("acct_upsert", "write",
               f"UPSERT INTO accounts (acct_id, custkey, balance, status) "
               f"VALUES ({new_id}, {cust}, {b}, 'upserted')", model=acct_upsert(b)),
            acct_read(),
        ]
    es_filters = [
        Op("es_filter_residual", "read",
           f"SELECT id, host, bytes FROM logs WHERE status = {status} "
           f"AND host LIKE '%{digit}' ORDER BY id",
           ordered=True, model=es_filter(status, digit))
        for status, digit in filters
    ]
    return _interleave(lookups, _interleave(es_filters, [
        Op("pk_orders_var", "read",
           f"SET @ok = {ok}; SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
           "FROM orders WHERE o_orderkey = @ok",
           duck=f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
                f"FROM orders WHERE o_orderkey = {ok}"),
        Op("pk_lineitem", "read",
           f"SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem "
           f"WHERE l_orderkey = {lk} ORDER BY l_linenumber",
           ordered=True,
           duck=f"SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem "
                f"WHERE l_orderkey = {lk} ORDER BY l_linenumber"),
        Op("es_agg_pushdown", "read",
           f"SELECT count(*) AS n, avg(latency) AS avg_latency, max(bytes) AS max_bytes "
           f"FROM logs WHERE status = {agg_status} AND bytes > {min_bytes}",
           model=es_agg),
        Op("es_topk_pushdown", "read",
           f"SELECT id, host, latency FROM logs WHERE status = {topk_status} "
           "ORDER BY latency DESC, id LIMIT 5",
           ordered=True, model=es_topk),
        Op("mongo_groupby_polyfill", "read",
           f"SELECT country, count(*) AS n, avg(score) AS avg_score FROM users "
           f"WHERE seg = '{seg}' GROUP BY country",
           model=mongo_groupby),
        Op("cross_source_join", "read",
           "SELECT u.uid, c.c_name, d.seg_rank FROM users u "
           "JOIN customer c ON c.c_custkey = u.custkey JOIN seg_dim d ON d.seg = u.seg "
           f"WHERE u.country = '{country}' AND u.score >= {min_score} ORDER BY u.uid",
           ordered=True, model=cross_join),
        Op("show_tables", "read", "SHOW TABLES FROM tpch", ordered=True,
           model=lambda m: _rows([(t,) for t in TPCH_TABLES], ordered=True)),
        Op("describe", "read", f"DESCRIBE {desc_table}", ordered=True, width=1,
           model=lambda m: _rows([(c,) for c in m.schemas[desc_table]], ordered=True)),
        Op("acct_insert", "write",
           f"INSERT INTO accounts (acct_id, custkey, balance, status) "
           f"VALUES ({new_id}, {cust}, {bal}, 'new')", model=acct_insert),
        acct_read(),
        Op("acct_update", "write",
           f"UPDATE accounts SET balance = balance + {delta}, status = 'active' "
           f"WHERE acct_id = {new_id}", model=acct_update),
        acct_read(),
        *upserts,
        Op("acct_delete", "write", f"DELETE FROM accounts WHERE acct_id = {new_id}",
           model=acct_delete),
        acct_read(),
        Op("user_upsert", "write",
           f"UPSERT INTO users (uid, seg, country, score, custkey) "
           f"VALUES ('{BENCH_UID}', 'gold', 'de', {new_score}, {cust})", model=user_upsert),
        Op("user_read", "read",
           f"SELECT uid, seg, country, score, custkey FROM users WHERE uid = '{BENCH_UID}'",
           model=lambda m: _user_row(m, BENCH_UID)),
        *_maintenance(writes=3 + n_upserts),
    ]))


def _interleave(spread: list[Op], rest: list[Op]) -> list[Op]:
    """`rest` in its order, with the ops of `spread` placed evenly
    between its ops (none of them reads what a `rest` op writes)."""
    slots: dict[int, list[Op]] = {}
    for k, op in enumerate(spread):
        slots.setdefault(k * len(rest) // len(spread), []).append(op)
    out = []
    for j, op in enumerate(rest):
        out += slots.get(j, [])
        out.append(op)
    return out


def _maintenance(writes: int) -> list[Op]:
    """OPTIMIZE + VACUUM of the versioned table, then a full read of it.
    VACUUM RETAIN 1 removes every version the pass created except the
    newest: one per write plus the OPTIMIZE commit."""

    def total(m):
        bal = [r["balance"] for r in m.accounts.values()]
        return _rows([(len(bal), sum(bal))])

    return [
        Op("acct_optimize", "maint", "OPTIMIZE accounts",
           model=lambda m: {"kind": "positive"}),
        Op("acct_vacuum", "maint", "VACUUM accounts RETAIN 1 VERSIONS",
           model=lambda m: _affected(writes + 1)),
        Op("acct_total", "read", "SELECT count(*) AS n, sum(balance) AS total FROM accounts",
           model=total),
    ]


# ------------------------------------------------------- batch_analytics

# A timed pass runs every TPC-H template twice (different parameters), for
# more samples of the templates whose latencies set the p50/p90, and
# ADJUSTS balance adjustments of one template, spread over the pass so
# that a stall at one point of it does not slow all of them. The
# adjustments take 0.7-1.0 s, inside the band of TPC-H latencies around
# the p50. Their read-back is the pass's final total. The warm-up pass
# runs as many adjustments as a timed pass: after a single warm-up
# adjustment the first timed ones run 30-40% slower than the later ones,
# and the median of five follows how many of them do.
TPCH_REPEATS = 2
ADJUSTS = 5


def _ts(day: int) -> str:
    import datetime

    return (datetime.date(1992, 1, 1) + datetime.timedelta(days=day)).isoformat()


def _tpch(rng: random.Random) -> dict[str, tuple[str, bool]]:
    """One instance of each TPC-H-shaped template: name -> (sql, ordered)."""
    q1_day = 2405 - rng.randrange(60, 121)
    seg = rng.choice(datagen.SEGMENTS)
    q3_day = rng.randrange(1150, 1250)
    region = rng.choice(datagen.REGIONS)
    q5_year = rng.randrange(1993, 1998)
    q6_year = rng.randrange(1993, 1998)
    q6_disc = rng.randrange(2, 10) / 100
    q6_qty = rng.randrange(24, 26)
    q12_year = rng.randrange(1993, 1998)
    q18_qty = rng.randrange(250, 270)
    cd_day = rng.randrange(0, 1800)
    win_seg = rng.choice(datagen.SEGMENTS)
    return {
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
            "avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{_ts(q1_day)}' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", True),
        "tpch_q3": (
            "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{seg}' AND o_orderdate < TIMESTAMP '{_ts(q3_day)}' "
            f"AND l_shipdate > TIMESTAMP '{_ts(q3_day)}' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10", True),
        "tpch_q5": (
            "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            f"WHERE r_name = '{region}' AND o_orderdate >= TIMESTAMP '{q5_year}-01-01' "
            f"AND o_orderdate < TIMESTAMP '{q5_year + 1}-01-01' "
            "GROUP BY n_name ORDER BY revenue DESC, n_name", True),
        "tpch_q6": (
            "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{q6_year}-01-01' "
            f"AND l_shipdate < TIMESTAMP '{q6_year + 1}-01-01' "
            f"AND l_discount BETWEEN {q6_disc - 0.01:.2f} AND {q6_disc + 0.01:.2f} "
            f"AND l_quantity < {q6_qty}", False),
        "tpch_q12": (
            "SELECT l_returnflag, "
            "sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' "
            "THEN 1 ELSE 0 END) AS high_line_count, "
            "sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' "
            "THEN 1 ELSE 0 END) AS low_line_count "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            f"WHERE l_shipdate >= TIMESTAMP '{q12_year}-01-01' "
            f"AND l_shipdate < TIMESTAMP '{q12_year + 1}-01-01' "
            "GROUP BY l_returnflag ORDER BY l_returnflag", True),
        "tpch_q18": (
            "SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
            "o_totalprice, sum(l_quantity) AS sum_qty "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
            f"HAVING sum(l_quantity) > {q18_qty}) "
            "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
            "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100", True),
        "count_distinct": (
            "SELECT o_orderpriority, count(DISTINCT o_custkey) AS customers FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{_ts(cd_day)}' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority", True),
        "window_topk": (
            "SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (SELECT c_nationkey, c_custkey, "
            "c_acctbal, row_number() OVER (PARTITION BY c_nationkey "
            "ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer "
            f"WHERE c_mktsegment = '{win_seg}') t WHERE rn <= 3 ORDER BY c_nationkey, rn", True),
    }


def _batch_analytics_pass(rng: random.Random, sizes: dict, i: int, warmup: bool) -> list[Op]:
    n_acc = sizes["accounts_rows"]
    ops = []
    for _ in range(1 if warmup else TPCH_REPEATS):
        ops += [Op(name, "read", sql, ordered=ordered, duck=sql)
                for name, (sql, ordered) in _tpch(rng).items()]
    adjusts = [(rng.randrange(0, n_acc - 50), rng.choice((-1, 1)) * rng.randrange(1, 500))
               for _ in range(ADJUSTS)]
    ops += [Op(name, "operator", operator=name) for name in OPERATORS]

    def adjust(lo, delta):
        def f(m):
            for k in range(lo, lo + 50):
                m.accounts[k]["balance"] += delta
            return _affected(50)
        return f

    adjust_ops = [
        Op("acct_adjust", "write",
           f"UPDATE accounts SET balance = balance {'+' if delta > 0 else '-'} {abs(delta)} "
           f"WHERE acct_id >= {lo} AND acct_id < {lo + 50}",
           model=adjust(lo, delta))
        for lo, delta in adjusts
    ]
    return _interleave(adjust_ops, ops) + _maintenance(writes=len(adjusts))


_BUILDERS = {
    "federated_point": _federated_point_pass,
    "batch_analytics": _batch_analytics_pass,
}


def pass_ops(workload: str, seed: int, sizes: dict, i: int) -> list[Op]:
    """The ops of pass `i`: a fixed template sequence, parameters drawn
    from (seed, workload, i). The first WARMUP_PASSES passes are warm-up
    passes, which run every template once, except the lookups and the
    batch adjustments (see their constants)."""
    rng = random.Random(f"{seed}:{workload}:{i}")
    return _BUILDERS[workload](rng, sizes, i, i < WARMUP_PASSES)


def is_write(op: Op) -> bool:
    return op.kind == "write" and op.sql.split(None, 1)[0].upper() in WRITE_HEADS


# ---------------------------------------------------------------- oracle

def expectations(workload: str, seed: int, sizes: dict, work: str,
                 passes: int) -> list[list[dict] | None]:
    """Expected result of every op of passes 0 .. passes-1 (None for a
    warm-up pass), computed with DuckDB over the parquet files and the
    Python model for everything else. Every pass is replayed in order, the
    warm-up passes through the model only (their results are not checked),
    so read-your-writes checks see the state the engine should have."""
    import duckdb

    from dataux_spark.queries import oracle_sql

    p = paths(work)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p['tpch']}/{t}.parquet')")
    operator_sql = oracle_sql()
    operator_rows: dict[str, dict] = {}
    model = Model(work)
    out: list[list[dict] | None] = []
    for i in range(passes):
        warmup = i < WARMUP_PASSES
        exp = []
        for op in pass_ops(workload, seed, sizes, i):
            if op.model is not None:
                exp.append(op.model(model))
            elif warmup:
                continue
            elif op.kind == "operator":
                if op.operator not in operator_rows:
                    operator_rows[op.operator] = _rows(
                        con.execute(operator_sql[op.operator]).fetchall())
                exp.append(operator_rows[op.operator])
            elif op.kind == "write":
                exp.append(_affected(con.execute(op.duck).fetchone()[0]))
            else:
                exp.append(_rows(con.execute(op.duck).fetchall(), op.ordered))
        out.append(None if warmup else [_jsonable(e) for e in exp])
    con.close()
    return out


def _jsonable(expect: dict) -> dict:
    from oracle import norm_rows

    if expect["kind"] == "rows":
        return {**expect, "rows": norm_rows(expect["rows"])}
    return expect
