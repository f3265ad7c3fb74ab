"""Seeded operations for the two workloads, and their expected answers.

Every operation is generated from the workload seed and the fixture's
key ranges before the engine starts; the engine only ever sees the
generated requests. Expected answers come from DuckDB over the same
parquet files (`tools/verify_local.duck_con`), through the registry's
own oracle SQL where the operation is a registered query.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle

import numpy as np

# ---------------------------------------------------------------------------
# the mixes
# ---------------------------------------------------------------------------

# A mix is a deck: each client sends the deck's kinds in a seeded
# shuffle, deck after deck, so a short run still sees the mix in its
# stated proportions. No measured gateway traffic exists to weight the
# kinds by, so every deck holds one request of each kind.

# ingest: beside the writer, 2 closed-loop readers on the short reads
# (the three reference catalog templates and a rel point read) and 1
# closed-loop reader sending only the locked /run read (one client of
# its own, so the time it waits for the writer's lock shows in reads/s
# without making the short reads' latency swing)
INGEST_READ_MIX = {
    "tpl_invoices": 1,  # /q/billing/invoices/<date>
    "tpl_ticket": 1,  # /q/support/ticket/<id>
    "tpl_answers": 1,  # /q/support/ticketAnswers/<id>
    "rel_point": 1,  # /db/billing/rel/<t>/<id>
}
INGEST_LOCKED_MIX = {"run_locked": 1}  # /run/q_window_running_sum (takes _run_lock)

# ingest writer: one closed-loop client cycling through these
WRITE_OPS = ("q_stream_sink_parquet", "q_stream_upsert_state", "q_stream_dedup_ingest")

# analytics: one closed-loop client, Engine -> noop sink, over the
# heavy four plus one scan, one aggregate, one join and one window query
HEAVY_FOUR = ("q_triangles", "q_dedup_minhash", "q_dedup_jaccard", "q_dedup_jaccard_prefix")
LIGHT_FOUR = ("q_topk", "q_agg_groupby", "q_join_multi", "q_window_running_sum")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
POINT_TABLES = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}
RUN_LIMIT = 100  # server.DEFAULT_RUN_LIMIT
FULL_LIMIT = 10_000_000  # a /run limit no result here reaches


class FixtureKeys:
    """Key ranges read from the fixture before any request is made."""

    def __init__(self, con):
        def rng(table: str, col: str) -> tuple[int, int]:
            lo, hi = con.execute(f"SELECT min({col}), max({col}) FROM {table}").fetchone()
            return int(lo), int(hi)

        self.ranges = {t: rng(t, pk) for t, pk in POINT_TABLES.items()}
        self.dates = [
            str(d.date())
            for (d,) in con.execute(
                "SELECT DISTINCT o_orderdate FROM orders ORDER BY 1"
            ).fetchall()
        ]


class _Zipf:
    """Zipf(s) over [lo, hi] with a seeded rank -> key permutation, so
    hot keys are spread over the range rather than at its start."""

    def __init__(self, rng: np.random.Generator, lo: int, hi: int, s: float = 1.1):
        n = hi - lo + 1
        self.cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
        self.keys = lo + rng.permutation(n)
        self.rng = rng

    def draw(self) -> int:
        rank = np.searchsorted(self.cdf, self.rng.random() * self.cdf[-1])
        return int(self.keys[min(rank, len(self.keys) - 1)])


def _request(rng, kind: str, keys: FixtureKeys, zipf: dict) -> dict:
    def key(table: str) -> int:
        if table not in zipf:
            zipf[table] = _Zipf(rng, *keys.ranges[table])
        return zipf[table].draw()

    if kind == "tpl_invoices":
        if "dates" not in zipf:
            zipf["dates"] = _Zipf(rng, 0, len(keys.dates) - 1)
        return {"path": f"/q/billing/invoices/{keys.dates[zipf['dates'].draw()]}"}
    if kind == "tpl_ticket":
        return {"path": f"/q/support/ticket/{key('orders')}"}
    if kind == "tpl_answers":
        return {"path": f"/q/support/ticketAnswers/{key('orders')}"}
    if kind == "rel_point":
        table = sorted(POINT_TABLES)[rng.integers(len(POINT_TABLES))]
        return {"path": f"/db/billing/rel/{table}/{key(table)}"}
    if kind == "run_locked":
        return {"path": "/run/q_window_running_sum"}
    raise ValueError(kind)


def read_requests(seed: int, keys: FixtureKeys, mix: dict, clients: int, per_client: int):
    """Per-client request lists: shuffled decks of ``mix``."""
    rng = np.random.default_rng(seed)
    deck = [k for k in sorted(mix) for _ in range(mix[k])]
    zipf: dict = {}
    out = []
    for _ in range(clients):
        reqs: list[dict] = []
        while len(reqs) < per_client:
            for kind in rng.permutation(deck):
                reqs.append({"kind": kind, **_request(rng, kind, keys, zipf)})
        out.append(reqs)
    return out


def full_output(path: str) -> str:
    """``path`` asking `/run` for its whole result instead of the
    default first 100 rows."""
    return f"{path}{'&' if '?' in path else '?'}limit={FULL_LIMIT}"


def warmup_requests(seed: int, keys: FixtureKeys, mix: dict) -> list[dict]:
    """One request of each kind in ``mix``; each `/run` asks for its
    full output, which is checked against the oracle."""
    rng = np.random.default_rng(seed + 1)
    out = []
    for kind in sorted(mix):
        req = {"kind": kind, **_request(rng, kind, keys, {})}
        if kind.startswith("run_"):
            req["path"] = full_output(req["path"])
        out.append(req)
    return out


def write_ops(seed: int) -> list[str]:
    """The writer's cycle, rotated by the seed."""
    i = seed % len(WRITE_OPS)
    return list(WRITE_OPS[i:] + WRITE_OPS[:i])


def analytics_pass(seed: int, keys: FixtureKeys) -> list[dict]:
    """One pass: the heavy four (they take no binds) and the light four
    with binds drawn from the seed and the fixture's ranges. Every pass
    of a run sends the same binds, so the warm-up pass's checked
    outputs cover every timed query."""
    rng = np.random.default_rng(seed)
    # cut-offs from the last twentieth of the order dates, so every seed
    # aggregates nearly all of lineitem and the work does not vary by seed
    late = keys.dates[-max(1, len(keys.dates) // 20):]
    binds = {
        "q_topk": {"k": int(rng.integers(5, 51))},
        "q_agg_groupby": {"ship_before": f"{late[rng.integers(len(late))]} 00:00:00"},
        "q_join_multi": {"region": REGIONS[rng.integers(len(REGIONS))]},
        "q_window_running_sum": {},
    }
    ops = [{"name": n, "binds": {}, "heavy": True} for n in HEAVY_FOUR]
    ops += [{"name": n, "binds": binds[n], "heavy": False} for n in LIGHT_FOUR]
    return [{"id": f"q{j}", **op} for j, op in enumerate(ops)]


# ---------------------------------------------------------------------------
# expected answers
# ---------------------------------------------------------------------------


def oracle_sql(name: str, binds: dict) -> str:
    """The registry's oracle for ``name``, with bind values written
    over the defaults the oracle text was written for."""
    from data_wrangler_spark.registry import REGISTRY

    spec = REGISTRY[name]
    sql = spec.oracle_sweep or spec.oracle
    for k, v in binds.items():
        default = spec.defaults[k]
        if v == default:
            continue
        old, new = (f"LIMIT {default}", f"LIMIT {v}") if k == "k" else (f"'{default}'", f"'{v}'")
        if sql.count(old) != 1:
            raise ValueError(f"{name}: cannot rebind {k} in its oracle")
        sql = sql.replace(old, new)
    return sql


def json_rows(cols, rows) -> list[tuple]:
    """Rows as the gateway sends them (JSON, `default=str`), each as
    its (column, value) pairs in column-name order."""
    sent = json.loads(json.dumps([dict(zip(cols, r)) for r in rows], default=str))
    return _payload_rows(sent)


def _payload_rows(rows: list[dict]) -> list[tuple]:
    return [tuple(sorted(r.items())) for r in rows]


def _run_binds(path: str) -> tuple[str, dict]:
    from urllib.parse import parse_qs, urlparse

    url = urlparse(path)
    name = url.path.rsplit("/", 1)[1]
    return name, {k: v[-1] for k, v in parse_qs(url.query).items() if k not in ("limit", "token")}


def expected_answer(con, req: dict) -> dict:
    """What a correct gateway returns for ``req``: ``rows`` (compared
    as a multiset), ``row`` (a point read) or only ``count`` (a capped
    /run)."""
    path, kind = req["path"], req["kind"]
    parts = path.split("?")[0].strip("/").split("/")

    def rows(sql: str, params=()) -> dict:
        res = con.execute(sql, list(params))
        cols = [d[0] for d in res.description]
        return {"rows": json_rows(cols, res.fetchall())}

    if kind == "tpl_invoices":
        return rows("SELECT * FROM orders WHERE o_orderdate = CAST(? AS TIMESTAMP)", [parts[3]])
    if kind == "tpl_ticket":
        return rows("SELECT * FROM orders WHERE o_orderkey = ?", [int(parts[3])])
    if kind == "tpl_answers":
        return rows(
            "SELECT t.o_orderkey, a.* FROM orders t JOIN lineitem a "
            "ON t.o_orderkey = a.l_orderkey WHERE t.o_orderkey = ?",
            [int(parts[3])],
        )
    if kind == "rel_point":
        table = parts[3]
        got = rows(f"SELECT * FROM {table} WHERE {POINT_TABLES[table]} = ?", [int(parts[4])])
        return {"row": got["rows"][0] if got["rows"] else None}
    if kind.startswith("run_") or kind == "write":
        # a capped /run returns an arbitrary RUN_LIMIT rows of a longer
        # result, so only their number can be checked
        sql = oracle_sql(*_run_binds(path))
        if "limit=" not in path:
            (n,) = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()
            if n > RUN_LIMIT:
                return {"count": RUN_LIMIT}
        return rows(sql)
    raise ValueError(kind)


def _same(a: list[tuple], b: list[tuple]) -> bool:
    from tools.verify_local import approx_equal, normalize

    na, nb = normalize(a), normalize(b)
    return na == nb or approx_equal(na, nb)


def check(status: int, payload, exp: dict) -> str | None:
    """None when ``payload`` is the expected answer, else why not."""
    if status != 200 or not isinstance(payload, dict) or payload.get("ok") is not True:
        err = payload.get("error") if isinstance(payload, dict) else payload
        return f"status {status}: {str(err)[:300]}"
    if "row" in exp:
        got = payload.get("row")
        want = exp["row"]
        if (got is None) != (want is None) or (
            got is not None and not _same(_payload_rows([got]), [want])
        ):
            return "point row differs from oracle"
        return None
    results = payload.get("results")
    if not isinstance(results, list):
        return "no results list"
    if "count" in exp:
        return None if len(results) == exp["count"] else f"{len(results)} rows != {exp['count']}"
    if len(results) != len(exp["rows"]):
        return f"{len(results)} rows != {len(exp['rows'])} from oracle"
    if not _same(_payload_rows(results), exp["rows"]):
        return "rows differ from oracle"
    return None


def oracle_frame(con, name: str, binds: dict, cache_dir: str) -> tuple[list, list]:
    """(sorted column names, rows) of the query's oracle, cached on
    disk: the fixture directory is content-named, so a cached answer
    can only belong to the same fixture and SQL."""
    sql = oracle_sql(name, binds)
    path = os.path.join(cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)  # written below by this function
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    out = ([dcols[i] for i in order], [tuple(r[i] for i in order) for r in res.fetchall()])
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_frame(cols: list[str], rows: list[tuple], oracle: tuple[list, list]) -> str | None:
    """Compare a collected Spark output with the query's oracle, the
    way `tools/verify_local.sweep` does."""
    dcols, drows = oracle
    if cols != dcols:
        return f"columns {cols} != {dcols}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != {len(drows)} from oracle"
    return None if _same(rows, drows) else "rows differ from oracle"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]
