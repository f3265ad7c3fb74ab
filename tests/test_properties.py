"""Property-based tests (hypothesis) for the engine's pure-Python
surfaces: clamp algebra, JDBC option guards, SQL-template rewriting,
and the cross-engine round-half-up quantizer."""

import math

import duckdb
from hypothesis import given, settings, strategies as st

from data_wrangler_spark.plans.pagination import (
    PERPAGE_MAX,
    PERPAGE_MIN,
    clamp_perpage,
)
from data_wrangler_spark.plans.templates import SQLTemplates
from data_wrangler_spark.sources.jdbc import JdbcConfigError, jdbc_options


@given(st.integers(min_value=-(10**9), max_value=10**9))
def test_clamp_perpage_bounds_and_idempotence(n):
    c = clamp_perpage(n)
    assert PERPAGE_MIN <= c <= PERPAGE_MAX
    assert clamp_perpage(c) == c  # idempotent
    if PERPAGE_MIN <= n <= PERPAGE_MAX:
        assert c == n  # identity inside the band


@given(st.integers(), st.integers())
def test_clamp_perpage_monotone(a, b):
    if a <= b:
        assert clamp_perpage(a) <= clamp_perpage(b)


_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True)
_hostile = st.text(min_size=1, max_size=30).filter(
    lambda s: not s[0].isalpha() and s[0] != "_"
)


@given(_ident)
def test_jdbc_accepts_valid_tables(table):
    opts = jdbc_options(
        adapter="pg", host="h", database="d", table=table, user="u"
    )
    assert opts["dbtable"] == table


@given(_hostile)
def test_jdbc_rejects_hostile_tables(table):
    try:
        jdbc_options(adapter="pg", host="h", database="d", table=table, user="u")
    except JdbcConfigError:
        return
    # the only non-rejected strings are real identifiers
    assert table[0].isalpha() or table[0] == "_"


@given(
    st.lists(
        st.sampled_from(["SELECT x FROM t WHERE a = ?", "'lit?eral'", "AND b = ?", "'?'"]),
        min_size=1,
        max_size=6,
    )
)
def test_template_qmark_rewrite_skips_string_literals(parts):
    sql = " ".join(parts)
    reg = SQLTemplates(catalog=None)
    tpl = reg.register("t", sql)
    # every ? outside a literal became :pN; every literal survived intact
    outside = sql
    for lit in ("'lit?eral'", "'?'"):
        outside = outside.replace(lit, "")
    assert tpl.n_positional == outside.count("?")
    assert "'lit?eral'" not in sql or "'lit?eral'" in tpl.sql
    assert tpl.sql.count("?") == sql.count("?") - tpl.n_positional


@settings(max_examples=30, deadline=None)
@given(
    st.floats(
        min_value=-1e6,
        max_value=1e6,
        allow_nan=False,
        allow_infinity=False,
    )
)
def test_round6_quantizer_matches_duckdb(x):
    """floor(x*1e6 + 0.5)/1e6 must agree bit-for-bit between Python
    (stand-in for the JVM: same IEEE ops) and DuckDB — this is the
    quantizer every approximate-cosine oracle relies on."""
    py = math.floor(x * 1_000_000 + 0.5) / 1_000_000
    db = duckdb.sql(
        f"SELECT floor({x!r}::DOUBLE * 1000000 + 0.5) / 1000000"
    ).fetchone()[0]
    assert py == db


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=100_000), st.integers(min_value=1, max_value=64))
def test_ntile_formula_matches_window_semantics(n, k):
    """The positional ntile formula (functions/distributed.py) must
    reproduce the SQL window function's bucket assignment for every
    (n, k): first n%k buckets take n//k+1 rows, the rest n//k."""
    q, r = divmod(n, k)
    head = r * (q + 1)

    def formula(pos: int) -> int:
        if pos < head:
            return pos // (q + 1) + 1
        return r + (pos - head) // q + 1 if q else pos + 1

    # reference semantics: walk buckets the way NTILE deals rows
    sizes = [q + 1] * r + [q] * (k - r)
    expect = []
    for b, s in enumerate(sizes, start=1):
        expect.extend([b] * s)
    assert [formula(p) for p in range(n)] == expect


def test_running_sum_rejects_non_integral(spark):
    """A fractional sum depends on the order its terms are added in, so
    per-partition sums plus offsets would not be bit-identical to the
    one-task window — a fractional val_col must raise instead."""
    import pytest
    from data_wrangler_spark.functions.distributed import with_global_running_sum

    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v double")
    with pytest.raises(TypeError, match="integral"):
        with_global_running_sum(df, ["k"], "v", "rs")


def test_release_pinned_unpersists(spark):
    from pyspark.sql import functions as F

    from data_wrangler_spark.functions.distributed import (
        release_pinned,
        with_global_position,
    )

    release_pinned()  # drain anything earlier tests pinned
    df = spark.range(100).withColumn("k", (F.col("id") % 7).cast("int"))
    out, n = with_global_position(df, ["k", "id"])
    assert out.select(n).first()[0] == 100 and out.count() == 100
    assert release_pinned() >= 1
    assert release_pinned() == 0  # idempotent


def test_global_helpers_exact_on_shuffled_input(spark):
    """Each two-phase helper reads its range-partitioned frame twice in
    one plan: the per-partition offsets and the partition-local window.
    On a shuffled input the row order inside a partition varies from
    one computation to the next, so every recomputation would sample
    other range boundaries; with exchange reuse off nothing shares the
    shuffle either. Only the persisted frame keeps both reads on one
    partitioning, and each helper must equal the one-task window it
    replaces."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_wrangler_spark.functions.distributed import (
        release_pinned,
        with_global_position,
        with_global_running_max,
        with_global_running_sum,
    )

    child = spark.newSession()
    child.conf.set("spark.sql.exchange.reuse", "false")
    child.conf.set("spark.sql.shuffle.partitions", "32")
    # big enough that range sampling sees a sample, not whole partitions
    base = child.range(200_000).select(
        (F.col("id") % 40_000).alias("g"), (F.col("id") * 7919 % 1009).alias("x")
    )
    shuffled = base.groupBy("g").agg(
        F.max("x").cast("int").alias("k"), F.sum("x").alias("v")
    )
    order = ["k", "g"]
    one_task = Window.orderBy(*order)
    upto = one_task.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = one_task.rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.g: r
        for r in shuffled.select(
            "g",
            (F.row_number().over(one_task) - 1).alias("pos"),
            F.sum("v").over(upto).alias("rs"),
            F.max("k").over(before).alias("rm"),
        ).collect()
    }
    pos, n = with_global_position(shuffled, order)
    assert {r.g: r._pos for r in pos.collect()} == {g: r.pos for g, r in want.items()}
    assert pos.select(n).first()[0] == len(want) == 40_000
    rs = with_global_running_sum(shuffled, order, "v", "rs")
    assert {r.g: r.rs for r in rs.collect()} == {g: r.rs for g, r in want.items()}
    rm = with_global_running_max(shuffled, order, "k", "rm", exclusive=True)
    assert {r.g: r.rm for r in rm.collect()} == {g: r.rm for g, r in want.items()}
    release_pinned()


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=-(2**60), max_value=2**60),
    st.integers(min_value=1, max_value=2**40),
)
def test_fdiv_identity_matches_python_floor_in_duckdb(a, b):
    """q_embed_pca's cross-engine floor division: the exactly-
    divisible-numerator identity evaluated by DuckDB (whose bare //
    truncates toward zero) must equal Python's flooring //."""
    # operands cast to BIGINT as in production, where the identity is
    # applied to SUM()-typed columns: DuckDB types bare literals as
    # INT32 when they fit, and (a % b) + b then overflows INT32 for
    # b near 2^31 (hypothesis-found edge) — a literal-typing artifact
    # the real oracles never hit
    av, bv = f"CAST({a} AS BIGINT)", f"CAST({b} AS BIGINT)"
    expr = f"(({av}) - (((({av}) % ({bv})) + ({bv})) % ({bv}))) // ({bv})"
    got = duckdb.connect().execute(f"SELECT {expr}").fetchone()[0]
    assert got == a // b


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_bloom_bits_match_python_model_in_duckdb(g):
    """The Bloom gate's bit arithmetic pinned against a pure-Python
    md5 model — independent of Spark AND of the Spark-vs-DuckDB
    oracle comparison, so a same-bug-in-both-engines formulation
    error cannot hide."""
    import hashlib

    from data_wrangler_spark.operators.pipeline_ops import (
        BLOOM_K,
        BLOOM_M_BITS,
        _bloom_bits_sql,
    )

    hx = hashlib.md5(g.encode()).hexdigest()
    h1, h2 = int(hx[:12], 16), int(hx[12:23], 16)
    want = sorted({(h1 + j * h2) % BLOOM_M_BITS for j in range(BLOOM_K)})

    sh1, sh2 = _bloom_bits_sql("g")
    got = sorted(
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT DISTINCT ({sh1} + j * {sh2}) % {BLOOM_M_BITS} AS bit "
            f"FROM (SELECT ? AS g) CROSS JOIN "
            f"(SELECT unnest(range({BLOOM_K})) AS j)",
            [g],
        )
        .fetchall()
    )
    assert got == want


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=12), min_size=0, max_size=8))
@settings(max_examples=40, deadline=None)
def test_minhash_sig_sql_matches_python_model(shingles):
    """_sig_select_sql (the DuckDB minhash the oracles AND the
    persisted band indexes replay) pinned against a pure-Python
    md5 double-hash model over arbitrary shingle lists — including
    the empty-list → all-NULL convention sig_expr mirrors."""
    import hashlib

    from data_wrangler_spark.operators.dedup import N_MINHASH, _sig_select_sql

    def g_j(s, j):
        hx = hashlib.md5(s.encode()).hexdigest()
        return int(hx[:12], 16) + j * int(hx[12:23], 16)

    want = [
        (min(g_j(s, j) for s in shingles) if shingles else None)
        for j in range(N_MINHASH)
    ]

    con = duckdb.connect()
    row = con.execute(
        f"SELECT {_sig_select_sql()} FROM (SELECT ? AS sh)", [shingles]
    ).fetchone()
    assert list(row) == want


# ── DSIR cross-engine arithmetic contract ────────────────────────────
# The operator oracles pin exact equality end-to-end; these pin the
# FORMULA against an independent Python evaluation over random
# operands. Tolerance is ±1 micro-unit: the float32 squeeze absorbs
# last-ulp libm divergence except exactly at a float32 rounding
# boundary, where the floored micro value can differ by one — the
# documented limit of the squeeze idiom, made explicit here.

_counts = st.integers(min_value=0, max_value=10**12)


@given(_counts, _counts, _counts, _counts)
@settings(max_examples=300)
def test_dsir_weight_formula_matches_duckdb(ct, cr, et, er):
    import numpy as np

    from data_wrangler_spark.operators.llm_extras import DSIR_B

    nt, nr = ct + et, cr + er
    duck = duckdb.sql(
        f"SELECT CAST(floor(CAST(CAST(ln("
        f"(CAST({ct} + 1 AS DOUBLE) * CAST({nr} + {DSIR_B} AS DOUBLE))"
        f" / (CAST({cr} + 1 AS DOUBLE) * CAST({nt} + {DSIR_B} AS DOUBLE))"
        f") AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)"
    ).fetchone()[0]
    ratio = (float(ct + 1) * float(nr + DSIR_B)) / (
        float(cr + 1) * float(nt + DSIR_B)
    )
    py = math.floor(float(np.float32(math.log(ratio))) * 1_000_000)
    assert abs(duck - py) <= 1


@given(st.integers(min_value=0, max_value=(1 << 60) - 1))
@settings(max_examples=300)
def test_dsir_gumbel_formula_bounded_and_matches_duckdb(h):
    import numpy as np

    u = ((h >> 7) + 1) / float(1 << 54)
    assert 0.0 < u <= 0.5  # never a pole at either end
    duck = duckdb.sql(
        f"SELECT CAST(floor(CAST(CAST(-ln(CAST(CAST(-ln("
        f"CAST(({h} >> 7) + 1 AS DOUBLE) / 18014398509481984.0"
        f") AS FLOAT) AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)"
    ).fetchone()[0]
    nl = float(np.float32(-math.log(u)))
    py = math.floor(float(np.float32(-math.log(nl))) * 1_000_000)
    assert abs(duck - py) <= 1
    assert duck < 20_000_000  # Gumbel noise bounded: -ln(-ln(2^-54)) small
