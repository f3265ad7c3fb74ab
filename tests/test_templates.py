"""SQL-template catalog semantics pinned to the reference gateway:
positional ?-binding, named params, identifier validation, missing-
param errors (index.js:264-325, lib/examiner.js:162-208)."""

import os

import pytest

from pyspark.sql import functions as F

from data_wrangler_spark.catalog import Catalog, UnknownIdentifierError
from data_wrangler_spark.plans.templates import MissingParameterError, SQLTemplates


@pytest.fixture(scope="module")
def templates(spark, sf_dir):
    reg = SQLTemplates(Catalog(spark, sf_dir))
    reg.register(
        "ordersByPriority", "SELECT * FROM orders WHERE o_orderpriority = ?"
    )
    reg.register(
        "lineitemsByOrder",
        "SELECT * FROM lineitem WHERE l_orderkey = ? AND l_quantity >= :minqty",
    )
    reg.register(
        "anyById",
        "SELECT * FROM IDENTIFIER(:tbl) WHERE IDENTIFIER(:pk) = :id",
    )
    reg.register("literalQ", "SELECT * FROM part WHERE p_name LIKE '%?%'")
    return reg


def test_positional_binding(spark, templates, sf_dir):
    df = templates.run(spark, "ordersByPriority", "1-URGENT")
    got = df.select(F.countDistinct("o_orderpriority")).collect()[0][0]
    assert got == 1


def test_mixed_positional_named(spark, templates):
    ok = templates.get("lineitemsByOrder")
    assert ok.n_positional == 1 and ok.named_params == ("minqty",)
    df = templates.run(spark, "lineitemsByOrder", 1, minqty=10)
    rows = df.collect()
    assert all(r.l_orderkey == 1 and r.l_quantity >= 10 for r in rows)


def test_missing_positional_errors(spark, templates):
    with pytest.raises(MissingParameterError, match="expected 1 positional"):
        templates.run(spark, "ordersByPriority")


def test_missing_named_errors(spark, templates):
    with pytest.raises(MissingParameterError, match="minqty"):
        templates.run(spark, "lineitemsByOrder", 1)


def test_identifier_params_validated(spark, templates):
    df = templates.run(spark, "anyById", tbl="customer", pk="c_custkey", id=3)
    rows = df.collect()
    assert len(rows) == 1 and rows[0].c_custkey == 3
    with pytest.raises(UnknownIdentifierError):
        templates.run(spark, "anyById", tbl="pg_tables; --", pk="c_custkey", id=3)
    with pytest.raises(UnknownIdentifierError):
        templates.run(spark, "anyById", tbl="customer", pk="no_col", id=3)


def test_value_injection_is_inert(spark, templates):
    """A hostile value binds as a literal: no rows, no error — the
    upgrade over the reference's regex veto."""
    df = templates.run(spark, "ordersByPriority", "' OR '1'='1")
    assert df.count() == 0


def test_qmark_inside_literal_not_a_slot(spark, templates):
    tpl = templates.get("literalQ")
    assert tpl.n_positional == 0
    assert templates.run(spark, "literalQ").count() == 0


# ── adversarial property fuzz (hypothesis; VERDICT r13 #6) ─────────
# The examiner mirror was example-tested; these strategies generate
# hostile strings — quotes, SQL comments, statement terminators,
# unicode homoglyphs, $var / ? / :name metacharacters, backslashes —
# and assert the template layer's two invariants: VALUE bindings can
# never alter statement structure (they round-trip byte-identically
# as literals through both positional and named slots), and
# IDENTIFIER bindings either resolve against the real schema or
# raise — a hostile string never reaches the SQL text.

from hypothesis import HealthCheck, given, settings, strategies as st

_METACHARS = st.sampled_from(
    [
        "'", '"', "''", "\\'", "--", "/*", "*/", ";", "?", ":p1",
        ":minqty", "$tbl", "{{ x }}", "\x00", "\\", "`", "\n", "\t",
        "' OR '1'='1", "'; DROP TABLE orders; --", "region; --",
        "ʼ", "＇", "‛", "᾽",  # apostrophe homoglyphs
        "UNION ALL SELECT 1", "IDENTIFIER(region)",
    ]
)
_HOSTILE_VALUE = st.one_of(
    _METACHARS,
    st.text(min_size=0, max_size=40),
    st.tuples(_METACHARS, st.text(max_size=10), _METACHARS).map(
        lambda t: "".join(t)
    ),
)


@pytest.fixture(scope="module")
def fuzz_templates(spark, sf_dir):
    reg = SQLTemplates(Catalog(spark, sf_dir))
    reg.register("echoPos", "SELECT ? AS v, count(*) AS n FROM region")
    reg.register("echoNamed", "SELECT :val AS v, count(*) AS n FROM region")
    reg.register(
        "identOnly", "SELECT count(*) AS n FROM IDENTIFIER(:tbl)"
    )
    return reg


@given(payload=_HOSTILE_VALUE)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_value_binding_never_alters_structure(
    spark, fuzz_templates, payload
):
    """Positional AND named value slots: any payload comes back as
    the literal value of a one-row, two-column result — a structure
    escape would change the shape (extra rows/cols, a second
    statement, an unbound-parameter error) or mangle the echo."""
    for tname, kwargs, args in (
        ("echoPos", {}, (payload,)),
        ("echoNamed", {"val": payload}, ()),
    ):
        df = fuzz_templates.run(spark, tname, *args, **kwargs)
        rows = df.collect()
        assert len(rows) == 1 and df.columns == ["v", "n"]
        assert rows[0]["v"] == payload
        assert rows[0]["n"] == 5  # region's row count — FROM untouched


@given(payload=_HOSTILE_VALUE)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_identifier_binding_rejects_hostile(
    spark, fuzz_templates, payload
):
    """Identifier slots validate against the REAL schema (tables and
    their columns), so every hostile string raises before any SQL is
    built; the only accepted payloads are genuine identifiers."""
    from data_wrangler_spark.catalog import TABLES

    cat = fuzz_templates.catalog
    legit = payload in TABLES or any(
        payload in cat.table(t).columns for t in TABLES
    )
    if legit and payload in TABLES:
        n = fuzz_templates.run(
            spark, "identOnly", tbl=payload
        ).collect()[0]["n"]
        assert n >= 0
    elif legit:
        # a genuine COLUMN name passes schema validation (it IS a
        # catalog identifier) but cannot resolve as a table:
        # IDENTIFIER(:tbl) fails at Spark analysis with a resolution
        # error — a refusal, never a structure escape. Previously
        # this case fell through both branches and asserted nothing
        # (ADVICE r14); test_column_name_as_table_is_refused pins it
        # deterministically since random text rarely lands here.
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException):
            fuzz_templates.run(spark, "identOnly", tbl=payload).collect()
    else:
        with pytest.raises(UnknownIdentifierError):
            fuzz_templates.run(spark, "identOnly", tbl=payload)


def test_column_name_as_table_is_refused(spark, fuzz_templates):
    """Deterministic pin of the fuzz test's column-name branch: a
    real column name binds as an identifier but is refused at
    analysis when used where a table is required — the engine never
    silently scans something else (ADVICE r14)."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        fuzz_templates.run(spark, "identOnly", tbl="r_name").collect()


def test_template_calls_register_each_view_once(spark, sf_dir, monkeypatch):
    """Views are registered on the first template run and never again:
    five calls, started at once from five threads on a cold catalog,
    register each of the ten tables at most once in total."""
    import sys
    import threading

    df_class = type(spark.range(1))
    register = df_class.createOrReplaceTempView
    registered = []

    def counting(self, name):
        registered.append(name)
        return register(self, name)

    monkeypatch.setattr(df_class, "createOrReplaceTempView", counting)
    reg = SQLTemplates(Catalog(spark, sf_dir))
    reg.register("byKey", "SELECT * FROM orders WHERE o_orderkey = ?")
    start = threading.Barrier(5)
    rows = []

    def call(key):
        start.wait(timeout=60)
        rows.append(reg.run(spark, "byKey", key).count())

    threads = [threading.Thread(target=call, args=(k,)) for k in range(1, 6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(rows) == 5
    assert registered and max(registered.count(n) for n in registered) == 1


def test_two_catalogs_on_one_session_keep_their_own_tables(spark, sf_dir, tmp_path):
    """Two template catalogs over different fixture dirs, run
    interleaved from two threads on one session, each read their own
    fixture: neither catalog's views replace the other's."""
    import threading

    import pyarrow.parquet as pq

    from data_wrangler_spark.catalog import TABLES
    from data_wrangler_spark.gateway import reference_catalog

    small = tmp_path / "small"
    small.mkdir()
    for t in TABLES:
        src = os.path.abspath(f"{sf_dir}/{t}.parquet")
        if t == "orders":
            pq.write_table(pq.read_table(src).slice(0, 7), small / f"{t}.parquet")
        else:
            os.symlink(src, small / f"{t}.parquet")
    expected = {
        sf_dir: spark.read.parquet(f"{sf_dir}/orders.parquet").count(),
        str(small): 7,
    }
    assert expected[sf_dir] != 7
    regs = {d: reference_catalog(spark, d) for d in expected}
    start = threading.Barrier(2)
    got = {d: [] for d in expected}

    def worker(d):
        for _ in range(8):
            start.wait(timeout=60)
            df = regs[d].run(spark, "salesforce.fromwhat", pk="o_orderkey", what="orders")
            got[d].append(df.count())

    threads = [threading.Thread(target=worker, args=(d,)) for d in expected]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert got == {d: [n] * 8 for d, n in expected.items()}
