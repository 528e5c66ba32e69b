"""Property test (hypothesis): lax validation never raises on dirty
input, and reports the same violations, whether Spark's ANSI mode is on
or off. Spark 4 turns spark.sql.ansi.enabled on by default, and under
ANSI a plain cast or an overflowing arithmetic raises instead of
returning NULL — every decode in the engine must stay a try_cast."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xmlschema_spark import validate
from xmlschema_spark.specs import ColumnSpec, TableSpec, UniqueSpec

_ADVERSARIAL = [
    "", " ", "  42  ", "4 2", "1e400", "-1e400", "NaN", "INF", "-INF",
    "inf", "1e", ".5", "5.", "+0", "-0", "007", "0x1F", "1,000",
    "2147483647", "2147483648", "-2147483649", "9223372036854775808",
    "-9223372036854775809", "99999999999999999999999999999999999999999",
    "18446744073709551616", "1.0000000000000000000001", "1e-400",
    "2020-02-30", "2020-13-01", "9999-12-31", "0000-01-01",
    "2020-01-01T25:00:00", "true", "TRUE", "yes", "\t1\n", "٠",
    " ", "\x00",
]
_TEXT = st.one_of(
    st.sampled_from(_ADVERSARIAL),
    st.integers(min_value=-10**40, max_value=10**40).map(str),
    st.floats(allow_nan=True, allow_infinity=True).map(repr),
    st.decimals(allow_nan=False, allow_infinity=False, places=6).map(str),
    st.text(max_size=8),
)
_LONG = st.integers(min_value=-2**63, max_value=2**63 - 1)
_ROW = st.tuples(_TEXT, _TEXT, st.lists(_TEXT, max_size=3), _TEXT, _LONG)

SPEC = TableSpec(
    name="ansi", key_column="rid",
    columns=[
        ColumnSpec("s", "decimal(10,2)", min_inclusive=-100,
                   total_digits=5, fraction_digits=1),
        ColumnSpec("x", "xsd:int", max_exclusive=1000),
        ColumnSpec("items", lexical_list=True, max_length=2,
                   item=ColumnSpec("items", "xsd:short", min_inclusive=0)),
        ColumnSpec("u", union_members=[
            ColumnSpec("u", "xsd:float", min_inclusive=0),
            ColumnSpec("u", "xsd:date"),
            ColumnSpec("u", "bigint", max_inclusive=10)]),
        ColumnSpec("n", "int", min_inclusive=0, fixed=7),
    ],
    uniques=[UniqueSpec("uq_n", ["n"])],
)


def _violations(spark, rows, ansi: bool) -> list:
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    df = spark.createDataFrame(
        [(f"r{i}", s, x, " ".join(items), u, n)
         for i, (s, x, items, u, n) in enumerate(rows)],
        "rid string, s string, x string, items string, u string, n bigint")
    res = validate(df, SPEC, mode="lax")
    try:
        return sorted((r.row_key, r.constraint, r.value)
                      for r in res.violations.collect())
    finally:
        res.unpersist()


@pytest.fixture
def ansi_restored(spark):
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    yield
    spark.conf.set(key, old)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_ROW, min_size=1, max_size=24))
def test_lax_validate_same_violations_with_and_without_ansi(
        spark, ansi_restored, rows):
    on = _violations(spark, rows, ansi=True)
    off = _violations(spark, rows, ansi=False)
    assert on == off
