"""Unit tests per DSL constraint (SURVEY.md §5 item 1).

Expected violation sets derive from the reference predicate semantics:
null semantics proj/core/metadata.py:203, int bounds :253-267,
precision/scale proj/core/functions.py:77-166 (incl. sci-notation and
0<x<1 branches), length :168-172, convert_dtype :62-75.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from smcchecker_spark.compile import compile_suite
from smcchecker_spark.constraints import (
    Dtype,
    InLookup,
    IntRange,
    MaxLength,
    NotInExisting,
    NotNull,
    Precision,
    Range,
    Regex,
    Scale,
    SubsetOf,
    Suite,
    Unique,
    ValidationContext,
)


def make_df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def violating_ids(df, constraint, ctx=None, **kw):
    suite = Suite(name="t", table="t", constraints=[constraint])
    v = compile_suite(
        df, suite, ctx, row_id_col="id", part_id_col=None, **kw
    )
    return {r["row_id"] for r in v.select("row_id").collect()}


def test_not_null(spark):
    df = make_df(
        spark,
        [("a", "x"), ("b", ""), ("c", None), ("d", "NaN"), ("e", "nan"), ("f", "0")],
        "id string, v string",
    )
    assert violating_ids(df, NotNull("v")) == {"b", "c", "d", "e"}


def test_max_length(spark):
    df = make_df(
        spark,
        [("a", "short"), ("b", "x" * 10), ("c", "x" * 11), ("d", None)],
        "id string, v string",
    )
    assert violating_ids(df, MaxLength("v", max_length=10)) == {"c"}


def test_dtype_int(spark):
    df = make_df(
        spark,
        [("a", "5"), ("b", "-17"), ("c", "5.5"), ("d", "abc"), ("e", None), ("f", "+3")],
        "id string, v string",
    )
    assert violating_ids(df, Dtype("v", dtype="int")) == {"c", "d"}


def test_dtype_float(spark):
    df = make_df(
        spark,
        [("a", "5.5"), ("b", "7.23e-5"), ("c", "abc"), ("d", None), ("e", "-2")],
        "id string, v string",
    )
    assert violating_ids(df, Dtype("v", dtype="float")) == {"c"}


def test_dtype_timestamp(spark):
    df = make_df(
        spark,
        [
            ("a", "2024-01-01"),
            ("b", "2024-1-2 3:4:05"),
            ("c", "2024-01-01 10:11:12.5"),
            ("d", "not a date"),
            ("e", None),
            ("f", "01/02/2024"),
        ],
        "id string, v string",
    )
    assert violating_ids(df, Dtype("v", dtype="timestamp")) == {"d", "f"}


def test_int_range_int2(spark):
    df = make_df(
        spark,
        [("a", "100"), ("b", "32768"), ("c", "-32769"), ("d", "32767"), ("e", None)],
        "id string, v string",
    )
    assert violating_ids(df, IntRange("v", width="int2")) == {"b", "c"}


def test_int_range_gate_skips_when_unparseable(spark):
    # reference: if ANY value fails int parse, the whole check is skipped
    # (proj/core/metadata.py:237-245)
    df = make_df(
        spark,
        [("a", "99999"), ("b", "oops")],
        "id string, v string",
    )
    assert violating_ids(df, IntRange("v", width="int2")) == set()
    # ungated variant still fires on the parseable out-of-range row
    assert violating_ids(df, IntRange("v", width="int2", gated=False)) == {"a"}


@pytest.mark.parametrize(
    "value,p,violates",
    [
        ("123.45", 5, False),  # 3 + 2 = 5
        ("123.45", 4, True),
        ("0.00123", 2, False),  # fraction auto-pass
        ("1234", 4, False),
        ("1234", 3, True),
        ("5.0012", 3, False),  # left 1 + right 2 (leading-zero quirk) = 3 <= 3
        ("1.500", 2, False),  # trailing zeros trimmed: 1 + 1 = 2
        ("-123.4", 4, False),
        ("7.23e-5", 4, False),  # fraction (<1) auto-pass
        ("0", 1, False),  # left=1, right=0
        ("1000", 2, True),  # left=4
    ],
)
def test_precision_cases(spark, value, p, violates):
    df = make_df(spark, [("a", value)], "id string, v string")
    got = violating_ids(df, Precision("v", precision=p))
    assert (got == {"a"}) == violates, f"{value} p={p}"


def test_precision_quirk_5_0012(spark):
    # reference drops leading zeros of the fraction via int():
    # 5.0012 → right digits = len('12') = 2, left = 1 → total 3
    df = make_df(spark, [("a", "5.0012")], "id string, v string")
    assert violating_ids(df, Precision("v", precision=3)) == set()
    assert violating_ids(df, Precision("v", precision=2)) == {"a"}


@pytest.mark.parametrize(
    "value,s,violates",
    [
        ("1.25", 2, False),
        ("1.254", 2, True),
        ("1.250", 2, False),  # trailing zero trimmed
        ("5.0012", 2, False),  # leading-zero quirk: right = 2
        ("7.23e-5", 6, True),  # right = 5 + 2 = 7
        ("7.23e-5", 7, False),
        ("100", 0, False),
        ("abc", 0, False),  # non-numeric → dtype check's problem
        (None, 0, False),
    ],
)
def test_scale_cases(spark, value, s, violates):
    df = make_df(spark, [("a", value)], "id string, v string")
    got = violating_ids(df, Scale("v", scale=s))
    assert (got == {"a"}) == violates, f"{value} s={s}"


def test_scale_on_double_column(spark):
    # numeric columns render via decimal(38,15): deterministic digit math
    df = make_df(
        spark,
        [("a", 1.25), ("b", 1.254), ("c", 100.0), ("d", None)],
        "id string, v double",
    )
    assert violating_ids(df, Scale("v", scale=2)) == {"b"}


def test_range(spark):
    df = make_df(
        spark,
        [("a", 5.0), ("b", -1.0), ("c", 100.5), ("d", None)],
        "id string, v double",
    )
    assert violating_ids(df, Range("v", lo=0, hi=100)) == {"b", "c"}


def test_regex(spark):
    df = make_df(
        spark,
        [("a", "img001"), ("b", "IMG001"), ("c", None)],
        "id string, v string",
    )
    assert violating_ids(df, Regex("v", pattern=r"^img\d+$")) == {"b"}


def test_unique(spark):
    df = make_df(
        spark,
        [("a", "k1", 1), ("b", "k1", 1), ("c", "k2", 1), ("d", "k1", 2)],
        "id string, k string, n int",
    )
    # all members of duplicate groups flagged (pandas duplicated keep=False)
    assert violating_ids(df, Unique(keys=["k", "n"])) == {"a", "b"}


def test_unique_null_keys(spark):
    """NULL-keyed duplicate groups are still duplicates (pandas
    ``duplicated`` treats NaN == NaN; a plain equi-join-back would drop
    them — regression for the null-safe join)."""
    df = make_df(
        spark,
        [("a", None, 1), ("b", None, 1), ("c", None, 2), ("d", "k", 1)],
        "id string, k string, n int",
    )
    assert violating_ids(df, Unique(keys=["k", "n"])) == {"a", "b"}


def test_in_lookup(spark):
    df = make_df(
        spark,
        [("a", "png"), ("b", "bmp"), ("c", "PNG"), ("d", None)],
        "id string, fmt string",
    )
    lu = make_df(spark, [("png",), ("jpeg",), ("webp",)], "fmt string")
    ctx = ValidationContext(lookups={"lu_fmt": lu})
    c = InLookup("fmt", lookup="lu_fmt", lookup_key="fmt")
    # exact-match semantics; case-fixing is the preprocess stage's job
    assert violating_ids(df, c, ctx=ctx) == {"b", "c"}


def test_not_in_existing(spark):
    df = make_df(spark, [("a",), ("b",), ("c",)], "id string")
    existing = make_df(spark, [("b",), ("z",)], "id string")
    ctx = ValidationContext(existing={"prod": existing})
    c = NotInExisting(keys=["id"], existing="prod")
    assert violating_ids(df, c, ctx=ctx) == {"b"}


def test_not_in_existing_null_safe(spark):
    """pandas merge (the reference's dup-vs-production mechanism) matches
    NaN keys to NaN keys — a NULL-keyed incoming row must be flagged when
    the production snapshot has a NULL-keyed row too."""
    df = make_df(
        spark, [("r1", "b"), ("r2", None), ("r3", "c")], "id string, k string"
    )
    existing = make_df(spark, [("b",), (None,)], "k string")
    ctx = ValidationContext(existing={"prod": existing})
    c = NotInExisting(keys=["k"], existing="prod")
    assert violating_ids(df, c, ctx=ctx) == {"r1", "r2"}


def test_subset_of(spark):
    df = make_df(
        spark, [("a", "s1"), ("b", "s2"), ("c", "s3")], "id string, site string"
    )
    other = make_df(spark, [("s1",), ("s3",)], "site string")
    ctx = ValidationContext(existing={"sites": other})
    c = SubsetOf(keys=["site"], other="sites")
    assert violating_ids(df, c, ctx=ctx) == {"b"}


def test_fused_pass_multiple_checks_one_row(spark):
    df = make_df(spark, [("a", None), ("b", "x" * 99)], "id string, v string")
    suite = Suite(
        name="t",
        table="t",
        constraints=[NotNull("v"), MaxLength("v", max_length=5)],
    )
    v = compile_suite(df, suite, row_id_col="id", part_id_col=None)
    rows = {(r["row_id"], r["check_name"]) for r in v.collect()}
    assert rows == {("a", "notnull_v"), ("b", "maxlength_v")}


def test_exclude_columns(spark):
    df = make_df(spark, [("a", None)], "id string, objectid string")
    suite = Suite(
        name="t",
        table="t",
        constraints=[NotNull("objectid")],
        exclude_columns=("objectid",),
    )
    v = compile_suite(df, suite, row_id_col="id", part_id_col=None)
    assert v.count() == 0


def test_violation_schema_and_metadata(spark):
    df = make_df(spark, [("a", None, 3)], "id string, v string, part_id int")
    suite = Suite(name="t", table="images", constraints=[NotNull("v")])
    v = compile_suite(df, suite, row_id_col="id", part_id_col="part_id")
    row = v.collect()[0]
    assert row["table"] == "images"
    assert row["columns"] == "v"
    assert row["error_type"] == "Missing Required Data"
    assert row["is_core_error"] is True
    assert row["severity"] == "error"
    assert row["part_id"] == 3
    assert "requires a value in all rows" in row["error_message"]


# ------------------------------------------------------------- OnlyWhen

def test_only_when_scopes_check_to_condition_rows(spark):
    from smcchecker_spark.constraints import OnlyWhen

    df = make_df(
        spark,
        # (id, fmt, quality): quality required only for jpeg rows
        [("a", "jpeg", None), ("b", "png", None), ("c", "jpeg", "90"),
         ("d", None, None)],
        "id string, fmt string, quality string",
    )
    c = OnlyWhen("fmt = 'jpeg'", NotNull("quality"))
    # NULL condition (row d) = not applicable = pass
    assert violating_ids(df, c) == {"a"}
    assert c.name == "when_notnull_quality"
    assert c.error_type == NotNull("quality").error_type
    assert "applies when fmt = 'jpeg'" in c.message()


def test_only_when_precondition_scoped(spark):
    """IntRange's whole-column parse gate must only consider rows the
    condition selects: an unparseable value OUTSIDE the scope must not
    suppress the check inside it."""
    from smcchecker_spark.constraints import OnlyWhen

    df = make_df(
        spark,
        [("a", "jpeg", "99999"), ("b", "png", "oops")],
        "id string, fmt string, v string",
    )
    c = OnlyWhen("fmt = 'jpeg'", IntRange("v", width="int2"))
    # 'oops' lives on a png row → the jpeg-scoped gate passes → the
    # out-of-range jpeg row fires
    assert violating_ids(df, c) == {"a"}
    # but an unparseable value INSIDE the scope still suppresses it
    df2 = make_df(
        spark,
        [("a", "jpeg", "99999"), ("b", "jpeg", "oops")],
        "id string, fmt string, v string",
    )
    assert violating_ids(df2, c) == set()


def test_only_when_rejects_join_and_nested(spark):
    from smcchecker_spark.constraints import OnlyWhen

    with pytest.raises(TypeError, match="row-level"):
        OnlyWhen("1=1", Unique(["id"]))
    with pytest.raises(TypeError, match="nested"):
        OnlyWhen("1=1", OnlyWhen("2=2", NotNull("v")))


# ---------------------------------------------------- violation sampling

def test_sample_violations_caps_and_counts(spark):
    from smcchecker_spark.run import sample_violations

    df = make_df(
        spark,
        [(str(i), None if i % 2 else "x" * 50) for i in range(2000)],
        "id string, v string",
    )
    suite = Suite(
        name="t", table="t",
        constraints=[NotNull("v"), MaxLength("v", max_length=5)],
    )
    v = compile_suite(df, suite, row_id_col="id", part_id_col=None).persist()
    sampled, counts = sample_violations(v, per_check=100, salt="t")
    assert counts == {"notnull_v": 1000, "maxlength_v": 1000}
    by_check = {
        r["check_name"]: r["n"]
        for r in sampled.groupBy("check_name").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # expected 100 per check; binomial(1000, 0.1) — ±50 is > 5 sigma
    for n in by_check.values():
        assert 50 <= n <= 150, by_check
    # determinism: same input, same salt → identical sample
    again, _ = sample_violations(v, per_check=100, salt="t")
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in sampled.collect()
    }
    # checks under the cap keep everything
    all_kept, _ = sample_violations(v, per_check=5000, salt="t")
    assert all_kept.count() == 2000
    with pytest.raises(ValueError, match="per_check"):
        sample_violations(v, per_check=0)
    v.unpersist()


def test_not_in_existing_scale_flags_same_results(spark):
    """distinct_keys=False and null_safe=False are plan-shape knobs —
    on NOT-NULL unique production keys the violation set is identical."""
    df = make_df(
        spark, [("a", 1), ("b", 2), ("c", 9)], "id string, k int"
    )
    prod = make_df(spark, [(1,), (2,), (5,)], "k int")
    ctx = ValidationContext(existing={"prod": prod})
    default = violating_ids(df, NotInExisting(["k"], "prod"), ctx=ctx)
    scale = violating_ids(
        df,
        NotInExisting(["k"], "prod", distinct_keys=False, null_safe=False),
        ctx=ctx,
    )
    assert default == scale == {"a", "b"}
    # the documented divergence: NULL probe keys match NULL prod keys
    # only under the null-safe default
    df2 = make_df(spark, [("a", None)], "id string, k int")
    prod2 = make_df(spark, [(None,)], "k int")
    ctx2 = ValidationContext(existing={"prod2": prod2})
    assert violating_ids(df2, NotInExisting(["k"], "prod2"), ctx=ctx2) == {"a"}
    assert violating_ids(
        df2, NotInExisting(["k"], "prod2", null_safe=False), ctx=ctx2
    ) == set()


def test_not_in_existing_bloom_prefilter_parity(spark):
    """bloom_bits only prunes the production side map-side — the
    violation set is bit-identical, including null-safe matches and
    multi-key composites."""
    df = make_df(
        spark,
        [("a", 1, "x"), ("b", 2, "y"), ("c", 9, "z"), ("d", None, "x")],
        "id string, k int, s string",
    )
    prod = make_df(
        spark,
        [(1, "x"), (2, "other"), (5, "y"), (None, "x")]
        + [(100 + i, "bulk") for i in range(200)],
        "k int, s string",
    )
    ctx = ValidationContext(existing={"prod": prod})
    plain = violating_ids(df, NotInExisting(["k", "s"], "prod"), ctx=ctx)
    bloomed = violating_ids(
        df, NotInExisting(["k", "s"], "prod", bloom_bits=1 << 12), ctx=ctx
    )
    assert plain == bloomed == {"a", "d"}  # d: null-safe (None,'x') match


def test_monotonic_within(spark):
    from smcchecker_spark.constraints import MonotonicWithin

    df = make_df(
        spark,
        # (id, user, seq, v): u1 regresses at seq 3; u2 is flat (ties ok
        # unless strict); NULL v rows never flag
        [("a", 1, 1, 10.0), ("b", 1, 2, 20.0), ("c", 1, 3, 15.0),
         ("d", 2, 1, 5.0), ("e", 2, 2, 5.0), ("f", 2, 3, None)],
        "id string, user int, seq int, v double",
    )
    c = MonotonicWithin("v", keys=["user"], order_by="seq")
    assert violating_ids(df, c) == {"c"}
    strict = MonotonicWithin("v", keys=["user"], order_by="seq", strict=True)
    assert violating_ids(df, strict) == {"c", "e"}
    assert "must not decrease" in c.message()
    assert c.name == "monotonic_v_by_user"


def test_monotonic_within_ties_do_not_depend_on_input_order(spark):
    """Rows tied on order_by are compared in row-id order, so feeding the
    same group forward and reversed (one partition each, which keeps the
    input order through the window's sort) flags the same rows."""
    from collections import Counter

    from smcchecker_spark.constraints import MonotonicWithin

    # one group, every row at seq 1, values rising with the id
    rows = [(f"r{i}", 1, 1, float(i)) for i in range(6)]
    c = MonotonicWithin("v", keys=["user"], order_by="seq")
    suite = Suite(name="t", table="t", constraints=[c])

    def flagged(order):
        df = make_df(spark, order, "id string, user int, seq int, v double")
        v = compile_suite(
            df.coalesce(1), suite, row_id_col="id", part_id_col=None
        )
        return Counter(r["row_id"] for r in v.collect())

    assert flagged(rows) == flagged(rows[::-1]) == Counter()


# ---------------------------------------------------------------------------
# RobustOutliers — median/MAD data-derived bounds
# ---------------------------------------------------------------------------


def test_robust_outliers_flags_planted(spark):
    from smcchecker_spark.constraints import RobustOutliers

    # 1..9 plus one wild value: median 5, deviations {0..4, 9995},
    # MAD = 2 -> cut 3.5*1.4826*2 = 10.38; only the wild row flags
    rows = [(i, float(i)) for i in range(1, 10)] + [(99, 10000.0), (50, None)]
    df = spark.createDataFrame(rows, "id long, v double").withColumn(
        "part_id", F.lit(0)
    )
    suite = Suite("s", "t", [RobustOutliers("v")])
    out = compile_suite(df, suite, row_id_col="id", part_id_col="part_id")
    assert [r["row_id"] for r in out.collect()] == ["99"]
    r = out.first()
    assert r["error_type"] == "Value out of range"
    assert r["is_core_error"] is False


def test_robust_outliers_mad_zero_and_approx(spark):
    from smcchecker_spark.constraints import RobustOutliers

    # >half identical -> MAD 0 -> nothing flags, even the deviant
    df = spark.createDataFrame(
        [(i, 5.0) for i in range(8)] + [(99, 1e9)], "id long, v double"
    ).withColumn("part_id", F.lit(0))
    suite = Suite("s", "t", [RobustOutliers("v")])
    assert compile_suite(df, suite, row_id_col="id").count() == 0

    # approx mode still catches the extreme point on a spread column
    df2 = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(500)] + [(999, 1e7)],
        "id long, v double",
    ).withColumn("part_id", F.lit(0))
    suite2 = Suite("s", "t", [RobustOutliers("v", approx=True)])
    got = [r["row_id"] for r in compile_suite(df2, suite2, row_id_col="id").collect()]
    assert got == ["999"]


def test_robust_outliers_cli_spec():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rv", "scripts/run_validation.py"
    )
    rv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rv)
    c = rv.build_constraint(
        {"type": "robust_outliers", "column": "v", "k": 4.0, "severity": "warning"}
    )
    assert c.k == 4.0 and c.severity == "warning" and c.column == "v"


def test_robust_outliers_per_key(spark):
    from smcchecker_spark.constraints import RobustOutliers

    # group a: 1..9, outlier at id 90 (1000); group b: 1000x scale where
    # 1000 is NORMAL — a global cut would flag all of b or miss a's
    rows = (
        [(i, "a", float(i)) for i in range(1, 10)]
        + [(90, "a", 1000.0)]
        + [(100 + i, "b", 1000.0 * i) for i in range(1, 10)]
        + [(190, "b", 1000000.0)]
        + [(200, None, 5.0)]
    )
    df = spark.createDataFrame(rows, "id long, k string, v double").withColumn(
        "part_id", F.lit(0)
    )
    suite = Suite("s", "t", [RobustOutliers("v", keys=["k"])])
    out = sorted(
        int(r["row_id"])
        for r in compile_suite(df, suite, row_id_col="id").collect()
    )
    assert out == [90, 190]
    assert RobustOutliers("v", keys=["k"]).name == "robustoutliers_v_by_k"


# ---------------------------------------------------------------------------
# FunctionalDep — cross-row key -> value consistency
# ---------------------------------------------------------------------------


def test_functional_dep_flags_inconsistent_groups(spark):
    from smcchecker_spark.constraints import FunctionalDep

    df = make_df(
        spark,
        # key 1 maps to two countries -> all three rows flag; key 2 is
        # consistent; key 3 is a singleton (trivially consistent)
        [("a", 1, "US"), ("b", 1, "US"), ("c", 1, "DE"),
         ("d", 2, "FR"), ("e", 2, "FR"), ("f", 3, "JP")],
        "id string, k int, country string",
    )
    c = FunctionalDep(keys=["k"], depends=["country"])
    assert violating_ids(df, c) == {"a", "b", "c"}
    assert c.name == "fd_k__country"
    assert "must be constant" in c.message()
    assert c.error_type == "Logic Error"


def test_functional_dep_null_semantics(spark):
    from smcchecker_spark.constraints import FunctionalDep

    df = make_df(
        spark,
        # key 1: deps all NULL -> consistent (NULL == NULL null-safely);
        # key 2: NULL vs value -> genuine conflict, both rows flag;
        # key NULL: NULL keys group together (null-safe join-back) and
        # the group is internally inconsistent -> both rows flag
        [("a", 1, None), ("b", 1, None),
         ("c", 2, None), ("d", 2, "X"),
         ("e", None, "A"), ("f", None, "B")],
        "id string, k int, dep string",
    )
    c = FunctionalDep(keys=["k"], depends=["dep"])
    assert violating_ids(df, c) == {"c", "d", "e", "f"}


def test_functional_dep_multi_column_and_wave_scope(spark):
    from smcchecker_spark.constraints import (
        FunctionalDep, ValidationContext,
    )

    df = make_df(
        spark,
        # multi-col dependent: (lat, lon) must be constant per station
        [("a", "s1", 1.0, 2.0), ("b", "s1", 1.0, 2.0),
         ("c", "s2", 3.0, 4.0), ("d", "s2", 3.0, 5.0)],
        "id string, station string, lat double, lon double",
    )
    c = FunctionalDep(keys=["station"], depends=["lat", "lon"])
    assert violating_ids(df, c) == {"c", "d"}

    # wave mode: the slice only holds ONE member of the inconsistent
    # group — full_scope scoping still flags it (per-slice would not)
    wave = df.filter(F.col("id") == "c")
    ctx = ValidationContext(full_scope=df, shared={})
    assert violating_ids(wave, c, ctx=ctx) == {"c"}
    # the bad-key table is cached for the next wave
    assert any(k[0] == "fd_bad_keys" for k in ctx.shared)


# ---------------------------------------------------------------------------
# JsonShape — semi-structured payload shape
# ---------------------------------------------------------------------------


def test_json_shape(spark):
    from smcchecker_spark.constraints import JsonShape

    df = make_df(
        spark,
        [
            ("a", '{"k": 1, "x": 2}'),   # ok
            ("b", '{"x": 2}'),           # missing required key
            ("c", 'x{"k": 1}'),          # malformed (leading garbage)
            ("d", None),                 # NULL passes (NotNull's job)
            ("e", '{"k": null}'),        # JSON null counts as missing
            ("f", "[1,2]"),              # valid JSON, no keys at all
        ],
        "id string, p string",
    )
    c = JsonShape("p", required_keys=("k",))
    assert violating_ids(df, c) == {"b", "c", "e", "f"}
    assert c.name == "jsonshape_p"
    assert "valid JSON containing keys: k" in c.message()
    # no required keys: only parseability is checked
    assert violating_ids(df, JsonShape("p")) == {"c"}
