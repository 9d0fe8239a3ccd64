"""Registry hygiene for ``__spark_entry__`` — guards the driver contract.

The correctness driver canonicalizes every query output with pandas
``sort_values`` over all columns; a raw ``array<...>`` / ``map<...>``
column crashes it with ``TypeError: unhashable type: 'list'`` (this
killed ``quantize_embeddings`` in round 2). These tests make that class
of regression impossible to land silently: every ``queries()`` entry
must produce a schema of sortable scalar columns only, and every
``oracle_sql()`` key must name a registered query.
"""

import os
import sys

import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

# Types the driver's pandas canonicalizer can sort/hash. Binary is fine
# (bytes are hashable); nested containers are not.
_SCALAR_TYPES = (
    T.StringType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BinaryType,
)


def test_oracle_keys_subset_of_queries():
    qs = set(entry_mod.queries())
    extra = set(entry_mod.oracle_sql()) - qs
    assert not extra, f"oracle_sql keys without a queries() entry: {sorted(extra)}"


def test_registry_window_prioritizes_unchecked():
    # The driver samples the first 50 entries; keep the registry large
    # enough that ordering matters and free of duplicate names.
    names = list(entry_mod.queries())
    assert len(names) == len(set(names))
    assert len(names) >= 50


#: The only registry entries allowed in the driver window WITHOUT a
#: value oracle: sketch internals (t-digest centroid merges, HLL
#: registers) that are genuinely not SQL-expressible. Both have green
#: exact-regime value-checked siblings (tdigest_exact_quantiles,
#: column_stats_smallndv) and property tests; the round-4 verdict asks
#: them INTO the r5 window so their rows-only freshness is re-confirmed
#: (no registry row older than two rounds). Anything else in the window
#: without an oracle is a hygiene failure.
INHERENT_ROWS_ONLY = {"tdigest_quantiles", "column_stats_approx"}


def test_driver_window_fully_oracle_backed():
    """Every entry in the driver's 50-entry window must carry a value
    oracle, except the explicit INHERENT_ROWS_ONLY allowlist (re-windowed
    per the round-4 verdict for rows-only freshness). A window slot
    without an oracle otherwise wastes the strongest per-round signal."""
    names = list(entry_mod.queries())[:50]
    oracles = entry_mod.oracle_sql()
    missing = [
        n for n in names if n not in oracles and n not in INHERENT_ROWS_ONLY
    ]
    assert missing == [], (
        f"driver-window entries without oracle_sql: {missing}"
    )
    # the allowlist is for window freshness — it must actually be there
    assert INHERENT_ROWS_ONLY <= set(names)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_output_schema_is_scalar_only(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)  # lazy: builds the plan, no collect of rows
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not isinstance(f.dataType, _SCALAR_TYPES)
    ]
    assert not bad, (
        f"{name} emits non-scalar column(s) {bad} — the driver's pandas "
        "canonicalizer cannot sort these; stringify (concat_ws/to_json) "
        "or explode before returning"
    )


def test_table_read_memo(spark, tmp_path, spark_jobs):
    """A table's second read takes the memoized schema and starts no
    Spark job; a rewritten file is read with its new schema."""
    import pandas as pd

    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(path)
    assert entry_mod._t(spark, str(tmp_path), "t").columns == ["a"]
    with spark_jobs("test_table_read_memo") as jobs:
        again = entry_mod._t(spark, str(tmp_path), "t")
    assert jobs == [] and again.columns == ["a"]

    pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]}).to_parquet(path)
    df = entry_mod._t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]
