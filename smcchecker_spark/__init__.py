"""smcchecker_spark — a PySpark-native schema + constraint validation engine.

A from-scratch reimplementation of the validation semantics of
SCCWRP/smcchecker (reference at /root/reference) as a declarative
constraint DSL compiled to Spark DataFrame expressions and Arrow-batched
pandas UDFs, designed for 10^12-row image+caption tables:

- one multi-constraint pass per table scan: every check is one boolean
  flag of a single projection (see ``compile.py``); join-based checks
  (uniqueness, referential integrity, dup-vs-production) flag through
  broadcast / AQE-planned hash probes inside that same pass,
- column stats (null rate, min/max, HLL ndv, approx quantiles, histograms)
  and KS/PSI distribution-drift checks (``stats.py``),
- Arrow-batched image payload validation (decode, w/h/fmt/phash, PSNR)
  (``image.py`` + pure-numpy codecs in ``imagecodec.py``),
- per-partition pass/fail verdicts + lineage/metrics rows with
  checkpoint/resume at partition granularity (``checkpoint.py``, ``run.py``),
- salted repartitioning helpers for skewed keys (``skew.py``),
- a table-format seam — hive-partitioned parquet stand-in with the same
  source-pruning behavior, plus the Iceberg adapter the production
  cluster fills in (``tables.py``).

Reference semantics citations (file:line into /root/reference) live in the
docstrings of each module. No code is copied from the reference — it is a
single-node pandas/Flask app; this engine is Spark-first by design.
"""

from smcchecker_spark.constraints import (  # noqa: F401
    Constraint,
    Dtype,
    InLookup,
    IntRange,
    MaxLength,
    MonotonicWithin,
    RobustOutliers,
    NotInExisting,
    NotNull,
    OnlyWhen,
    Precision,
    Range,
    Regex,
    Scale,
    Suite,
    Unique,
)
from smcchecker_spark.compile import compile_suite  # noqa: F401
from smcchecker_spark.vector import (  # noqa: F401
    VectorFinite,
    VectorNormRange,
    VectorShape,
)
from smcchecker_spark.run import ValidationRunner  # noqa: F401
from smcchecker_spark.stats import (  # noqa: F401
    Expectation,
    check_expectations,
    suggest_expectations,
)
from smcchecker_spark.tables import (  # noqa: F401
    IcebergTable,
    ParquetTable,
    resume_filter,
)

__version__ = "0.1.0"
