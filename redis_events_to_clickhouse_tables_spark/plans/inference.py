"""Batch schema inference for dynamic JSON events (reference parity: D1).

The reference infers a per-batch relational schema from raw JSON rows
(clickhouse-batch-client.class.ts:398-448) with these value rules
(src/utils.ts:3-11, SURVEY §1.2):

- string matching ``^([0-9]{2}([0-9]{2})?[/-])+`` AND datetime-parseable
  -> DateTime64(6)  (here: TimestampType, parsed as UTC per
  src/dayjs-utc.ts:6-15)
- non-integer number -> Float64 (DoubleType); integer -> Int64 (LongType)
- boolean -> UInt8 (BooleanType)
- anything else -> String

**Documented deviation (G2/G3):** the reference's batch schema is the
column-set union (G2) typed from the *first* row that defines each column
(G3, `firstFoundValuePerColumn`) and never re-examines later rows
(clickhouse-batch-client.class.ts:406-423) — order-dependent, and a
conflicting later row can fail the INSERT. We infer from **all** rows
of the batch (order-insensitive, strictly safer): JSON structure via
Spark's distributed JSON reader, then a single aggregate pass that
decides, per string column, whether every non-null value is a
date-string. Conflicting types merge by the widening lattice in
plans/evolution.py (numeric/bool ⊔ string -> string, matching the
reference's only sanctioned widening, D4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the reference's date-sniff regex (src/utils.ts:5): leading group(s) of
# 2-or-4 digits each followed by '/' or '-'. "2024-12-01" and
# "02/02/2045" match; "2034 12 01" does not (space breaks it).
DATE_STRING_REGEX = r"^([0-9]{2}([0-9]{2})?(/|-))+"

# formats dayjs accepts that Spark's default cast does not
_EXTRA_TS_FORMATS = ("MM/dd/yyyy", "MM-dd-yyyy")


def sniff_timestamp(col: Column) -> Column:
    """Parse a date-string the way the reference does (UTC-assumed).

    Returns NULL when the value doesn't parse — callers combine with
    the regex to decide column-level typing.
    """
    attempts = [F.try_to_timestamp(col)]
    for fmt in _EXTRA_TS_FORMATS:
        attempts.append(F.try_to_timestamp(col, F.lit(fmt)))
    return F.coalesce(*attempts)


def _is_date_string(col: Column) -> Column:
    # CASE short-circuit: the cheap regex rejects most strings before
    # the 3-format try_to_timestamp cascade ever runs — on a typical
    # batch almost no string column is date-like, so the inference
    # scan stays regex-cost, not parser-cost
    return F.when(~col.rlike(DATE_STRING_REGEX), F.lit(False)).otherwise(
        sniff_timestamp(col).isNotNull()
    )


def parse_events(spark: SparkSession, raw: DataFrame, json_col: str = "value") -> DataFrame:
    """Raw JSON strings -> typed (possibly nested) DataFrame.

    Structure + numeric/bool typing come from Spark's distributed JSON
    schema inference (long/double/boolean/string — the same rules as
    the reference's typeof dispatch); date-string refinement happens
    after flattening (see streaming/normalize.py) so nested leaves get
    the same treatment as top-level ones.

    Fast path: hand the single string column to the JVM's
    ``DataFrameReader.json(Dataset[String])`` overload directly —
    inference and parsing stay entirely JVM-side. The public PySpark
    signature only accepts an RDD[str], which round-trips every row
    through Python pickling; that path is kept as the fallback.
    """
    try:
        jds = getattr(raw.select(json_col)._jdf, "as")(
            spark._jvm.org.apache.spark.sql.Encoders.STRING()
        )
        return DataFrame(spark._jsparkSession.read().json(jds), spark)
    except Exception:  # py4j surface changed: use the public API
        rdd = raw.select(json_col).rdd.map(lambda r: r[0])
        return spark.read.json(rdd)
