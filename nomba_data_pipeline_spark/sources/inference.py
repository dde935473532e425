"""Schema-inference parity helper (S7).

Reproduces the reference's custom JSON schema inference
(reference base_loader.py:867-993) where its semantics differ from
Spark's native `spark.read.json` inference:

  * sample <= 1000 lines (:894)                -> samplingRatio / limit
  * union of keys across rows (:911-912)       -> Spark native
  * per-column type vote over first 100 values (:920-933) and mixed
    types degrade to String (:935-938)         -> implemented here
    (`_mixed_type_vote`): Spark's native inference silently WIDENS
    mixed numerics (int+float -> double) and stringifies other
    conflicts; the reference instead flags ANY type mix — including
    int+float and bool+int — and stores the column as String. A
    drifting JSON feed is exactly when the two diverge.
  * regex date/datetime detection with >80% vote over 20 samples
    (:941-954)                                  -> implemented here
  * dict/list -> JSON string (:963-964)         -> optional flattening off,
    `to_json` applied for parity mode

The result is a `StructType` you can pass to `spark.read.schema(...)`
so production reads never pay inference cost twice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}")
DATE_VOTE_THRESHOLD = 0.8  # reference base_loader.py:951 ("> 80%")
DATE_VOTE_SAMPLE = 20  # reference base_loader.py:949


TYPE_VOTE_SAMPLE = 100  # reference base_loader.py:922 ("first 100 values")


def _quote(name: str) -> str:
    """Backtick-quote a column name for F.col (doubling any embedded
    backticks), so JSON keys containing '.' resolve as plain columns."""
    return "`" + name.replace("`", "``") + "`"


def _json_value_type(v) -> str:
    """The reference's type taxonomy for a parsed JSON value
    (base_loader.py:922-933). bool is tested before int — Python bools
    ARE ints, and the reference treats a true/1 mix as a conflict."""
    if isinstance(v, dict):
        return "object"
    if isinstance(v, list):
        return "array"
    if isinstance(v, str):
        return "string"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return "other"


def _mixed_type_columns(lines: list[str]) -> set[str]:
    """Columns whose first TYPE_VOTE_SAMPLE non-null values span more
    than one JSON type — these degrade to String (base_loader.py:935-938)
    instead of Spark's silent numeric widening."""
    import json

    per_col: dict[str, list] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            parsed = json.loads(line)
        except ValueError:
            continue
        rows = parsed if isinstance(parsed, list) else [parsed]
        for row in rows:
            if not isinstance(row, dict):
                continue
            for k, v in row.items():
                if v is not None:
                    per_col.setdefault(k, []).append(v)
    return {
        col
        for col, values in per_col.items()
        if len({_json_value_type(v) for v in values[:TYPE_VOTE_SAMPLE]}) > 1
    }


def infer_stage_schema(
    spark: SparkSession,
    path: str,
    sample_lines: int = 1000,
    stringify_nested: bool = True,
) -> T.StructType:
    """Infer a schema from a staged JSON path with reference parity rules."""
    # honor the <=N-line sampling contract BEFORE parsing: reading the
    # path with spark.read.json would infer over the whole file (a
    # .limit() after the read only bounds the date vote, not inference)
    lines = [r.value for r in spark.read.text(path).limit(sample_lines).collect()]
    sampled = spark.read.option("mode", "PERMISSIVE").json(
        spark.sparkContext.parallelize(lines or ["{}"])
    )
    mixed = _mixed_type_columns(lines)
    schema = sampled.schema
    fields: list[T.StructField] = []
    for f in schema.fields:
        dt = f.dataType
        if f.name in mixed:
            # reference: any type mix -> String, no date vote
            fields.append(T.StructField(f.name, T.StringType(), True))
            continue
        if stringify_nested and isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
            # reference: dict/list -> JSON string (base_loader.py:963-964)
            fields.append(T.StructField(f.name, T.StringType(), True))
            continue
        if isinstance(dt, T.StringType):
            dt = _date_vote(sampled, f.name)
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def _date_vote(df: DataFrame, col: str) -> T.DataType:
    """>80% of up-to-20 non-null samples matching the date/datetime regex
    promotes the string column (reference base_loader.py:941-954)."""
    # backtick-quoted reference: a JSON key containing '.' would
    # otherwise be parsed as nested-field access and fail analysis
    c = F.col(_quote(col))
    samples = [
        r[0] for r in df.select(c).filter(c.isNotNull()).limit(DATE_VOTE_SAMPLE).collect()
    ]
    if not samples:
        return T.StringType()
    n = len(samples)
    dt_hits = sum(1 for s in samples if isinstance(s, str) and DATETIME_RE.match(s))
    d_hits = sum(1 for s in samples if isinstance(s, str) and DATE_RE.match(s))
    if dt_hits / n > DATE_VOTE_THRESHOLD:
        return T.TimestampType()
    if d_hits / n > DATE_VOTE_THRESHOLD:
        return T.DateType()
    return T.StringType()
