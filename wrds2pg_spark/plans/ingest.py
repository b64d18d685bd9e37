"""The ingest transform chain — the reference's generated SAS data step
(wrds2pg/sas/codegen.py:128-150) re-expressed as declarative DataFrame
transforms.

Operation order mirrors the reference's dataset-option semantics:

1. lower-case all column names (canonicalization everywhere in the
   reference: copy.py:33, metadata.py:183,247, api.py:615)
2. ``obs`` first-N limit — applied on the *input*, upstream of the
   where filter, as SAS applies ``obs=`` on the ``set`` statement
   (codegen.py:47-50; doc api.py:99-102).  The ETL entry points hand
   ``obs`` to ``update.read_source`` instead, which caps a sas7bdat
   decode in place of a Spark limit
3. ``drop`` / ``keep`` projection with ``prefix:`` wildcards
   (codegen.py:52-60)
4. ``rename`` old=new pairs (codegen.py:35-38)
5. ``where`` predicate — sees post-rename names, as a SAS ``where``
   statement inside the data step does (codegen.py:62-65,137)
6. ``fix_missing`` — SAS special missing values (.A-.Z, ._) to null
   (codegen.py:117-124); a typed-ingest no-op for already-numeric
   columns, real work for the raw-CSV source (sources/csv.py)
7. ``col_types`` casts — user PG-type overrides applied on top of
   inferred types (metadata.py:250-252)

Every step is a Catalyst-visible transform: projection pruning,
predicate pushdown, and limit pushdown all reach the file scan, which
is the Spark-native equivalent of the reference pushing these options
into the SAS source (SURVEY §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrds2pg_spark.plans.options import (
    expand_col_spec,
    parse_rename,
    translate_where,
)
from wrds2pg_spark.plans.types import spark_type_for_pg

__all__ = ["IngestOptions", "apply_options", "SAS_SPECIAL_MISSING"]

# SAS special missing values as they appear in exported CSV text:
# a lone letter A-Z or underscore (codegen.py:117-124 collapses them
# server-side when fix_missing=True; we normalize engine-side).
SAS_SPECIAL_MISSING = [*"ABCDEFGHIJKLMNOPQRSTUVWXYZ", "_", "."]


@dataclass
class IngestOptions:
    """Mirror of the reference's ``wrds_update(...)`` kwarg surface
    (wrds2pg/api.py:37-150), minus the transport-only knobs."""

    keep: str | None = None
    drop: str | None = None
    rename: str | None = None
    where: str | None = None
    obs: int | None = None
    fix_missing: bool = False
    fix_cr: bool = False
    col_types: dict[str, str] = field(default_factory=dict)


def _lower_columns(df: DataFrame) -> DataFrame:
    lowered = [c.lower() for c in df.columns]
    if lowered == list(df.columns):
        return df
    return df.toDF(*lowered)


def _clean_numeric_string(col: Column) -> Column:
    """String column holding SAS numeric CSV output -> null out special
    missing letters so a later cast is clean."""
    trimmed = F.trim(col)
    return F.when(
        trimmed.isin(SAS_SPECIAL_MISSING) | (trimmed == ""), F.lit(None)
    ).otherwise(col)


def apply_options(df: DataFrame, opts: IngestOptions) -> DataFrame:
    """Apply the full SAS-option chain to a DataFrame (any source)."""
    df = _lower_columns(df)

    if opts.obs is not None:
        df = df.limit(int(opts.obs))

    if opts.drop:
        to_drop = [c for c in expand_col_spec(opts.drop, df.columns)
                   if c in df.columns]
        if to_drop:
            df = df.drop(*to_drop)
    if opts.keep:
        df = df.select(*expand_col_spec(opts.keep, df.columns))

    renames = parse_rename(opts.rename)
    if renames:
        df = df.withColumnsRenamed(renames)

    where_sql = translate_where(opts.where)
    if where_sql:
        df = df.filter(where_sql)

    if opts.fix_cr:
        # strip CR/LF inside character fields (codegen.py:18-28);
        # fix_cr implies fix_missing in the reference (codegen.py:19)
        opts = IngestOptions(**{**opts.__dict__, "fix_missing": True})
        for f_ in df.schema.fields:
            if f_.dataType.typeName() == "string":
                df = df.withColumn(
                    f_.name,
                    F.regexp_replace(F.col(f_.name), "[\\r\\n]", " "),
                )

    if opts.fix_missing:
        # For typed sources special missings are already null; only
        # string columns destined for a numeric cast need scrubbing.
        numeric_targets = {
            k.lower()
            for k, v in opts.col_types.items()
            if spark_type_for_pg(v).typeName() != "string"
        }
        for f_ in df.schema.fields:
            if f_.dataType.typeName() == "string" and f_.name in numeric_targets:
                df = df.withColumn(f_.name, _clean_numeric_string(F.col(f_.name)))

    for name, pg_type in opts.col_types.items():
        name = name.lower()
        if name not in df.columns:
            continue
        target = spark_type_for_pg(pg_type)
        src_type = df.schema[name].dataType
        if src_type == target:
            continue
        col = F.col(name)
        if target.typeName() == "boolean" and src_type.typeName() != "string":
            # reference overrides 0/1 numerics to boolean
            # (wrds_update_test.ipynb cell 1)
            col = col.cast("int").cast("boolean")
        else:
            col = col.cast(target)
        df = df.withColumn(name, col)

    return df
