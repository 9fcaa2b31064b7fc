"""Ingest cleaning transforms (SURVEY.md §2.B, reference
core/etl_service.py:659-762).

All row-level, all expressed as built-in column expressions (JVM-side,
codegen-friendly). Each step reports a data-quality issue count the way
the reference logs them; counting is done with aggregates, never
driver-side loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Null sentinels the reference treats as missing on read
# (core/etl_service.py:647) plus the literal-'nan' repair (:704-718).
NULL_SENTINELS = ("", "NULL", "null", "None", "nan")

# Mojibake repairs (core/etl_service.py:704-718): UTF-8 read as cp1252.
MOJIBAKE_MAP = (
    ("â€™", "'"),
    ("â€œ", '"'),
    ("â€\x9d", '"'),
    ("â€", '"'),
)


@dataclass
class CleaningReport:
    """Counts mirroring the reference's data_quality_issues rows."""

    dropped_all_null_rows: int = 0
    null_counts: dict[str, int] = field(default_factory=dict)
    total_rows: int = 0


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


# --- B1: drop rows where every column is null ------------------------------


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    # _line_no (read_delimited(with_line_number=True)) is never null and
    # is not data: it must not keep an otherwise all-null row alive
    data_cols = [c for c in df.columns if c != "_line_no"]
    return df.na.drop(how="all", subset=data_cols)


# --- B2: per-column null profiling (single aggregate pass) -----------------


def profile_nulls(df: DataFrame) -> dict[str, int]:
    row = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in df.columns]
    ).collect()[0]
    return {c: int(row[c] or 0) for c in df.columns}


# --- B3: whitespace trim on all string columns -----------------------------


def trim_strings(df: DataFrame) -> DataFrame:
    return df.select(
        *[
            F.trim(F.col(c)).alias(c) if c in set(_string_cols(df)) else F.col(c)
            for c in df.columns
        ]
    )


# --- B4: mojibake repair + literal-sentinel → NULL --------------------------


def repair_mojibake_expr(c: Column) -> Column:
    out = c
    for bad, good in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def normalize_sentinels_expr(c: Column) -> Column:
    """Empty string / 'nan'-family literals → NULL."""
    t = F.trim(c)
    return F.when(t.isNull() | (t == "") | F.lower(t).isin("nan", "null", "none"), F.lit(None).cast("string")).otherwise(c)


def repair_text(df: DataFrame) -> DataFrame:
    cols = set(_string_cols(df))
    return df.select(
        *[
            normalize_sentinels_expr(repair_mojibake_expr(F.col(c))).alias(c)
            if c in cols
            else F.col(c)
            for c in df.columns
        ]
    )


# --- B6: schema-cast with try_cast (type "detection" made explicit) --------


def cast_columns(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast string-ingested columns to declared types; unparseable
    values become NULL (Spark try_cast) rather than SQLite's 0."""
    return df.select(
        *[
            F.col(c).try_cast(types[c]).alias(c) if c in types else F.col(c)
            for c in df.columns
        ]
    )


# --- B7: audit-column stamping ----------------------------------------------


def stamp_audit_columns(df: DataFrame, loaded_at=None) -> DataFrame:
    ts = F.lit(loaded_at).cast("timestamp") if loaded_at else F.current_timestamp()
    return df.withColumn("etl_loaded_at", ts).withColumn("etl_updated_at", ts)


# --- full pipeline -----------------------------------------------------------


def clean(df: DataFrame, collect_report: bool = False) -> tuple[DataFrame, CleaningReport]:
    """B1→B4 pipeline as one lazy chain.

    ``collect_report=True`` adds two counting actions (the reference
    logs these per file); leave False in hot paths to stay one-pass.
    """
    report = CleaningReport()
    if collect_report:
        report.total_rows = df.count()
    dropped = drop_all_null_rows(df)
    if collect_report:
        kept = dropped.count()
        report.dropped_all_null_rows = report.total_rows - kept
        report.null_counts = profile_nulls(dropped)
    out = repair_text(trim_strings(dropped))
    return out, report
