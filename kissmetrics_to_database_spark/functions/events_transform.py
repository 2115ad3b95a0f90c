"""Kissmetrics event-row transforms (SURVEY.md §2.2 P1-P7, §2.7).

The reference transforms every ingested NDJSON row in PHP, one row at
a time (reference: src/Operations/ProcessFile.php:24-46,
src/KissmetricsToDatabase.php:264-352). Here each step is a pure
column expression / DataFrame function, so the whole pipeline is one
Catalyst plan: a single parquet/json scan feeding a projection, fully
codegen'd, no shuffle.

Determinism contract (FIXTURES.md):
- epoch formatting is UTC (session TZ pinned in session.py);
- ``md5hash`` concatenates values in an explicitly declared column
  order (the ingest schema order), empty string for NULLs, no
  separator — matching the reference's ``implode('', $values)``
  (KissmetricsToDatabase.php:293);
- ``created_at`` is an injected constant in tests, ``current_date()``
  in production.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reserved Kissmetrics keys (SURVEY.md §1.3).
PERSON_KEY = "_p"
ALIAS_KEY = "_p2"
EVENT_NAME_KEY = "_n"
EPOCH_KEY = "_t"

# The columns the transform derives for every row (P2, P5, P6).
DERIVED_COLUMNS = ("_n_not_null", "md5hash", "created_at")


def sanitize_key(name: str) -> str:
    """P1/F7: column-name sanitize — ``-``, space, ``_`` → ``_``.

    Reference: helpers.php:28-35 (str_replace(['-', ' ', '_'], '_')).
    Driver-side (schemas are metadata, not data): renaming columns is
    free in Spark.
    """
    return re.sub(r"[- _]", "_", name)


# The transform is built as SQL text and applied with one ``selectExpr``
# per projection: one analysis on the JVM and one py4j call each,
# where a ``Column`` object per column and per operator costs a call
# apiece. Every name a batch brings is dynamic, so each goes through
# ``ident`` or ``sql_string``, never into the text as it is.


def ident(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, inner backticks
    doubled, so dots, quotes and backticks are part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a SQL string literal (backslashes and quotes
    escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _with_columns(select: dict[str, str], new: dict[str, str]) -> dict[str, str]:
    """``select`` (output name → SQL expression) after ``withColumn``
    of each ``new`` entry: a column of that name (matched without
    case, as Spark resolves it) is replaced in place, others are
    appended. The ``new`` expressions read the input columns, not each
    other."""
    out = {}
    for name, expr in select.items():
        hit = next((n for n in new if n.lower() == name.lower()), None)
        out[hit or name] = new[hit] if hit else expr
    return out | {n: e for n, e in new.items() if n not in out}


def _select(df: DataFrame, select: dict[str, str]) -> DataFrame:
    return df.selectExpr(*[f"{e} AS {ident(n)}" for n, e in select.items()])


def _with(df: DataFrame, new: dict[str, str]) -> DataFrame:
    """``df.withColumns`` of SQL-text columns, in one ``selectExpr``."""
    return _select(df, _with_columns({c: ident(c) for c in df.columns}, new))


def _sanitized(columns: list[str]) -> dict[str, str]:
    """P1: each sanitized name → the first raw column that sanitizes to
    it. The monolith keeps the first occurrence when two raw keys
    sanitize to the same name (KissmetricsToDatabase.php:204-210)."""
    out: dict[str, str] = {}
    for c in columns:
        out.setdefault(sanitize_key(c), ident(c))
    return out


def _event_name(name: str, e: str) -> dict[str, str]:
    """P2+P3: the raw event name ``e`` kept as ``_n_not_null``, then
    empties NULLed in column ``name``. Reference: ProcessFile.php:40
    (``_n_not_null``), KissmetricsToDatabase.php:281-286
    (``_n = '' → NULL``)."""
    return {
        "_n_not_null": f"coalesce({e}, '')",
        name: f"CASE WHEN {e} = '' THEN NULL ELSE {e} END",
    }


def _formatted_epoch(e: str) -> str:
    """P4/F9: unix-seconds → ``yyyy-MM-dd HH:mm:ss`` string, UTC.
    Reference: KissmetricsToDatabase.php:289-291 (``date('Y-m-d H:i:s', $_t)``)."""
    return f"date_format(from_unixtime(CAST({e} AS BIGINT)), 'yyyy-MM-dd HH:mm:ss')"


def _fingerprint(exprs: list[str]) -> str:
    """P5/F1/F3: md5 of all values concatenated in declared order.

    Reference: KissmetricsToDatabase.php:293 —
    ``md5(implode('', $raw_query_values))``. NULLs contribute '' (the
    reference substitutes the literal string before imploding), and the
    reference uses no separator (collision-prone but kept for
    fidelity). ``concat_ws`` skips NULLs, which matches.
    """
    return "md5(concat_ws(''" + "".join(f", CAST({e} AS STRING)" for e in exprs) + "))"


def _load_date(fixed_date: str | None) -> str:
    """P6/F10: ``created_at`` load date. Reference: FileImporter.php:82-85
    (``date('Y-m-d')`` at insert time). ``fixed_date`` pins it for
    tests (FIXTURES.md determinism)."""
    return f"to_date({sql_string(fixed_date)})" if fixed_date else "current_date()"


def sanitize_columns(df: DataFrame) -> DataFrame:
    """Rename every column by :func:`sanitize_key`, keeping the first
    of two raw columns that sanitize to the same name."""
    return _select(df, _sanitized(df.columns))


def with_n_not_null(df: DataFrame, event_name_col: str = EVENT_NAME_KEY) -> DataFrame:
    """Add ``_n_not_null`` and NULL out empty event names (P2+P3)."""
    return _with(df, _event_name(event_name_col, ident(event_name_col)))


def with_formatted_t(df: DataFrame, epoch_col: str = EPOCH_KEY) -> DataFrame:
    """Replace the raw epoch column with its formatted form (P4)."""
    return _with(df, {epoch_col: _formatted_epoch(ident(epoch_col))})


def with_fingerprint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Add the ``md5hash`` fingerprint over ``cols`` (default: all, in
    schema order — the declared ingest order)."""
    cols = cols if cols is not None else list(df.columns)
    return _with(df, {"md5hash": _fingerprint([ident(c) for c in cols])})


def with_load_date(df: DataFrame, fixed_date: str | None = None) -> DataFrame:
    """Add the ``created_at`` load-date column (P6)."""
    return _with(df, {"created_at": _load_date(fixed_date)})


def non_blank_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """P7/F6: drop blank lines from a ``spark.read.text`` scan.

    Reference: ProcessFile.php:28-31, KissmetricsToDatabase.php:188-190.
    """
    return df.where(f"length(trim({ident(col)})) > 0")


def transform_events(
    df: DataFrame,
    fingerprint_cols: list[str] | None = None,
    fixed_date: str | None = None,
) -> DataFrame:
    """The full per-row transform pipeline (§3.1 restated in Spark).

    sanitize keys → _n_not_null/_n-null → _t format, in one projection
    of ``df``; then md5hash over its output (the transformed values)
    and created_at, in a second. Narrow, no shuffle; Catalyst collapses
    both into the scan.
    """
    out = _sanitized(df.columns)
    if EVENT_NAME_KEY in out:
        out = _with_columns(out, _event_name(EVENT_NAME_KEY, out[EVENT_NAME_KEY]))
    if EPOCH_KEY in out:
        out = _with_columns(out, {EPOCH_KEY: _formatted_epoch(out[EPOCH_KEY])})
    out = _select(df, out)
    cols = fingerprint_cols if fingerprint_cols is not None else out.columns
    return _with(
        out,
        {
            "md5hash": _fingerprint([ident(c) for c in cols]),
            "created_at": _load_date(fixed_date),
        },
    )


def decayed_user_features(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_s: int = 7 * 86400,
    ndigits: int = 6,
) -> DataFrame:
    """Per-user exponentially time-decayed activity features — the
    standard recency-weighted signals a ranking/abuse model consumes:
    each event contributes ``value * 0.5^(age / half_life)`` with age
    measured from the user's LATEST event.

    Two aggregations sharing one user-keyed partitioning: max-ts per
    user joins back onto the rows on the same key (co-partitioned —
    no second full shuffle of the fact side; AQE broadcasts the
    skinny per-user table when it fits), then one map-side-combinable
    sum. No window function, no per-user sort. The anchor-at-max-ts
    form is deliberate: the algebraic single-pass rewrite
    (``0.5^(T/τ)·Σ v·2^(t/τ)``) overflows doubles once the corpus
    spans ~1000 half-lives, so the two-pass join is the one that
    survives decades of data.

    Returns (user, n_events, decayed_value, last_seen_epoch).
    """
    # micros → fractional seconds: identical IEEE division on both
    # engines (unix_timestamp would truncate sub-second parts and
    # DuckDB's epoch() wouldn't — micro-anchoring keeps them equal)
    us = F.unix_micros(F.col(ts_col)).cast("double") / F.lit(1000000.0)
    base = df.where(
        F.col(user_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(user_col), us.alias("_s"), F.col(value_col).cast("double").alias("_v"))
    last = base.groupBy(user_col).agg(F.max("_s").alias("_last"))
    decay = F.pow(F.lit(0.5), (F.col("_last") - F.col("_s")) / F.lit(float(half_life_s)))
    return (
        base.join(last, user_col)
        .groupBy(user_col)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(F.col("_v") * decay), ndigits).alias("decayed_value"),
            F.floor(F.max("_s")).cast("long").alias("last_seen_epoch"),
        )
    )
