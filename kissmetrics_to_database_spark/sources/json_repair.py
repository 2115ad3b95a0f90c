"""Malformed-JSON repair (SURVEY.md S3/F11).

The reference repairs Kissmetrics export lines whose string values
contain unescaped quotes/backslashes before json_decode, and logs &
skips rows that still fail (reference: helpers.php:10-22
``json_decode_sanitize``; failure paths KissmetricsToDatabase.php:
197-199, ProcessFile.php:34-36).

Spark restatement: every non-blank line is parsed ONCE, to a
``map<string,string>`` — the reference's all-varchar warehouse row
(PAPER.md §0 step 3). Spark renders numbers, booleans and nested
values as their JSON text, keeps the last value of a duplicate key
(like PHP ``json_decode``) and yields NULL for a line that is not a
JSON object. Only that NULL reaches the repair: the ``regexp_replace``
pass (Java regex supports the lookarounds the repair needs — a column
expression, not a UDF) sits in the second argument of a ``coalesce``,
which generated code evaluates only when the first argument is NULL,
so well-formed rows never touch the repair logic. Rows that still
fail are counted and quarantined, never dropped silently.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kissmetrics_to_database_spark.functions.events_transform import (
    DERIVED_COLUMNS,
    ident,
    non_blank_lines,
    sanitize_key,
    sql_string,
)

LINE_TYPE = "map<string,string>"

# A quote is "inner" (needs escaping) when it is not already escaped
# and not in a JSON-structural position: not in opening position
# (right after {, [, ',' or ':', allowing spaces) and not in closing
# position (right before }, ], ',' or ':', allowing spaces). This is
# the same bracketing the reference's callback regex uses — it treats
# `"(}|, |,)` as the value terminator and addslashes everything
# inside (helpers.php:12-18). Bounded lookbehind is Java-regex legal;
# DuckDB's RE2 lacks lookbehind, but the oracle replays the identical
# semantics with ANCHORED matches on each quote's prefix/suffix
# substrings (catalog_ext.corrupt_json_repair — hash-exact).
_INNER_QUOTE = r'(?<!\\)(?<![{\[,:] {0,8})"(?!\s*[}\],:])'


# The line with its inner quotes escaped (an escaped quote is the
# replacement), as SQL over the raw line ``value``.
_REPAIRED = "regexp_replace(value, {}, {})".format(
    sql_string(_INNER_QUOTE), sql_string('\\\\"')
)


@dataclass
class RepairedBatch:
    """One parsed batch: its columns (sorted, each with the keys that
    land in it) and counts. :meth:`rows` and ``good`` hold the
    committed rows (clean and repaired) with one string column per
    column; ``quarantined`` holds the raw lines that fail even after
    the repair. All read the persisted parse: call :meth:`unpersist`
    once they are consumed."""

    columns: dict[str, list[str]]
    n_committed: int
    n_repaired: int
    n_quarantined: int
    _parsed: DataFrame

    def rows(self, *extra: str) -> DataFrame:
        """The committed rows, one column per name in one
        ``selectExpr``, then the ``extra`` columns of the parse."""

        def value(keys: list[str]) -> str:
            refs = ", ".join(f"m[{sql_string(k)}]" for k in keys)
            return f"coalesce({refs})" if len(keys) > 1 else refs

        return self._parsed.where("m IS NOT NULL").selectExpr(
            *[f"{value(keys)} AS {ident(name)}" for name, keys in self.columns.items()],
            *extra,
        )

    @property
    def good(self) -> DataFrame:
        """:meth:`rows` flagged by ``was_repaired``."""
        return self.rows("was_repaired")

    @property
    def quarantined(self) -> DataFrame:
        return self._parsed.where("m IS NULL").select("value")

    def unpersist(self) -> None:
        self._parsed.unpersist()


def _last_value_wins(m: str) -> str:
    """The map ``m`` with one entry per key, the last one. A JSON
    object with a duplicate key parses to a map that holds both
    entries, and a lookup returns the first; PHP ``json_decode`` keeps
    the last. Only lines that carry a duplicate pay for the rebuild."""
    last = (
        f"map_from_entries(filter(map_entries({m}), (e, i) -> "
        f"NOT array_contains(slice(map_keys({m}), i + 2, size({m})), e.key)))"
    )
    return f"CASE WHEN size(array_distinct(map_keys({m}))) < size({m}) THEN {last} ELSE {m} END"


def _parse_lines(lines: DataFrame) -> DataFrame:
    """``(m, was_repaired, value)`` per non-blank line of ``lines``
    (column ``value``): ``m`` is the parsed object, NULL when the line
    is quarantined; ``value`` keeps the raw line only then.

    Each projection references the one below it more than once, so
    Catalyst keeps them apart instead of inlining ``from_json`` into
    every reference (CollapseProject never duplicates an expensive
    expression) — the parse runs once per line."""
    return (
        non_blank_lines(lines)
        .selectExpr("value", f"from_json(value, '{LINE_TYPE}') AS _first")
        .selectExpr(
            "value",
            "_first",
            f"coalesce(_first, from_json({_REPAIRED}, '{LINE_TYPE}')) AS _m",
        )
        .selectExpr("value", "_first", f"{_last_value_wins('_m')} AS m")
        .selectExpr(
            "m",
            "_first IS NULL AND m IS NOT NULL AS was_repaired",
            "CASE WHEN m IS NULL THEN value END AS value",
        )
    )


def read_ndjson_with_repair(spark, path_or_df) -> RepairedBatch:
    """Read NDJSON lines (a path, or a DataFrame with column ``value``)
    with a repair pass for corrupt rows.

    Cost model: one scan, one Spark job, no shuffle. The parse
    (:func:`_parse_lines`) is persisted, and a ``noop`` write of one
    row per key of each line fills the cache. An unnamed
    ``Observation`` on that write takes the committed, repaired and
    quarantined counts and the union of the batch's keys over every
    line, so a key first seen on the last line is a column like any
    other. The columns are that union sorted by name; all are
    strings, like the reference's varchar columns.
    """
    lines = (
        path_or_df
        if isinstance(path_or_df, DataFrame)
        else spark.read.text(str(path_or_df))
    )
    parsed = _parse_lines(lines).persist()
    first_of_line = "coalesce(pos, 0) = 0"
    observed = Observation()
    try:
        parsed.selectExpr(
            "m IS NULL AS bad",
            "was_repaired",
            "posexplode_outer(map_keys(m)) AS (pos, key)",
        ).observe(
            observed,
            F.expr(f"count_if({first_of_line} AND NOT bad) AS committed"),
            F.expr(f"count_if({first_of_line} AND was_repaired) AS repaired"),
            F.expr(f"count_if({first_of_line} AND bad) AS quarantined"),
            F.expr("collect_set(key) AS keys"),
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        parsed.unpersist()
        raise
    stats = observed.get
    # Keys that name one lake column land in one column: equal after
    # the P1 sanitize and without case, as Spark resolves names and the
    # reference's MySQL columns compare them. The first in sorted order
    # names it; its value is the first non-NULL of them in that order,
    # row by row. Keys are matched within this batch, not with the lake.
    # A key that names a column the transform derives would lose its
    # values to it, so it lands in ``prop_<that column>`` instead.
    def column(key: str) -> str:
        name = sanitize_key(key).lower()
        return f"prop_{name}" if name in DERIVED_COLUMNS else key

    variants: dict[str, list[str]] = {}
    for k in sorted(stats["keys"], key=lambda k: (column(k), k)):
        variants.setdefault(sanitize_key(column(k)).lower(), []).append(k)
    return RepairedBatch(
        columns={column(keys[0]): keys for keys in variants.values()},
        n_committed=stats["committed"],
        n_repaired=stats["repaired"],
        n_quarantined=stats["quarantined"],
        _parsed=parsed,
    )
