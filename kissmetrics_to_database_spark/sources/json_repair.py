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

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINE_TYPE = T.MapType(T.StringType(), T.StringType())

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


def repair_json_col(col: Column) -> Column:
    """Escape unescaped inner quotes so the value parses."""
    return F.regexp_replace(col, _INNER_QUOTE, '\\\\"')


@dataclass
class RepairedBatch:
    """One parsed batch. ``good`` holds the committed rows (clean and
    repaired, flagged by ``was_repaired``) with one string column per
    key; ``quarantined`` holds the raw lines that fail even after the
    repair. Both read the persisted parse: call :meth:`unpersist` once
    they are consumed."""

    good: DataFrame
    quarantined: DataFrame
    n_committed: int
    n_repaired: int
    n_quarantined: int
    _parsed: DataFrame

    def unpersist(self) -> None:
        self._parsed.unpersist()


def _last_value_wins(m: Column) -> Column:
    """``m`` with one entry per key, the last one. A JSON object with
    a duplicate key parses to a map that holds both entries, and a
    lookup returns the first; PHP ``json_decode`` keeps the last.
    Only lines that carry a duplicate pay for the rebuild."""
    keys = F.map_keys(m)
    last = F.map_from_entries(
        F.filter(
            F.map_entries(m),
            lambda e, i: ~F.array_contains(F.slice(keys, i + 2, F.size(m)), e["key"]),
        )
    )
    return F.when(F.size(F.array_distinct(keys)) < F.size(m), last).otherwise(m)


def _parse_lines(lines: DataFrame) -> DataFrame:
    """``(m, was_repaired, value)`` per non-blank line of ``lines``
    (column ``value``): ``m`` is the parsed object, NULL when the line
    is quarantined; ``value`` keeps the raw line only then.

    Each projection references the one below it more than once, so
    Catalyst keeps them apart instead of inlining ``from_json`` into
    every reference (CollapseProject never duplicates an expensive
    expression) — the parse runs once per line."""
    first = lines.where(F.length(F.trim(F.col("value"))) > 0).select(
        "value", F.from_json("value", LINE_TYPE).alias("_first")
    )
    final = first.select(
        "value",
        "_first",
        F.coalesce(
            F.col("_first"), F.from_json(repair_json_col(F.col("value")), LINE_TYPE)
        ).alias("_m"),
    ).select("value", "_first", _last_value_wins(F.col("_m")).alias("m"))
    return final.select(
        "m",
        (F.col("_first").isNull() & F.col("m").isNotNull()).alias("was_repaired"),
        F.when(F.col("m").isNull(), F.col("value")).alias("value"),
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
    other. The columns are that union sorted by name, each projected
    as ``m[key]``; all are strings, like the reference's varchar
    columns.
    """
    lines = (
        path_or_df
        if isinstance(path_or_df, DataFrame)
        else spark.read.text(str(path_or_df))
    )
    parsed = _parse_lines(lines).persist()
    first_of_line = F.coalesce(F.col("pos"), F.lit(0)) == 0
    observed = Observation()
    parsed.select(
        F.col("m").isNull().alias("bad"),
        "was_repaired",
        F.posexplode_outer(F.map_keys("m")).alias("pos", "key"),
    ).observe(
        observed,
        F.count_if(first_of_line & ~F.col("bad")).alias("committed"),
        F.count_if(first_of_line & F.col("was_repaired")).alias("repaired"),
        F.count_if(first_of_line & F.col("bad")).alias("quarantined"),
        F.collect_set("key").alias("keys"),
    ).write.format("noop").mode("overwrite").save()
    stats = observed.get
    m = F.col("m")
    return RepairedBatch(
        good=parsed.where(m.isNotNull()).select(
            *[m[k].alias(k) for k in sorted(stats["keys"])], "was_repaired"
        ),
        quarantined=parsed.where(m.isNull()).select("value"),
        n_committed=stats["committed"],
        n_repaired=stats["repaired"],
        n_quarantined=stats["quarantined"],
        _parsed=parsed,
    )
