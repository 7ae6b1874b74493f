"""Regex tokenize projection + datetime repair/parse (SURVEY.md §2 O4-O8).

The reference parses each line with a compiled case-insensitive regex and
projects capture groups into a ``Tokens`` map (ref: core/parser.go:64-80).
We express the same thing as one ``select`` of ``regexp_extract`` columns —
a per-sensor StructType instead of an opaque map, so column pruning and
whole-stage codegen apply. Non-matching lines are dropped by an ``rlike``
prefilter (the analog of the group-count check at core/parser.go:65).

Datetime handling:
- year-injection repair (ref: core/parser.go:55-62,71-74): sshd timestamps
  carry no year; if the token has no plausible year, prepend the plan's
  pinned year.
- parse with the translated JDK pattern (ref: core/sensor.go:98-101);
  unparseable datetimes yield NULL ``created_at`` instead of killing the
  query — the error side channel (O29) routes them to quarantine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from takuan_spark.config import ParserSpec

#: plausible-year window used by the repair, mirroring hasYear's
#: currYear-5..currYear scan (ref: core/parser.go:55-62).
_YEAR_WINDOW = 5


def year_pattern(year: int) -> str:
    years = "|".join(str(y) for y in range(year - _YEAR_WINDOW, year + 1))
    return f"({years})"


def inject_year(dt: Column, year: int) -> Column:
    """Prepend ``year`` when the datetime token lacks a plausible year."""
    return F.when(
        dt.rlike(year_pattern(year)), dt
    ).otherwise(F.concat(F.lit(str(year)), F.lit(" "), dt))


def squeeze_spaces(c: Column) -> Column:
    """Normalize runs of spaces to one — makes Go's space-padded ``_2``
    day-of-month parse with a plain JDK ``d``."""
    return F.regexp_replace(c, r" +", " ")


def tokenize(lines: DataFrame, parser: ParserSpec) -> DataFrame:
    """Project each log line (column ``value``) into named token columns,
    keeping the raw line as ``payload``.

    regex kind: one `regexp_extract` per token over the same pattern —
    Catalyst dedupes the regex compilation, and the leading `rlike`
    filter drops non-matching lines before any extraction work survives
    pruning. json kind: `get_json_object` per token path; lines that are
    not JSON or miss a mandatory field are dropped (the same "parse
    gate" semantics, ref: core/parser.go:65).
    """
    line = F.col("value")
    if parser.kind == "json":
        cols = [
            F.get_json_object(line, parser.json_path(name)).alias(name)
            for name in sorted(parser.tokens)
        ]
        out = lines.select(line.alias("payload"), *cols)
        gate = F.col("address").isNotNull() & F.col("datetime").isNotNull()
        return out.where(gate)
    expr = parser.compiled_expression()
    cols = [
        F.regexp_extract(line, expr, idx).alias(name)
        for name, idx in sorted(parser.tokens.items(), key=lambda kv: kv[1])
    ]
    return lines.where(line.rlike(expr)).select(line.alias("payload"), *cols)


def parse_datetime(tokens: DataFrame, parser: ParserSpec, *, year: int) -> DataFrame:
    """Repair + parse the ``datetime`` token into ``created_at``.

    ``try_to_timestamp`` (NULL on failure) rather than ``to_timestamp``
    (exception) implements the reference's error-channel behavior: a bad
    datetime is reported, not fatal (ref: core/sensor.go:98-101).

    Year injection mirrors the reference exactly: it fires on the *value*
    (whenever the token carries no plausible year) while the layout keeps
    its year field — sshd values like ``Aug 13 06:15:01`` become
    ``2026 Aug 13 06:15:01`` and parse with layout ``2006 Jan _2 15:04:05``
    (ref: core/parser.go:71-74).
    """
    dt = squeeze_spaces(inject_year(F.col("datetime"), year))
    fmt = parser.java_datetime_format()
    return tokens.withColumn("created_at", F.try_to_timestamp(dt, F.lit(fmt)))
