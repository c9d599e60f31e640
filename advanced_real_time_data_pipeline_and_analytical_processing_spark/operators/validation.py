"""Declarative validation / quarantine rule engine.

Re-expresses the reference's rule set (``code/helpers.py:60-142``:
key-not-null, numeric-validity, range, heavy-null) as a *rule spec* that
compiles to ONE ``coalesce(when..., when...)`` Catalyst expression with
first-error-wins priority (the reference enforces the same priority via
a guarded ``when`` cascade at ``code/helpers.py:97,108,119,129``).

Design notes for scale:
- The whole rule set is a single narrow projection — no UDF, no extra
  pass; whole-stage codegen compiles it into the scan stage.
- ``split`` marks rows instead of double-filtering lineage twice; callers
  that need both halves can reuse one cached/persisted marked frame.
- Rules silently skip absent columns, matching reference semantics
  (``code/helpers.py:94,105,117``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ERROR_COL = "error_reason"


@dataclass(frozen=True)
class NotNullRule:
    """Key field must be non-null (reference P3, ``code/helpers.py:92-100``)."""

    columns: Sequence[str]

    def compile(self, df_cols: Sequence[str]) -> list[Column]:
        return [
            F.when(F.col(c).isNull(), F.lit(f"null_key:{c}"))
            for c in self.columns
            if c in df_cols
        ]


@dataclass(frozen=True)
class NumericRule:
    """Value must cast to double and not be NaN (reference P4,
    ``code/helpers.py:103-111``). Uses try_cast so bad strings yield
    null instead of an ANSI error."""

    columns: Sequence[str]

    def compile(self, df_cols: Sequence[str]) -> list[Column]:
        out = []
        for c in self.columns:
            if c not in df_cols:
                continue
            casted = F.col(c).try_cast("double")
            bad = F.col(c).isNotNull() & (casted.isNull() | F.isnan(casted))
            out.append(F.when(bad, F.lit(f"not_numeric:{c}")))
        return out


@dataclass(frozen=True)
class RangeRule:
    """Value must lie within [lo, hi] (reference P5, ``code/helpers.py:114-123``)."""

    column: str
    lo: float
    hi: float

    def compile(self, df_cols: Sequence[str]) -> list[Column]:
        if self.column not in df_cols:
            return []
        c = F.col(self.column).try_cast("double")
        bad = c.isNotNull() & ~c.between(self.lo, self.hi)
        return [F.when(bad, F.lit(f"out_of_range:{self.column}"))]


@dataclass(frozen=True)
class HeavyNullRule:
    """Row is mostly null (reference P6, ``code/helpers.py:126-133``):
    count of null cells >= floor(ncols * threshold)."""

    threshold: float = 0.5
    columns: Sequence[str] | None = None  # default: all input columns

    def compile(self, df_cols: Sequence[str]) -> list[Column]:
        cols = [c for c in (self.columns or df_cols) if c in df_cols]
        if not cols:
            return []
        null_count = sum(F.col(c).isNull().cast("int") for c in cols)
        # floor(ncols*threshold) like the reference (code/helpers.py:126-133),
        # but clamped to >=1: at narrow widths floor() hits 0 and would flag
        # every row (latent reference bug, unreachable at its 22 columns).
        limit = max(int(len(cols) * self.threshold), 1)
        return [F.when(null_count >= F.lit(limit), F.lit("heavy_null_row"))]


Rule = NotNullRule | NumericRule | RangeRule | HeavyNullRule


@dataclass(frozen=True)
class RuleSet:
    """Ordered rules; earlier rules win (first-error-wins)."""

    rules: Sequence[Rule] = field(default_factory=list)

    def error_expr(self, df_cols: Sequence[str]) -> Column:
        whens: list[Column] = []
        for rule in self.rules:
            whens.extend(rule.compile(df_cols))
        if not whens:
            return F.lit(None).cast("string")
        return F.coalesce(*whens) if len(whens) > 1 else whens[0]


def reference_ruleset() -> RuleSet:
    """The rule set hard-wired at the reference call site
    (``code/Main.py:107-115``), generalized to the engine's spec form."""
    return RuleSet(
        rules=[
            NotNullRule(["sensor_id", "timestamp", "temperature_C"]),
            NumericRule(["temperature_C"]),
            RangeRule("temperature_C", -50.0, 50.0),
            HeavyNullRule(0.5),
        ]
    )


def validate(df: DataFrame, rules: RuleSet) -> DataFrame:
    """Attach the error column in one projection; null = good row."""
    return df.withColumn(ERROR_COL, rules.error_expr(df.columns))


def split(validated: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad). Good rows drop the error column; bad rows keep it.

    Callers that consume both halves should ``persist()`` `validated`
    first (single scan), unlike the reference's re-computed lineage
    (SURVEY.md §4.3-3).
    """
    good = validated.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
    bad = validated.filter(F.col(ERROR_COL).isNotNull())
    return good, bad
