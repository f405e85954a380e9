"""Data-quality assertions (the reference's 12 dbt schema tests).

Each check is a violation predicate whose count must be 0, exactly like
dbt's not_null / accepted_values tests
(``/root/reference/dbt/models/spurs_analysis/spurs_analysis.yml``).
``GOLD_CHECKS`` is the reference's test suite verbatim; ``run_checks``
evaluates any suite against a dict of DataFrames as ONE query: one
single-row ``count_if`` aggregate per table, crossJoined, one action.
On lazy frames a separate count per check would re-run the table's
whole plan each time; the one query runs each plan once, and the
per-table stages side by side.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    table: str
    column: str
    kind: str  # "not_null" | "accepted_values"
    values: tuple[str, ...] = ()

    @property
    def name(self) -> str:
        return f"{self.kind}:{self.table}.{self.column}"

    @property
    def predicate(self) -> Column:
        """True on a violating row."""
        if self.kind == "not_null":
            return F.col(self.column).isNull()
        if self.kind == "accepted_values":
            # dbt's accepted_values test EXCLUDES NULLs (its compiled
            # `column NOT IN (...)` is NULL for NULL input, never
            # selected) — counting NULLs here would fail tables the
            # reference suite passes; nullability is not_null's job.
            # count_if skips a NULL predicate exactly as filter does.
            return ~F.col(self.column).isin(*self.values)
        raise ValueError(f"unknown check kind {self.kind!r}")


def not_null(table: str, column: str) -> Check:
    return Check(table, column, "not_null")


def accepted_values(table: str, column: str, values: tuple[str, ...]) -> Check:
    return Check(table, column, "accepted_values", values)


# the reference's 12 schema tests (spurs_analysis.yml; SURVEY §2.11)
GOLD_CHECKS: list[Check] = [
    not_null("team_weaknesses_unpivoted", "season2"),
    not_null("team_weaknesses_unpivoted", "weakness_type"),
    accepted_values(
        "team_weaknesses_unpivoted", "resultado", ("Debilidad", "Fortaleza")
    ),
    not_null("players_recommendations", "season2"),
    not_null("players_recommendations", "recommended_player"),
    not_null("players_recommendations", "player_id"),
    not_null("summary_by_season", "season"),
    not_null("summary_by_season", "team_ranking"),
    not_null("spurs_player_contributions_unpivoted", "player_id"),
    not_null("spurs_player_contributions_unpivoted", "player_name"),
    not_null("spurs_player_contributions_unpivoted", "rubro"),
    accepted_values("home_vs_away", "location", ("Home", "Away")),
]


class QualityError(AssertionError):
    pass


def run_checks(
    tables: dict[str, DataFrame], checks: list[Check] | None = None
) -> dict[str, int]:
    """Violation count per check; raises QualityError on any failure."""
    checks = GOLD_CHECKS if checks is None else checks
    # positional aliases: check names may repeat a table/column or hold
    # characters that are not plain identifiers
    by_table: dict[str, list[Column]] = {}
    for i, c in enumerate(checks):
        by_table.setdefault(c.table, []).append(
            F.count_if(c.predicate).alias(f"c{i}")
        )
    rows = [tables[t].agg(*counts) for t, counts in by_table.items()]
    row = reduce(DataFrame.crossJoin, rows).first() if rows else None
    results = {c.name: row[f"c{i}"] for i, c in enumerate(checks)}
    failed = {k: v for k, v in results.items() if v}
    if failed:
        raise QualityError(f"quality checks failed: {failed}")
    return results
