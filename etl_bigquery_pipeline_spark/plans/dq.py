"""Data-quality check framework (SURVEY.md §2.5-§2.6, B1-B6).

The reference runs 9 SQL validation queries against the warehouse —
row counts (/root/reference/dags/etl_pipeline.py:283-291), COUNTIF null
scans (:327-350), GROUP BY/HAVING duplicate probes (:364-383), a left-join
orphan count (:396-402), MIN/MAX range checks (:414-443) — accumulates
(check, status, detail) results and hard-fails the pipeline on any critical
violation (:453-469).

Engine design: every check *declares* aggregate expressions; the framework
batches all scalar checks on the same table into ONE .agg() pass (the
reference hand-batches 4 COUNTIFs into one statement — here it falls out of
composition). Group-shaped checks (duplicates) run as their own aggregation.
At 100 TB that means: one scan per table for all scalar checks + one
shuffle per duplicate-key check + one broadcast anti-join per FK check.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.localrel import literal_frame


class Severity(str, Enum):
    CRITICAL = "critical"
    WARNING = "warning"


REPORT_COLUMNS = ("check", "table", "status", "severity", "observed", "detail")


@dataclass
class CheckResult:
    check: str
    table: str
    passed: bool
    severity: Severity
    observed: float | int | None
    detail: str

    def as_row(self) -> tuple:
        return (
            self.check,
            self.table,
            "PASS" if self.passed else "FAIL",
            self.severity.value,
            float(self.observed) if self.observed is not None else None,
            self.detail,
        )

    def as_dict(self) -> dict:
        """``as_row`` keyed by the report's column names."""
        return dict(zip(REPORT_COLUMNS, self.as_row()))


@dataclass
class ScalarCheck:
    """A check expressible as aggregate expressions over one table plus a
    python predicate on the resulting scalars."""

    name: str
    exprs: dict[str, Column]  # alias -> aggregate expression
    verdict: Callable[[dict], tuple[bool, float | int | None, str]]
    severity: Severity = Severity.CRITICAL


def row_count_check(min_rows: int = 1) -> ScalarCheck:
    """B4: table must be non-empty (reference :294-304)."""
    return ScalarCheck(
        name="row_count",
        exprs={"n": F.count(F.lit(1))},
        verdict=lambda s: (
            s["n"] >= min_rows,
            s["n"],
            f"rows={s['n']} (min {min_rows})",
        ),
    )


def null_check(columns: list[str], severity: Severity = Severity.CRITICAL) -> ScalarCheck:
    """A2: COUNTIF(col IS NULL) per critical column, single scan
    (reference :327-350)."""
    exprs = {
        f"nulls_{c}": F.count_if(F.col(c).isNull()) for c in columns
    }

    def verdict(s: dict) -> tuple[bool, int, str]:
        total = sum(s.values())
        bad = {k[6:]: v for k, v in s.items() if v}
        return total == 0, total, f"null counts: {bad or 'none'}"

    return ScalarCheck(name="null_check", exprs=exprs, verdict=verdict, severity=severity)


def range_check(
    column: str,
    *,
    min_allowed: float | None = None,
    max_allowed: float | None = None,
    strict_min: bool = False,
    severity: Severity = Severity.CRITICAL,
) -> ScalarCheck:
    """A4/A5 + B1-B3: MIN/MAX bounds; strict_min models the reference's
    price > 0 rule (`<=` fails, :445-449) vs amount >= 0 (:424-435)."""

    exprs = {
        f"min_{column}": F.min(column),
        f"max_{column}": F.max(column),
    }

    def verdict(s: dict) -> tuple[bool, float | None, str]:
        lo, hi = s[f"min_{column}"], s[f"max_{column}"]
        ok = True
        if min_allowed is not None and lo is not None:
            ok &= (lo > min_allowed) if strict_min else (lo >= min_allowed)
        if max_allowed is not None and hi is not None:
            ok &= hi <= max_allowed
        return ok, lo, f"{column} range [{lo}, {hi}]"

    return ScalarCheck(name=f"range_{column}", exprs=exprs, verdict=verdict, severity=severity)


def observed_write(
    df: "DataFrame",
    write_fn,
    *,
    metrics: dict[str, "Column"] | None = None,
) -> dict:
    """Run ``write_fn(observed_df)`` with DQ metrics piggybacked on the
    write action itself (Dataset.observe): row count and any caller
    aggregates are collected DURING the single write pass — zero extra
    scans, unlike post-load validation queries that re-read the table.
    Returns the observed metric dict once the write action completes.

    ``write_fn`` must consume the observed frame exactly once, in one
    action. The metrics come from the first action that runs over the
    frame, and from only one reference to it within that action: a sink
    that writes ``d.exceptAll(d.limit(1))`` reads ``d`` twice, and on a
    three-row frame it reported ``n_rows=1``, the limited read. Narrow
    steps over the frame (``filter``, ``select``) are fine; the metrics
    then count the rows handed to ``write_fn``, not the rows it kept.

    The at-scale significance: a 100 TB load validated by re-scanning
    costs a second 100 TB read; observe() charges nothing. Use for
    load-time row counts / null tallies, keep the full DQ framework for
    cross-table rules (parity, referential integrity).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as FF

    exprs = dict(metrics or {})
    exprs.setdefault("n_rows", FF.count(FF.lit(1)))
    obs = Observation()
    observed = df.observe(obs, *[e.alias(k) for k, e in exprs.items()])
    write_fn(observed)
    return dict(obs.get)


def freshness_check(
    ts_column: str,
    *,
    max_age: str = "2 days",
    as_of: str | None = None,
    severity: Severity = Severity.CRITICAL,
) -> ScalarCheck:
    """Data freshness: the newest ``ts_column`` value must fall within
    ``max_age`` of ``as_of`` (a literal reference instant — pass the
    run's logical date; defaulting to wall-clock now() would make the
    check non-reproducible across retries and engines). The staleness
    probe every scheduled pipeline needs: a feed that silently stopped
    arriving passes row-count checks forever while its max(ts) freezes.
    One MAX aggregate, fused into the table's single DQ scan."""
    exprs = {f"max_{ts_column}": F.max(ts_column)}

    def verdict(s: dict) -> tuple[bool, object, str]:
        newest = s[f"max_{ts_column}"]
        if newest is None:
            return False, None, f"{ts_column} has no values"
        if as_of is None:
            return True, newest, f"newest {ts_column}={newest} (no as_of)"
        import datetime as dt

        ref = dt.datetime.fromisoformat(as_of)
        n, unit = max_age.split()
        delta = dt.timedelta(**{unit if unit.endswith("s") else unit + "s": int(n)})
        newest_dt = (
            newest
            if isinstance(newest, dt.datetime)
            else dt.datetime.combine(newest, dt.time())
        )
        ok = newest_dt >= ref - delta
        return ok, newest, f"newest {ts_column}={newest}, as_of={as_of}, max_age={max_age}"

    return ScalarCheck(
        name=f"freshness_{ts_column}", exprs=exprs, verdict=verdict, severity=severity
    )


def parity_check(expected: int) -> ScalarCheck:
    """B5: post-load row count equals pre-load count (reference :307-321)."""
    return ScalarCheck(
        name="load_parity",
        exprs={"n": F.count(F.lit(1))},
        verdict=lambda s: (
            s["n"] == expected,
            s["n"],
            f"loaded={s['n']} expected={expected}",
        ),
    )


@dataclass
class TableChecks:
    """All checks for one table; scalar checks fuse into one scan."""

    table: str
    df: DataFrame
    scalar: list[ScalarCheck] = field(default_factory=list)
    duplicate_keys: list[list[str]] = field(default_factory=list)
    severity_dup: Severity = Severity.WARNING

    def run(self) -> list[CheckResult]:
        results: list[CheckResult] = []
        if self.scalar:
            exprs, owners = [], []
            for chk in self.scalar:
                for alias, e in chk.exprs.items():
                    exprs.append(e.alias(f"{chk.name}__{alias}"))
                    owners.append((chk, alias))
            row = self.df.agg(*exprs).first().asDict()
            for chk in self.scalar:
                scalars = {
                    alias: row[f"{chk.name}__{alias}"] for alias in chk.exprs
                }
                passed, observed, detail = chk.verdict(scalars)
                results.append(
                    CheckResult(chk.name, self.table, passed, chk.severity, observed, detail)
                )
        for keys in self.duplicate_keys:
            n_dup_groups = (
                self.df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .count()
            )
            results.append(
                CheckResult(
                    f"dup_{'_'.join(keys)}",
                    self.table,
                    n_dup_groups == 0,
                    self.severity_dup,
                    n_dup_groups,
                    f"duplicate {keys} groups: {n_dup_groups}",
                )
            )
        return results


def referential_integrity_check(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    fact_name: str = "fact",
    severity: Severity = Severity.WARNING,
) -> CheckResult:
    """J1: orphan fact rows via broadcast LEFT ANTI join — the idiomatic
    plan for the reference's LEFT JOIN ... WHERE dim.key IS NULL probe
    (:396-402). Catalyst broadcasts the dimension's key column as it is:
    an anti join only asks whether a key exists, so duplicate dimension
    keys cannot change the count and a ``distinct`` would only add an
    aggregate and a shuffle. A fact row with a NULL key matches nothing
    and counts as an orphan."""
    orphans = fact.join(F.broadcast(dim.select(key)), key, "left_anti").count()
    return CheckResult(
        check=f"ref_integrity_{key}",
        table=fact_name,
        passed=orphans == 0,
        severity=severity,
        observed=orphans,
        detail=f"orphan rows on {key}: {orphans}",
    )


class CriticalDQFailure(ValueError):
    """Raised when any critical check fails (reference :464-466)."""

    def __init__(self, results: list[CheckResult]):
        failed = [r for r in results if not r.passed and r.severity == Severity.CRITICAL]
        lines = "; ".join(f"{r.table}.{r.check}: {r.detail}" for r in failed)
        super().__init__(f"critical data-quality failures: {lines}")
        self.results = results


def report_df(spark: SparkSession, results: list[CheckResult]) -> DataFrame:
    """The (check, table, status, severity, observed, detail) report as a
    DataFrame (B6) — queryable like any other table."""
    return literal_frame(
        spark,
        [r.as_row() for r in results],
        "check string, table string, status string, severity string, observed double, detail string",
    )


def enforce(results: list[CheckResult]) -> None:
    if any(not r.passed and r.severity == Severity.CRITICAL for r in results):
        raise CriticalDQFailure(results)


def quarantine_split(
    df: DataFrame, rules: dict[str, Column | str]
) -> tuple[DataFrame, DataFrame]:
    """Row-level quarantine (the batch twin of the streaming DLQ): split
    ``df`` into (good, bad) under named violation predicates. A rule
    predicate is TRUE when the row VIOLATES it; a NULL-evaluating
    predicate counts as a violation (three-valued logic: unknown is not a
    pass — the delete_where lesson applied in reverse, so a corrupt row
    can never slip into `good` because its predicate was NULL).

    ``bad`` carries a ``violations`` column — the comma-joined sorted rule
    names — so the quarantine sink is self-describing and groupable by
    failure signature. Both sides are complementary filters over ONE
    lineage (the flags projection is computed once per row, map-side,
    no shuffle); at 100 TB this is a single pass each, and callers
    writing both sides should cache the flagged frame or write
    good/bad from one ``foreachBatch``-style pass.

    Raises if the input already carries a ``violations`` column: the
    split would silently overwrite it (and ``good`` would drop the
    original data) — rename it first."""
    if "violations" in df.columns:
        raise ValueError(
            "quarantine_split writes a 'violations' column but the input "
            "already has one — rename it before splitting"
        )
    flags = []
    for name in sorted(rules):
        pred = rules[name]
        col = F.expr(pred) if isinstance(pred, str) else pred
        flags.append(
            F.when(F.coalesce(col, F.lit(True)), F.lit(name)).otherwise(
                F.lit(None).cast("string")
            )
        )
    tags = F.array_join(F.array_sort(F.array_compact(F.array(*flags))), ",")
    flagged = df.withColumn("violations", tags)
    good = flagged.filter(F.col("violations") == "").drop("violations")
    bad = flagged.filter(F.col("violations") != "")
    return good, bad


def expect_schema(
    df: DataFrame,
    expected_ddl: str,
    *,
    allow_added_nullable: bool = True,
) -> list[str]:
    """Schema contract check (the data-contract gate run before a
    pipeline trusts an upstream drop): compare ``df``'s schema against an
    expected DDL string. Returns a list of violations (empty = pass):

    - a missing column is always a violation;
    - a type change is always a violation (narrowing silently corrupts,
      widening silently breaks downstream readers' assumptions);
    - a nullability tightening (expected non-null arriving nullable) is
      a violation;
    - an ADDED column is allowed only when nullable and
      ``allow_added_nullable`` (the one evolution parquet/BigQuery treat
      as backward-compatible).

    Pure metadata — no data is scanned, so the gate costs nothing at any
    scale. Pair with quarantine_split for row-level enforcement."""
    from pyspark.sql.types import StructType

    expected = StructType.fromDDL(expected_ddl)
    actual = {f.name: f for f in df.schema.fields}
    violations: list[str] = []
    for f in expected.fields:
        got = actual.pop(f.name, None)
        if got is None:
            violations.append(f"missing column: {f.name} {f.dataType.simpleString()}")
        elif got.dataType != f.dataType:
            violations.append(
                f"type change: {f.name} expected {f.dataType.simpleString()}"
                f" got {got.dataType.simpleString()}"
            )
        elif got.nullable and not f.nullable:
            violations.append(f"nullability loosened: {f.name}")
    for name, f in actual.items():
        if not (allow_added_nullable and f.nullable):
            violations.append(
                f"unexpected column: {name} {f.dataType.simpleString()}"
            )
    return violations
