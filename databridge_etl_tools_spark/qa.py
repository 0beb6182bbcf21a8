"""QA layer (SURVEY §2.9 V1-V8): the reference's scattered fail-fast
asserts become a structured, collectable report (SURVEY §7.3e).

Each check records pass/fail + measured values; ``QAError`` is raised
at the end of a pipeline (or immediately for ``precondition`` checks
that guard destructive steps, mirroring the reference's
validate-before-truncate ordering, ago/ago.py:542-583).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.geometry import ascii_upper, geometry_kind, srid_of


class QAError(AssertionError):
    def __init__(self, report: "QAReport"):
        super().__init__("; ".join(f.describe() for f in report.failures))
        self.report = report


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str = ""

    def describe(self) -> str:
        status = "ok" if self.passed else "FAIL"
        return f"{self.name}: {status} {self.detail}".rstrip()


@dataclass
class QAReport:
    checks: list[CheckResult] = field(default_factory=list)

    def _add(self, name: str, passed: bool, detail: str, precondition: bool) -> bool:
        self.checks.append(CheckResult(name, passed, detail))
        if precondition and not passed:
            raise QAError(self)
        return passed

    @property
    def failures(self) -> list[CheckResult]:
        return [c for c in self.checks if not c.passed]

    def raise_if_failed(self) -> "QAReport":
        if self.failures:
            raise QAError(self)
        return self

    # -- V1: nonzero source count -------------------------------------
    def nonzero_count(
        self, source: "DataFrame | int", name: str = "source", precondition: bool = True
    ) -> int:
        """V1 on a frame (counted here: a Spark job) or on a row count
        already known — observed on a write, or read from parquet
        footers — which costs nothing. Returns the count."""
        n = source if isinstance(source, int) else source.count()
        self._add(f"V1 nonzero[{name}]", n > 0, f"count={n}", precondition)
        return n

    def metric(self, name: str, detail: str) -> None:
        """Non-fatal observation recorded in the report (visible in
        logs/results, never fails the pipeline)."""
        self.checks.append(CheckResult(f"metric[{name}]", True, detail))

    # -- V2/V3: count parity -------------------------------------------
    def count_parity(self, expected: int, actual: int, name: str = "load", precondition: bool = False) -> None:
        self._add(
            f"V2/V3 count_parity[{name}]",
            expected == actual,
            f"expected={expected} actual={actual}",
            precondition,
        )

    # -- V4: truncate produced zero ------------------------------------
    def is_empty(self, df: DataFrame, name: str = "truncated", precondition: bool = False) -> None:
        n = df.limit(1).count()
        self._add(f"V4 empty[{name}]", n == 0, f"rows={n}", precondition)

    # -- V5: header ⊆/≡ target fields ----------------------------------
    def schema_fields_match(
        self,
        incoming: list[str],
        target: list[str],
        exempt: tuple[str, ...] = ("objectid", "esri_oid"),
        precondition: bool = True,
    ) -> None:
        """Both-direction field diff with the reference's objectid
        exemption (postgres.py:481-488, ago/ago.py:508-535)."""
        a = {c.lower() for c in incoming} - set(exempt)
        b = {c.lower() for c in target} - set(exempt)
        diff = a ^ b
        self._add("V5 fields_match", not diff, f"diff={sorted(diff)}", precondition)

    # -- V6: geometry precheck before destructive ops -------------------
    def geometry_precheck(
        self,
        df: DataFrame,
        geom_col: str,
        expected_kind: str | None = None,
        expected_srid: int | None = None,
        sample: int = 500,
        precondition: bool = True,
    ) -> None:
        """Bounded-sample EWKT validation before truncate/overwrite
        (ago/ago.py:542-583: ≤500 rows, type must match the target
        layer). Accepts the MULTI form of the expected kind and
        EMPTY geometries.

        Runs one bounded collect on ``df``, which must be the
        unobserved lineage: a ``limit`` action on a frame that carries
        a ``DataFrame.observe`` node would complete that Observation
        with the metrics of the rows it sampled, not of the whole
        write."""
        c = F.col(geom_col)
        n_open = F.length(c) - F.length(F.replace(c, F.lit("("), F.lit("")))
        n_close = F.length(c) - F.length(F.replace(c, F.lit(")"), F.lit("")))
        well_formed = (
            ascii_upper(F.trim(c)).endswith("EMPTY")
            | ((n_open > 0) & (n_open == n_close) & F.trim(c).endswith(")"))
        )
        rows = (
            df.select(
                geometry_kind(geom_col).alias("kind"),
                srid_of(geom_col).alias("srid"),
                well_formed.alias("ok"),
            )
            .where(F.col("kind") != "")
            .limit(sample)
            .collect()
        )
        bad: list[str] = []
        for r in rows:
            if not r["ok"]:
                # catches truncation from malformed CSV quoting (a cell
                # split at an unquoted comma) before a destructive load
                bad.append("malformed wkt")
                continue
            if expected_kind:
                want = expected_kind.upper()
                if r["kind"] not in (want, want.replace("MULTI", ""), "MULTI" + want):
                    bad.append(f"kind={r['kind']}")
            if expected_srid is not None and r["srid"] is not None and r["srid"] != expected_srid:
                bad.append(f"srid={r['srid']}")
        self._add(
            "V6 geometry_precheck",
            not bad,
            f"sampled={len(rows)} bad={bad[:5]}",
            precondition,
        )

    # -- V7: post-load smoke -------------------------------------------
    def smoke_select(self, df: DataFrame, name: str = "table", precondition: bool = False) -> None:
        try:
            df.limit(1).collect()
            ok = True
            detail = ""
        except Exception as e:  # pragma: no cover - defensive
            ok, detail = False, str(e)[:200]
        self._add(f"V7 smoke[{name}]", ok, detail, precondition)

    # -- A9: record diff (round-trip oracle) ---------------------------
    def record_diff_empty(self, a: DataFrame, b: DataFrame, name: str = "roundtrip", precondition: bool = False) -> None:
        added = b.exceptAll(a).limit(1).count()
        subtracted = a.exceptAll(b).limit(1).count()
        self._add(
            f"A9 recorddiff[{name}]",
            added == 0 and subtracted == 0,
            f"added>0={bool(added)} subtracted>0={bool(subtracted)}",
            precondition,
        )


def histogram_fixed(
    df,
    value_col: str,
    *,
    bins: int,
    lo: float,
    hi: float,
    group_col: str | None = None,
):
    """Equi-width histogram profiling (the distribution half of a QA
    report): bucket ``value_col`` into ``bins`` equal widths over
    [lo, hi), with explicit underflow (-1) and overflow (``bins``)
    buckets so no row is silently dropped.

    Bucketing is one map-side expression —
    ``floor((x - lo) / (hi - lo) * bins)`` clamped with ``least`` so
    float rounding at the top edge cannot spill into the overflow
    bucket — followed by a single mergeable aggregation keyed on
    (group, bucket): partial counts combine map-side, so the shuffle
    carries at most groups × (bins + 2) rows regardless of data
    volume. All arithmetic is IEEE-exact and mirrored by the DuckDB
    oracle (no engine-specific rounding rule)."""
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError("histogram_fixed: bins must be >= 1")
    if not hi > lo:
        raise ValueError("histogram_fixed: need hi > lo")
    x = F.col(value_col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(bins))
    bucket = (
        F.when(x < lo, F.lit(-1))
        .when(x >= hi, F.lit(bins))
        .otherwise(F.least(raw, F.lit(bins - 1)))
        .cast("int")
    )
    keys = ([group_col] if group_col else []) + ["bucket"]
    return (
        df.select(*([group_col] if group_col else []), bucket.alias("bucket"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
    )
