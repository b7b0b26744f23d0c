"""Schema contracts: validate a DataFrame against an expected
StructType before it crosses a pipeline boundary.

Data-QUALITY checks (nulls, domains, FK coverage) live in q101's audit
suite; this is the schema-level complement — the check that fails fast
when an upstream producer renames a column, widens a type, or starts
emitting nullable values into a non-null contract. At 100 TB the
difference between failing at the boundary and failing three joins
later is hours of cluster time, which is why table formats make schema
enforcement a write-path feature; here it is an explicit operator for
plain-parquet pipelines.

Rules (plan-time only — no data is scanned):
- missing column           → violation
- type mismatch            → violation (exact DataType equality; no
                             silent widening — an upstream int→bigint
                             change is a contract change)
- nullable where contract says required → violation
- extra columns            → violation when strict, ignored otherwise
- column ORDER is never a violation (names bind, not positions);
  ``enforce`` returns the frame projected in contract order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class ContractViolation(ValueError):
    def __init__(self, violations: list[str]) -> None:
        self.violations = violations
        super().__init__(
            "schema contract violated:\n  " + "\n  ".join(violations)
        )


def schema_violations(
    df: DataFrame, expected: StructType, strict: bool = True
) -> list[str]:
    """Human-readable violation list; empty == conforming."""
    actual = {f.name: f for f in df.schema.fields}
    out: list[str] = []
    for f in expected.fields:
        got = actual.get(f.name)
        if got is None:
            out.append(f"missing column {f.name!r} ({f.dataType.simpleString()})")
            continue
        if got.dataType != f.dataType:
            out.append(
                f"type mismatch on {f.name!r}: expected "
                f"{f.dataType.simpleString()}, got {got.dataType.simpleString()}"
            )
        if got.nullable and not f.nullable:
            out.append(f"column {f.name!r} is nullable but contract requires NOT NULL")
    if strict:
        expected_names = {f.name for f in expected.fields}
        out.extend(
            f"unexpected column {n!r}"
            for n in actual
            if n not in expected_names
        )
    return out


def enforce(df: DataFrame, expected: StructType) -> DataFrame:
    """Raise ContractViolation on any violation, extra columns
    included; otherwise return the frame projected to the contract's
    column order."""
    violations = schema_violations(df, expected)
    if violations:
        raise ContractViolation(violations)
    return df.select(*[f.name for f in expected.fields])
