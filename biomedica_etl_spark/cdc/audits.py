"""Prebuilt audit gates for write-audit-publish ingestion.

Each factory returns an ``audit(spark, table) -> (bool, reason)`` callable
for ``CdcRunner(audit=...)``; ``all_of`` composes several into one gate
(first failure wins, reasons are specific). Gates read ONLY metadata
(staged-manifest summaries) or the staged view via
``table.read(spark, snapshot_id="staged")`` — they never touch the
published table state, so a failed audit leaves no trace.

Reference analogue: the reference's per-batch promotion checks — row-count
completeness and content sanity before a batch's output is used downstream
(``src/pmc_oa/download_batch.py:246-276``) and the diverted error rows
that a too-dirty batch accumulates (``src/pmc_oa/download_batch.py:123-139``)
— expressed as commit-protocol gates instead of ad-hoc script asserts.

Scale note: the metadata gates (``max_quarantine_rate``,
``max_delete_fraction``) are O(1) driver-side reads of the staged
summary — free at any table size. ``min_live_rows``' count is one
column-pruned scan of the STAGED view only; at 100 TB prefer the metadata
gates, or bound the scan to changed buckets.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import SparkSession

Audit = Callable[[SparkSession, Any], "tuple[bool, str] | bool"]


def _verdict(v: "tuple[bool, str] | bool") -> tuple[bool, str]:
    return v if isinstance(v, tuple) else (bool(v), "")


def all_of(*audits: Audit) -> Audit:
    """Compose gates: every audit must pass; the first failure's reason is
    reported (remaining gates don't run — cheap metadata gates first)."""

    def gate(spark: SparkSession, table: Any) -> tuple[bool, str]:
        for a in audits:
            ok, reason = _verdict(a(spark, table))
            if not ok:
                return False, reason
        return True, ""

    return gate


def max_quarantine_rate(threshold: float) -> Audit:
    """Reject a batch whose quarantined-event share of consumed offsets
    exceeds ``threshold`` — an upstream extractor gone bad poisons whole
    batches, and the right response is refusal + remediation, not letting
    a 40%%-corrupt batch publish. Metadata-only: reads the staged
    summary, no Spark job."""

    def gate(spark: SparkSession, table: Any) -> tuple[bool, str]:
        s = (table.staged_snapshot() or {}).get("summary", {})
        quarantined = s.get("rows_quarantined") or 0
        denom = s.get("offsets_applied") or 0
        if denom == 0:
            return True, ""
        rate = quarantined / denom
        if rate > threshold:
            return False, (f"quarantine rate {rate:.3f} > {threshold} "
                           f"({quarantined}/{denom} events)")
        return True, ""

    return gate


def max_delete_fraction(threshold: float) -> Audit:
    """Reject a batch whose deletes outnumber ``threshold`` of its applied
    events — the classic upstream-truncation accident (a source table
    dropped and re-created emits a delete storm). Metadata-only."""

    def gate(spark: SparkSession, table: Any) -> tuple[bool, str]:
        s = (table.staged_snapshot() or {}).get("summary", {})
        deleted = s.get("rows_deleted") or 0
        upserted = s.get("rows_upserted") or 0
        total = deleted + upserted
        if total == 0:
            return True, ""
        frac = deleted / total
        if frac > threshold:
            return False, (f"delete fraction {frac:.3f} > {threshold} "
                           f"({deleted} deletes / {total} mutations)")
        return True, ""

    return gate


def min_live_rows(minimum: int) -> Audit:
    """Reject a publish that would leave fewer than ``minimum`` live rows —
    the table-emptied guard. One count over the STAGED view (column-pruned
    scan; bound it or prefer metadata gates on very large tables)."""

    def gate(spark: SparkSession, table: Any) -> tuple[bool, str]:
        n = table.read(spark, snapshot_id="staged", columns=[]).count()
        if n < minimum:
            return False, f"staged live rows {n} < required minimum {minimum}"
        return True, ""

    return gate
