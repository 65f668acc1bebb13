"""Pipeline configuration.

Replaces the reference's ``.env`` + hardcoded-date config
(/root/reference/scripts/run_exports_query.py:12-24): START/END bound the
half-open time window (sql:47-48), REPORT_DATE anchors the 3-month rank
window (run_exports_query.py:179-184).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone


def _parse_utc(s: str) -> datetime:
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc).replace(tzinfo=None)


@dataclass(frozen=True)
class PipelineConfig:
    """Dates as ISO strings, mirroring run_exports_query.py:21-23."""

    start_date: str = "2025-02-01T00:00:00Z"
    end_date: str = "2025-09-01T00:00:00Z"
    report_date: str = "2025-08-28"

    @property
    def report_month(self) -> datetime:
        """First day of the report month — run_exports_query.py:182."""
        d = _parse_utc(self.report_date)
        return d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)

    def month_offsets(self) -> tuple[datetime, datetime, datetime]:
        """(current, -1, -2) month starts — run_exports_query.py:182-184."""
        cur = self.report_month
        m1 = _add_months(cur, -1)
        m2 = _add_months(cur, -2)
        return cur, m1, m2


def _add_months(d: datetime, n: int) -> datetime:
    month = d.month - 1 + n
    year = d.year + month // 12
    month = month % 12 + 1
    return d.replace(year=year, month=month, day=1)
