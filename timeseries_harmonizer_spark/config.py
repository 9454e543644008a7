"""Retention-tier configuration.

Analog of the reference's ``FREQ_CONFIG`` (reference launcher_v2.py:22-28):
each tier binds a window width, a lookback window re-read on every run
(the effective watermark), an overlap trimmed from the head of each run's
output (reference harmonizers/__init__.py:387-388), a session gap threshold
(7200 s for fine tiers, None for coarse — reference launcher_v2.py:23-27),
and a retention horizon after which the tier's fine payloads are swept into
the next-coarser tier.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta


@dataclass(frozen=True)
class TierConfig:
    name: str                 # "1m" | "1h" | "1d" | "P1W" | "P1M"
    seconds: int              # window width; for calendar tiers the
                              # *comparable* width (P1W=7d, P1M=30d) used for
                              # ordering/ratios only (reference
                              # lib2/calculate_formulas.py:20-24)
    lookback: timedelta       # days_to_gather analog: window re-read per run
    overlap: timedelta        # head trim of each run's output (D4)
    gap_seconds: int | None   # session split threshold (R5); None = no split
    retention: timedelta | None  # sweep horizon; None = keep forever
    coarser: str | None       # tier this one downsamples into on expiry
    calendar: str | None = None  # "week" | "month": date_trunc windows
                                 # instead of fixed floor(ts/seconds)

    def __post_init__(self):
        # rollup_native merges sessions per tier window, so a session split
        # must never fall inside one window
        if self.gap_seconds is not None and self.gap_seconds < self.seconds:
            raise ValueError(
                f"tier {self.name!r}: gap_seconds={self.gap_seconds} is shorter "
                f"than its {self.seconds} s window"
            )

    @property
    def chunk_seconds(self) -> int:
        """Span of one compressed payload chunk: 1,440 windows, so a blob
        holds at most 1,440 points at every fixed-width tier (1m: 1 day,
        1h: 60 days, 1d: 1,440 days). Chunks are epoch-aligned, and every
        span is a whole number of UTC days."""
        return 1440 * self.seconds

    @property
    def interval(self) -> str:
        return f"{self.seconds} seconds"

    @property
    def freq(self) -> "int | str":
        """The frequency operators take: seconds, or 'P1W'/'P1M'."""
        if self.calendar == "week":
            return "P1W"
        if self.calendar == "month":
            return "P1M"
        return self.seconds


TIERS: dict[str, TierConfig] = {
    "1m": TierConfig(
        name="1m",
        seconds=60,
        lookback=timedelta(days=2),
        overlap=timedelta(hours=1),
        gap_seconds=7200,
        retention=timedelta(days=7),
        coarser="1h",
    ),
    "1h": TierConfig(
        name="1h",
        seconds=3600,
        lookback=timedelta(days=7),
        overlap=timedelta(days=1),
        gap_seconds=7200,
        retention=timedelta(days=60),
        coarser="1d",
    ),
    "1d": TierConfig(
        name="1d",
        seconds=86400,
        lookback=timedelta(days=60),
        overlap=timedelta(days=2),
        gap_seconds=None,
        retention=timedelta(days=365),
        coarser="P1M",
    ),
    # Calendar tiers (reference FREQ_CONFIG P1W/P1M, launcher_v2.py:26-27).
    # The reference's raw 1s harmonization cannot express these at all
    # (pd.Timedelta("P1M") raises); they exist as downsample targets
    # (pandas "1MS" resample in calculations) and LAST rollups — same here:
    # date_trunc windows in downsample (sum/avg/last) and the formula
    # engine, fed by the 1d tier.
    "P1W": TierConfig(
        name="P1W",
        seconds=7 * 86400,
        lookback=timedelta(days=60),
        overlap=timedelta(days=0),
        gap_seconds=None,
        retention=None,
        coarser=None,
        calendar="week",
    ),
    "P1M": TierConfig(
        name="P1M",
        seconds=30 * 86400,
        lookback=timedelta(days=180),
        overlap=timedelta(days=0),
        gap_seconds=None,
        retention=None,
        coarser=None,
        calendar="month",
    ),
}

# Number of storage hash buckets: the bucket id shape_points writes (the
# analog of the reference's bucket = (ts // TS_BUCKETS) % BUCKETS,
# lib/__init__.py:140).
N_BUCKETS = 64

# Values are rounded to 5 decimals before emit (reference
# harmonizers/__init__.py:233).
VALUE_ROUND = 5
