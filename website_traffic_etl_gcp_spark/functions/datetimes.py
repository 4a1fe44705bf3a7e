"""Datetime column helpers.

The reference parses day-first ``dd/mm/YY`` raw strings and re-formats
to ISO ``%Y-%m-%d %H:%M:%S`` (reference transform.py:16-28). Spark's
``to_timestamp`` with an explicit pattern is the declarative equivalent
— unparseable values become NULL (quarantined downstream) instead of
aborting the job, which is the only sane failure mode at 100 TB.

Each pattern is tried only on strings of its own shape (a regex over
digits and separators). The guard keeps the parse cheap: a pattern that
does not fit makes Java's formatter throw inside ``try_to_timestamp``,
and an exception per row per failed pattern was most of the parse's
CPU. It also keeps the parse strict: Java's fields accept zero-padded
three-digit days, months and hours (``001/02/2024``) and signed years
(``1/2/-2024``), which the shape rejects exactly as the DuckDB oracles
(plans/etl.py ``_PARSE_SQL``) do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, shape) pairs tried in order — first match wins. The
# reference's pandas to_datetime(dayfirst=True) accepts two-digit years
# and date-only values (its docstring says dd/mm/YY), so the port does
# too. Java's `yy` maps 00-99 onto 2000-2099 (base-2000 reduced field);
# that pivot is part of this engine's contract and the DuckDB oracles
# reproduce it. Single-letter day/month/hour fields (`d`, `M`, `H`)
# accept one or two digits, matching pandas dayfirst=True on
# `1/2/2024 9:05:00`-shaped input; minutes/seconds stay strict two-digit
# (`mm:ss`) on both the Spark and the DuckDB-oracle side — `9:5:0` is
# quarantined, pinned in tests/test_traffic_transform.py. A shape must
# match the whole string; plans/etl.py builds its oracle guards from
# the same shapes.
DAYFIRST_PATTERNS = (
    ("d/M/yyyy H:mm:ss", r"\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}:\d{2}"),
    ("d/M/yy H:mm:ss", r"\d{1,2}/\d{1,2}/\d{2} \d{1,2}:\d{2}:\d{2}"),
    ("d/M/yyyy", r"\d{1,2}/\d{1,2}/\d{4}"),
    ("d/M/yy", r"\d{1,2}/\d{1,2}/\d{2}"),
)
DAYFIRST_FMTS = tuple(fmt for fmt, _ in DAYFIRST_PATTERNS)
ISO_FMT = "yyyy-MM-dd HH:mm:ss"


def parse_dayfirst(col: Column | str) -> Column:
    """First successful parse among ``DAYFIRST_PATTERNS``; NULL if none
    match. Each pattern must consume the whole string (Java semantics),
    so a timestamped string never half-matches a date-only pattern.
    Each pattern is attempted only where the string has its shape,
    which skips the formatter's exception on every row the pattern
    cannot fit and rejects the zero-padded and signed fields the
    formatter would accept."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        *[
            F.when(c.rlike(f"^{shape}$"), F.try_to_timestamp(c, F.lit(fmt)))
            for fmt, shape in DAYFIRST_PATTERNS
        ]
    )


def iso_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, ISO_FMT)


def day_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def hour_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:00:00")
