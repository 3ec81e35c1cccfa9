"""Timeframe parsing (op R11) and interval mapping (SURVEY.md §1.5).

The reference accepts timeframe strings matching ``(\\d+)[smhdwMy]``
(regex at `ccxt-ohlcv-fetch.py:142`, examples at `:190-191`) and converts
them to calendar-aware durations with ``dateutil.relativedelta``
(`:159-162`) because fixed deltas can't express months/years.

Spark mapping: fixed units (s/m/h/d/w) become day-time intervals usable
in ``window()`` / timestamp arithmetic; calendar units (M/y) become
``make_interval`` year-month arithmetic / ``date_trunc`` bucketing.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

from dateutil.relativedelta import relativedelta
from pyspark.sql import Column
from pyspark.sql import functions as F

TIMEFRAME_RE = re.compile(r"^(?P<number>\d+)(?P<unit>[smhdwMy])$")

# unit -> (spark interval unit name, seconds per unit or None if calendar)
_UNITS = {
    "s": ("second", 1),
    "m": ("minute", 60),
    "h": ("hour", 3600),
    "d": ("day", 86400),
    "w": ("week", 604800),
    "M": ("month", None),  # calendar interval (`:157-162`)
    "y": ("year", None),
}


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def parse_timeframe(timeframe: str) -> tuple[int, str]:
    """``'15m' -> (15, 'm')``; raises ValueError on malformed input.

    Mirrors the validation-before-run discipline of the reference
    (`check_args`, `ccxt-ohlcv-fetch.py:242-249`).
    """
    m = TIMEFRAME_RE.match(timeframe)
    if not m:
        raise ValueError(f"invalid timeframe {timeframe!r}: must match (\\d+)[smhdwMy]")
    return int(m.group("number")), m.group("unit")


def is_calendar_unit(unit: str) -> bool:
    return _UNITS[unit][1] is None


def timeframe_to_spark_interval(timeframe: str) -> str:
    """``'5m' -> '5 minutes'`` — the string form ``window()`` accepts.

    Calendar units raise: tumbling ``window()`` only supports fixed
    durations; month/year bucketing goes through ``date_trunc``.
    """
    n, unit = parse_timeframe(timeframe)
    name, secs = _UNITS[unit]
    if secs is None:
        raise ValueError(
            f"calendar timeframe {timeframe!r} has no fixed duration; "
            "bucket with date_trunc instead"
        )
    return f"{n} {name}s"


def timeframe_seconds(timeframe: str) -> int:
    """Fixed-unit timeframe length in seconds (raises for M/y)."""
    n, unit = parse_timeframe(timeframe)
    secs = _UNITS[unit][1]
    if secs is None:
        raise ValueError(f"calendar timeframe {timeframe!r} has no fixed length")
    return n * secs


def candle_close_ms(ts_ms: int, timeframe: str) -> int:
    """Epoch-ms at which the candle opened at ``ts_ms`` closes: the
    driver-side twin of ``timestamp_millis(ts) +
    timeframe_interval_expr(timeframe)`` under a UTC session. Fixed
    units add their length; calendar units add months or years in UTC
    with ``relativedelta`` (`ccxt-ohlcv-fetch.py:159-162`), which clamps
    the day of month as Spark's interval arithmetic does."""
    n, unit = parse_timeframe(timeframe)
    secs = _UNITS[unit][1]
    if secs is not None:
        return ts_ms + n * secs * 1000
    opened = _EPOCH + timedelta(milliseconds=ts_ms)
    step = relativedelta(months=n) if unit == "M" else relativedelta(years=n)
    return ts_ms + (opened + step - opened) // timedelta(milliseconds=1)


def timeframe_interval_expr(timeframe: str) -> Column:
    """The timeframe as an INTERVAL column expression, calendar-aware.

    Replaces the reference's relativedelta arithmetic
    (`ccxt-ohlcv-fetch.py:159-163`) with ``make_interval`` so the same
    expression works for both fixed and calendar units.
    """
    n, unit = parse_timeframe(timeframe)
    zero = F.lit(0)
    amount = F.lit(n)
    args = {u: zero for u in ("years", "months", "weeks", "days", "hours", "mins", "secs")}
    key = {
        "s": "secs",
        "m": "mins",
        "h": "hours",
        "d": "days",
        "w": "weeks",
        "M": "months",
        "y": "years",
    }[unit]
    args[key] = amount
    return F.make_interval(
        args["years"], args["months"], args["weeks"], args["days"],
        args["hours"], args["mins"], args["secs"].cast("decimal(18,6)"),
    )
