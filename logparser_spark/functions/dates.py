"""Civil-date arithmetic for the DATE field type — vectorizable and
dependency-free so every parse tier (NumPy walker, Arrow kernel,
pure-Python oracle) shares ONE definition of validity
and epoch conversion.

``days_from_civil`` is the era-based Gregorian algorithm (Howard
Hinnant, "chrono-Compatible Low-Level Date Algorithms", public
domain): exact integer math, no strptime/locale/timezone machinery,
identical results whether the inputs are Python ints or NumPy arrays.
Validity matches ``datetime.date`` exactly (years 1-9999, real
calendar days, Gregorian leap rule) — pinned by a pytest sweeping
``datetime.date.toordinal`` over the full year range.
"""

from __future__ import annotations

# days_from_civil(1970,1,1) == 0 by construction; datetime.date
# .toordinal() uses 0001-01-01 == 1, offset 719162 + 1.
_ORDINAL_OFFSET = 719_163


def days_from_civil(y, m, d):
    """(y, m, d) → days since 1970-01-01. Works elementwise on NumPy
    arrays and on plain ints (the operators `//`, `*`, `+` and
    comparisons are all ufunc-compatible). Inputs must already be
    calendar-valid; see :func:`is_valid_date`."""
    yy = y - (m <= 2)
    era = (yy - (yy < 0) * 399) // 400
    yoe = yy - era * 400                      # [0, 399]
    mp = (m + 9) % 12                         # Mar=0 .. Feb=11
    doy = (153 * mp + 2) // 5 + d - 1         # [0, 365]
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146_097 + doe - 719_468


def is_leap(y):
    return (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))


def days_in_month(y, m):
    """Elementwise days-in-month (m outside 1..12 yields 0 so the
    validity comparison below fails closed)."""
    try:
        import numpy as np

        base = np.array([0, 31, 28, 31, 30, 31, 30,
                         31, 31, 30, 31, 30, 31, 0])
        mm = np.clip(m, 0, 13)
        return base[mm] + ((mm == 2) & is_leap(y))
    except ImportError:  # pragma: no cover - numpy is a hard dep
        raise


def is_valid_date(y, m, d):
    """datetime.date-compatible validity: 1 <= y <= 9999, 1 <= m <= 12,
    1 <= d <= days_in_month. Elementwise."""
    return (
        (y >= 1) & (y <= 9999)
        & (m >= 1) & (m <= 12)
        & (d >= 1) & (d <= days_in_month(y, m))
    )


def date_from_days(days: int):
    """days since epoch → datetime.date (scalar; oracle/test use)."""
    import datetime

    return datetime.date.fromordinal(int(days) + _ORDINAL_OFFSET)
