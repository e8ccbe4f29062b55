"""Dutch public-holiday calendar (SURVEY §2.3 J3, §2.11).

The reference uses the `holidays` PyPI package in the notebook (cell
5 ≈L65) and a hard-coded 2022-only list in the DAG
(dags/utils.py:21-30) — two inconsistent sources (SURVEY §2.11).
Engine policy: ONE holiday rule, the Column expression
``is_nl_holiday`` that training and serving both call (any year, no
dimension table, no join).

Dates are derived from the public Gregorian computus (Gauss Easter
algorithm) + fixed-date rules for the Netherlands, matching the
`holidays.Netherlands` calendar: Nieuwjaarsdag, Goede Vrijdag,
Eerste/Tweede Paasdag, Koningsdag (Apr 27, shifted to Apr 26 when it
falls on Sunday), Bevrijdingsdag, Hemelvaartsdag, Eerste/Tweede
Pinksterdag, Eerste/Tweede Kerstdag. ``nl_holidays`` states the same
rules in plain Python; tests compare the two.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F


def easter_sunday(year: int) -> _dt.date:
    """Gregorian Easter via the anonymous Gauss computus."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return _dt.date(year, month, day + 1)


def nl_holidays(year: int) -> list[_dt.date]:
    easter = easter_sunday(year)
    day = _dt.timedelta(days=1)
    kings = _dt.date(year, 4, 27)
    if kings.weekday() == 6:  # Sunday → celebrated the Saturday before
        kings = kings - day
    return sorted(
        [
            _dt.date(year, 1, 1),      # Nieuwjaarsdag
            easter - 2 * day,          # Goede Vrijdag
            easter,                    # Eerste Paasdag
            easter + day,              # Tweede Paasdag
            kings,                     # Koningsdag
            _dt.date(year, 5, 5),      # Bevrijdingsdag
            easter + 39 * day,         # Hemelvaartsdag
            easter + 49 * day,         # Eerste Pinksterdag
            easter + 50 * day,         # Tweede Pinksterdag
            _dt.date(year, 12, 25),    # Eerste Kerstdag
            _dt.date(year, 12, 26),    # Tweede Kerstdag
        ]
    )


def is_nl_holiday(date_col: Column | str) -> Column:
    """``nl_holidays`` as a boolean Column expression (NULL in, NULL
    out): ``easter_sunday``'s computus in column arithmetic (operands
    are >= 0, so floor of the quotient is Python's //), with Easter =
    Mar 22 + (h + l - 7m) days."""
    d = F.col(date_col) if isinstance(date_col, str) else date_col
    y = F.year(d)
    a, b, c = y % 19, F.floor(y / 100), y % 100
    f = F.floor((b + 8) / 25)
    g = F.floor((b - f + 1) / 3)
    h = (19 * a + b - F.floor(b / 4) - g + 15) % 30
    l = (32 + 2 * (b % 4) + 2 * F.floor(c / 4) - h - c % 4) % 7
    m = F.floor((a + 11 * h + 22 * l) / 451)
    easter = F.date_add(F.make_date(y, F.lit(3), F.lit(22)), (h + l - 7 * m).cast("int"))
    md = F.month(d) * 100 + F.dayofmonth(d)
    # Koningsdag: Apr 27, or Apr 26 when the 27th is a Sunday (the
    # 26th a Saturday); F.dayofweek counts Sunday 1 .. Saturday 7
    koningsdag = ((md == 427) & (F.dayofweek(d) != 1)) | ((md == 426) & (F.dayofweek(d) == 7))
    fixed = md.isin(101, 505, 1225, 1226)
    return fixed | koningsdag | F.datediff(d, easter).isin(-2, 0, 1, 39, 49, 50)
