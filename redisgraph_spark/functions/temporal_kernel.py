"""openCypher temporal semantics on plain Python integers.

The reference DECLARES the temporal types but never implements them
(``src/value.h:28-33`` — 'declared but NOT implemented',
``docs/cypher_support.md:20-22``); this engine supports the full
openCypher temporal API (date / localtime / time / localdatetime /
datetime / duration: construction from maps and ISO-8601 strings,
component accessors, arithmetic, truncation, ``duration.between``)
natively.

Design: every temporal value is a tuple of integers —

    date            days                       (epoch days, proleptic)
    localtime       nanos                      (nanos of day)
    time            nanos, offset              (offset = seconds east)
    localdatetime   days, nanos                (local wall clock)
    datetime        days, nanos, offset, zone  (wall clock + offset
                                                [+ IANA zone name])
    duration        months, days, nanos        (three independent,
                                                individually-signed
                                                components, the
                                                openCypher model)

so the SAME value maps 1:1 onto the Spark-side struct encoding
(``planner/temporal_cols.TEMPORAL_TYPE``) and all arithmetic is exact
integer math at nanosecond precision (Spark timestamps are only
microsecond).  This module is pure Python — it runs at plan time
(constant folding of literal temporal expressions) and at result
rendering; per-row columnar compute lives in
``planner/temporal_cols.py`` as JVM-side Column expressions.

Calendar math uses the public-domain civil-from-days / days-from-civil
algorithms (Howard Hinnant, "chrono-Compatible Low-Level Date
Algorithms").  Zone resolution uses the stdlib ``zoneinfo``; ambiguous
local times resolve to the EARLIER offset (fold=0), gaps shift forward
— the openCypher/java.time default.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime as _pydt, timedelta as _pytd
from zoneinfo import ZoneInfo

NS_PER_SEC = 1_000_000_000
NS_PER_MIN = 60 * NS_PER_SEC
NS_PER_HOUR = 3600 * NS_PER_SEC
NS_PER_DAY = 86400 * NS_PER_SEC
SEC_PER_DAY = 86400

# average-duration conversions for FRACTIONAL duration components
# (openCypher: a fractional month contributes avg-month seconds)
AVG_SEC_PER_MONTH = 2_629_746          # 365.2425 / 12 days
AVG_SEC_PER_DAY = 86_400


class TemporalError(ValueError):
    """Invalid temporal construction / operation (surfaced as a query
    error, like any Cypher type/argument error)."""


# --------------------------------------------------------------- civil math

def days_from_civil(y: int, m: int, d: int) -> int:
    """(year, month, day) → days since 1970-01-01, proleptic Gregorian."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def civil_from_days(z: int) -> tuple[int, int, int]:
    """days since epoch → (year, month, day)."""
    z += 719468
    era = (z if z >= 0 else z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + (3 if mp < 10 else -9)
    return y + (m <= 2), m, d


def is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


_DIM = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def days_in_month(y: int, m: int) -> int:
    return 29 if (m == 2 and is_leap(y)) else _DIM[m - 1]


def days_in_year(y: int) -> int:
    return 366 if is_leap(y) else 365


def iso_dow(days: int) -> int:
    """ISO day-of-week 1=Monday..7=Sunday (1970-01-01 was a Thursday)."""
    return (days + 3) % 7 + 1


def _week1_monday(week_year: int) -> int:
    """Epoch day of the Monday of ISO week 1 of `week_year` (the week
    containing January 4th)."""
    jan4 = days_from_civil(week_year, 1, 4)
    return jan4 - (iso_dow(jan4) - 1)


def days_from_iso_week(week_year: int, week: int, dow: int) -> int:
    return _week1_monday(week_year) + (week - 1) * 7 + (dow - 1)


def iso_week_of(days: int) -> tuple[int, int]:
    """epoch days → (weekYear, week)."""
    thursday = days + (4 - iso_dow(days))
    wy = civil_from_days(thursday)[0]
    return wy, (thursday - _week1_monday(wy)) // 7 + 1


def weeks_in_week_year(week_year: int) -> int:
    return (_week1_monday(week_year + 1) - _week1_monday(week_year)) // 7


def add_months_clamped(days: int, months: int) -> int:
    """Calendar month addition with end-of-month clamping
    (java.time/openCypher semantics: Jan 31 + 1M = Feb 28/29)."""
    y, m, d = civil_from_days(days)
    t = y * 12 + (m - 1) + months
    y2, m2 = t // 12, t % 12 + 1
    return days_from_civil(y2, m2, min(d, days_in_month(y2, m2)))


# ------------------------------------------------------------------- values

@dataclass(frozen=True)
class KDate:
    days: int

    def __str__(self) -> str:
        return _fmt_date(self.days)


@dataclass(frozen=True)
class KLocalTime:
    nanos: int

    def __str__(self) -> str:
        return _fmt_time(self.nanos)


@dataclass(frozen=True)
class KTime:
    nanos: int
    offset: int          # seconds east of UTC

    def __str__(self) -> str:
        return _fmt_time(self.nanos) + _fmt_offset(self.offset)


@dataclass(frozen=True)
class KLocalDateTime:
    days: int
    nanos: int

    def __str__(self) -> str:
        return f"{_fmt_date(self.days)}T{_fmt_time(self.nanos)}"


@dataclass(frozen=True)
class KDateTime:
    days: int            # LOCAL wall-clock date
    nanos: int           # LOCAL wall-clock time of day
    offset: int          # seconds east of UTC at that instant
    zone: str | None     # IANA zone name when constructed with one

    def __str__(self) -> str:
        s = (f"{_fmt_date(self.days)}T{_fmt_time(self.nanos)}"
             f"{_fmt_offset(self.offset)}")
        if self.zone is not None:
            s += f"[{self.zone}]"
        return s

    def instant(self) -> tuple[int, int]:
        """(epoch seconds, nanos-of-second) of the absolute instant."""
        total = self.days * SEC_PER_DAY + self.nanos // NS_PER_SEC \
            - self.offset
        return total, self.nanos % NS_PER_SEC


@dataclass(frozen=True)
class KDuration:
    months: int
    days: int
    nanos: int

    def __str__(self) -> str:
        return _fmt_duration(self.months, self.days, self.nanos)


TEMPORAL_CLASSES = (KDate, KLocalTime, KTime, KLocalDateTime, KDateTime,
                    KDuration)

# struct tags shared with planner/temporal_cols.py
TT_DATE, TT_LOCALTIME, TT_TIME, TT_LOCALDATETIME, TT_DATETIME, \
    TT_DURATION = 1, 2, 3, 4, 5, 6

_TT_OF = {KDate: TT_DATE, KLocalTime: TT_LOCALTIME, KTime: TT_TIME,
          KLocalDateTime: TT_LOCALDATETIME, KDateTime: TT_DATETIME,
          KDuration: TT_DURATION}
TYPE_NAME = {TT_DATE: "date", TT_LOCALTIME: "localtime", TT_TIME: "time",
             TT_LOCALDATETIME: "localdatetime", TT_DATETIME: "datetime",
             TT_DURATION: "duration"}


def to_row(v) -> tuple:
    """kernel value → (_tt, _days, _nanos, _months, _offset, _zone)."""
    tt = _TT_OF[type(v)]
    if tt == TT_DATE:
        return (tt, v.days, 0, 0, None, None)
    if tt == TT_LOCALTIME:
        return (tt, 0, v.nanos, 0, None, None)
    if tt == TT_TIME:
        return (tt, 0, v.nanos, 0, v.offset, None)
    if tt == TT_LOCALDATETIME:
        return (tt, v.days, v.nanos, 0, None, None)
    if tt == TT_DATETIME:
        return (tt, v.days, v.nanos, 0, v.offset, v.zone)
    return (tt, v.days, v.nanos, v.months, None, None)


def from_row(tt: int, days, nanos, months, offset, zone):
    days = int(days or 0)
    nanos = int(nanos or 0)
    months = int(months or 0)
    if tt == TT_DATE:
        return KDate(days)
    if tt == TT_LOCALTIME:
        return KLocalTime(nanos)
    if tt == TT_TIME:
        return KTime(nanos, int(offset or 0))
    if tt == TT_LOCALDATETIME:
        return KLocalDateTime(days, nanos)
    if tt == TT_DATETIME:
        return KDateTime(days, nanos, int(offset or 0), zone)
    if tt == TT_DURATION:
        return KDuration(months, days, nanos)
    raise TemporalError(f"unknown temporal tag {tt}")


# --------------------------------------------------------------- rendering

def _fmt_date(days: int) -> str:
    y, m, d = civil_from_days(days)
    if y < 0:
        return f"-{-y:04d}-{m:02d}-{d:02d}"
    if y > 9999:
        return f"+{y}-{m:02d}-{d:02d}"
    return f"{y:04d}-{m:02d}-{d:02d}"


def _fmt_fraction(ns: int) -> str:
    """nanos-of-second → '.nnn' trimmed to 3/6/9 digits ('' when 0)."""
    if ns == 0:
        return ""
    return "." + f"{ns:09d}".rstrip("0")


def _fmt_time(nanos: int) -> str:
    h, rem = divmod(nanos, NS_PER_HOUR)
    mi, rem = divmod(rem, NS_PER_MIN)
    s, ns = divmod(rem, NS_PER_SEC)
    out = f"{h:02d}:{mi:02d}"
    if s or ns:
        out += f":{s:02d}{_fmt_fraction(ns)}"
    return out


def _fmt_offset(offset: int) -> str:
    if offset == 0:
        return "Z"
    sign = "+" if offset > 0 else "-"
    a = abs(offset)
    h, rem = divmod(a, 3600)
    m, s = divmod(rem, 60)
    out = f"{sign}{h:02d}:{m:02d}"
    if s:
        out += f":{s:02d}"
    return out


def _fmt_duration(months: int, days: int, nanos: int) -> str:
    """openCypher duration rendering: Y/M from months, D from days,
    H/M/S from total nanos (hours NOT normalized into days), each
    component individually signed, zero components omitted, 'PT0S'
    when empty."""
    parts = ["P"]
    # truncate toward zero so -26 months renders P-2Y-2M
    y = -((-months) // 12) if months < 0 else months // 12
    m = months - y * 12
    if y:
        parts.append(f"{y}Y")
    if m:
        parts.append(f"{m}M")
    if days:
        parts.append(f"{days}D")
    if nanos:
        t = ["T"]
        sign = -1 if nanos < 0 else 1
        a = abs(nanos)
        h, rem = divmod(a, NS_PER_HOUR)
        mi, rem = divmod(rem, NS_PER_MIN)
        s, ns = divmod(rem, NS_PER_SEC)
        if h:
            t.append(f"{sign * h}H")
        if mi:
            t.append(f"{sign * mi}M")
        if s or ns:
            frac = _fmt_fraction(ns)
            t.append(f"{'-' if sign < 0 else ''}{s}{frac}S")
        if len(t) > 1:
            parts.extend(t)
    if len(parts) == 1:
        return "PT0S"
    return "".join(parts)


def render(v) -> str:
    return str(v)


# ------------------------------------------------------------- zone lookup

def _zoneinfo(name: str) -> ZoneInfo:
    try:
        return ZoneInfo(name)
    except Exception:
        raise TemporalError(f"unknown timezone: {name!r}")


def _clamp_pydt(days: int, nanos: int) -> _pydt:
    """kernel wall clock → naive datetime for zone lookups (year
    clamped to python's 1..9999 — offsets repeat outside that range)."""
    y, m, d = civil_from_days(days)
    y = min(max(y, 1), 9999)
    us = (nanos // 1000) % 1_000_000
    sec = nanos // NS_PER_SEC
    h, rem = divmod(sec, 3600)
    mi, s = divmod(rem, 60)
    return _pydt(y, m, d, int(h), int(mi), int(s), int(us))


def zone_offset_for_local(zone: str, days: int, nanos: int) -> int:
    """Offset (seconds east) a named zone gives the local wall time,
    fold=0 (earlier offset on overlap; gap times get the pre-gap
    offset, matching java.time's forward shift after re-resolution)."""
    tz = _zoneinfo(zone)
    off = tz.utcoffset(_clamp_pydt(days, nanos).replace(fold=0))
    return int(off.total_seconds())


def zone_offset_for_instant(zone: str, epoch_sec: int) -> int:
    tz = _zoneinfo(zone)
    base = _pydt(1970, 1, 1, tzinfo=tz)
    try:
        t = _pydt.fromtimestamp(max(min(epoch_sec, 2**40), -2**40),
                                tz)
    except (OverflowError, OSError, ValueError):
        t = base + _pytd(seconds=epoch_sec)
    off = t.utcoffset()
    return int(off.total_seconds())


def _parse_offset(s: str) -> int:
    """'+01:00' / '-0130' / '+02:05:59' / 'Z' → seconds east."""
    if s in ("Z", "z"):
        return 0
    m = re.fullmatch(r"([+-])(\d{2})(?::?(\d{2})(?::?(\d{2}))?)?", s)
    if not m:
        raise TemporalError(f"invalid timezone offset: {s!r}")
    sign = 1 if m.group(1) == "+" else -1
    h = int(m.group(2))
    mi = int(m.group(3) or 0)
    sec = int(m.group(4) or 0)
    if h > 18 or mi > 59 or sec > 59:
        raise TemporalError(f"timezone offset out of range: {s!r}")
    return sign * (h * 3600 + mi * 60 + sec)


def _resolve_timezone(tzspec: str, days: int, nanos: int) \
        -> tuple[int, str | None]:
    """timezone component value → (offset seconds, zone name or None)
    for a given local wall time."""
    tzspec = str(tzspec)
    if tzspec and (tzspec[0] in "+-" or tzspec in ("Z", "z")):
        return _parse_offset(tzspec), None
    return zone_offset_for_local(tzspec, days, nanos), tzspec


# ------------------------------------------------------------------ parsing

_DATE_RES = [
    # calendar: YYYY-MM-DD | YYYYMMDD | YYYY-MM | YYYYMM | YYYY
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-(?P<m>\d{2})-(?P<d>\d{2})$"),
     "cal"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})(?P<m>\d{2})(?P<d>\d{2})$"),
     "cal"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-(?P<m>\d{2})$"), "cal"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})(?P<m>\d{2})$"), "cal"),
    # week: YYYY-Www-D | YYYYWwwD | YYYY-Www | YYYYWww
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-W(?P<w>\d{2})-(?P<dw>\d)$"),
     "week"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})W(?P<w>\d{2})(?P<dw>\d)$"),
     "week"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-W(?P<w>\d{2})$"), "week"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})W(?P<w>\d{2})$"), "week"),
    # quarter: YYYY-Qq-DD | YYYYQqDD | YYYY-Qq | YYYYQq
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-Q(?P<q>\d)-(?P<dq>\d{2})$"),
     "quarter"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})Q(?P<q>\d)(?P<dq>\d{2})$"),
     "quarter"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-Q(?P<q>\d)$"), "quarter"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})Q(?P<q>\d)$"), "quarter"),
    # ordinal: YYYY-DDD | YYYYDDD
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})-(?P<o>\d{3})$"), "ord"),
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4})(?P<o>\d{3})$"), "ord"),
    # year only
    (re.compile(r"(?P<sign>[+-]?)(?P<y>\d{4,9})$"), "cal"),
]


def parse_date_str(s: str) -> int:
    """ISO-8601 date string → epoch days."""
    s = s.strip()
    for rx, kind in _DATE_RES:
        m = rx.match(s)
        if not m:
            continue
        g = m.groupdict()
        y = int(g["y"]) * (-1 if g.get("sign") == "-" else 1)
        if kind == "cal":
            mo = int(g.get("m") or 1)
            d = int(g.get("d") or 1)
            _check(1 <= mo <= 12, f"month out of range: {mo}")
            _check(1 <= d <= days_in_month(y, mo),
                   f"day out of range: {d}")
            return days_from_civil(y, mo, d)
        if kind == "week":
            w = int(g["w"])
            dw = int(g.get("dw") or 1)
            _check(1 <= w <= weeks_in_week_year(y),
                   f"week out of range: {w}")
            _check(1 <= dw <= 7, f"dayOfWeek out of range: {dw}")
            return days_from_iso_week(y, w, dw)
        if kind == "quarter":
            q = int(g["q"])
            dq = int(g.get("dq") or 1)
            return _days_from_quarter(y, q, dq)
        if kind == "ord":
            o = int(g["o"])
            _check(1 <= o <= days_in_year(y),
                   f"ordinalDay out of range: {o}")
            return days_from_civil(y, 1, 1) + o - 1
    raise TemporalError(f"cannot parse date: {s!r}")


_TIME_RE = re.compile(
    r"(?P<h>\d{2})(?::?(?P<m>\d{2})(?::?(?P<s>\d{2}))?)?"
    r"(?:[.,](?P<f>\d{1,9}))?"
    r"(?P<tz>Z|z|[+-]\d{2}(?::?\d{2}(?::?\d{2})?)?)?$")


def parse_time_str(s: str) -> tuple[int, int | None]:
    """ISO time string → (nanos of day, offset seconds or None)."""
    m = _TIME_RE.match(s.strip())
    if not m:
        raise TemporalError(f"cannot parse time: {s!r}")
    h = int(m.group("h"))
    mi = int(m.group("m") or 0)
    sec = int(m.group("s") or 0)
    frac = m.group("f") or ""
    if frac and m.group("s") is None and m.group("m") is not None:
        # '2140.5' — fraction of the last given unit (minutes); openCypher
        # only allows fractions on seconds in time strings, so accept
        # fraction-of-minute by scaling
        nanos_frac = int(round(float("0." + frac) * 60 * NS_PER_SEC))
    elif frac and m.group("m") is None:
        nanos_frac = int(round(float("0." + frac) * 3600 * NS_PER_SEC))
    else:
        nanos_frac = int(frac.ljust(9, "0")) if frac else 0
    _check(0 <= h <= 23, f"hour out of range: {h}")
    _check(0 <= mi <= 59, f"minute out of range: {mi}")
    _check(0 <= sec <= 59, f"second out of range: {sec}")
    nanos = h * NS_PER_HOUR + mi * NS_PER_MIN + sec * NS_PER_SEC \
        + nanos_frac
    tz = m.group("tz")
    return nanos, (None if tz is None else _parse_offset(tz))


def parse_datetime_str(s: str) \
        -> tuple[int, int, int | None, str | None]:
    """ISO datetime string → (days, nanos, offset or None, zone or
    None).  Zone suffix '[Europe/Stockholm]' resolves the offset when
    no numeric offset is present."""
    s = s.strip()
    zone = None
    zm = re.search(r"\[([^\]]+)\]$", s)
    if zm:
        zone = zm.group(1)
        s = s[:zm.start()]
    if "T" in s:
        ds, ts = s.split("T", 1)
    elif "t" in s:
        ds, ts = s.split("t", 1)
    else:
        ds, ts = s, ""
    days = parse_date_str(ds)
    if ts:
        nanos, offset = parse_time_str(ts)
    else:
        nanos, offset = 0, None
    if zone is not None:
        zoff = zone_offset_for_local(zone, days, nanos)
        if offset is None:
            offset = zoff
        # a numeric offset + zone: trust the numeric offset (it
        # disambiguates DST overlaps) but keep the zone
    return days, nanos, offset, zone


_DUR_ISO_RE = re.compile(
    r"(?P<sign>[+-]?)P"
    r"(?:(?P<y>-?\d+(?:[.,]\d+)?)Y)?"
    r"(?:(?P<mo>-?\d+(?:[.,]\d+)?)M)?"
    r"(?:(?P<w>-?\d+(?:[.,]\d+)?)W)?"
    r"(?:(?P<d>-?\d+(?:[.,]\d+)?)D)?"
    r"(?:T"
    r"(?:(?P<h>-?\d+(?:[.,]\d+)?)H)?"
    r"(?:(?P<mi>-?\d+(?:[.,]\d+)?)M)?"
    r"(?:(?P<s>-?\d+(?:[.,]\d+)?(?:[.,]\d+)?)S)?"
    r")?$")


_DUR_ALT_RE = re.compile(
    r"(?P<sign>[+-]?)P(?P<y>\d{4})-(?P<mo>\d{2})-(?P<d>\d{2})"
    r"T(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}(?:[.,]\d{1,9})?)$")


def parse_duration_str(s: str) -> KDuration:
    s = s.strip()
    alt = _DUR_ALT_RE.match(s)
    if alt:
        # ISO-8601 alternative form PYYYY-MM-DDTHH:MM:SS
        sec = float(alt.group("s").replace(",", "."))
        dur = KDuration(
            int(alt.group("y")) * 12 + int(alt.group("mo")),
            int(alt.group("d")),
            int(alt.group("h")) * NS_PER_HOUR
            + int(alt.group("mi")) * NS_PER_MIN
            + int(round(sec * NS_PER_SEC)))
        return dur if alt.group("sign") != "-" else dur_neg(dur)
    m = _DUR_ISO_RE.match(s)
    if not m or not any(m.group(k)
                        for k in ("y", "mo", "w", "d", "h", "mi", "s")):
        raise TemporalError(f"cannot parse duration: {s!r}")
    comp = {}
    names = {"y": "years", "mo": "months", "w": "weeks", "d": "days",
             "h": "hours", "mi": "minutes", "s": "seconds"}
    for k, name in names.items():
        v = m.group(k)
        if v is not None:
            v = v.replace(",", ".")
            comp[name] = float(v) if "." in v else int(v)
    dur = duration_from_map(comp)
    if m.group("sign") == "-":
        return KDuration(-dur.months, -dur.days, -dur.nanos)
    return dur


# ------------------------------------------------------------ construction

def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise TemporalError(msg)


def _days_from_quarter(y: int, q: int, dq: int) -> int:
    _check(1 <= q <= 4, f"quarter out of range: {q}")
    start = days_from_civil(y, (q - 1) * 3 + 1, 1)
    nxt = days_from_civil(y + (q == 4), (q % 4) * 3 + 1, 1)
    _check(1 <= dq <= nxt - start, f"dayOfQuarter out of range: {dq}")
    return start + dq - 1


_DATE_GROUPS = {
    "cal": ("month", "day"),
    "week": ("week", "dayOfWeek"),
    "quarter": ("quarter", "dayOfQuarter"),
    "ord": ("ordinalDay",),
}
_ALL_DATE_KEYS = {"year", "month", "day", "week", "dayOfWeek",
                  "quarter", "dayOfQuarter", "ordinalDay"}
_TIME_KEYS = ("hour", "minute", "second", "millisecond", "microsecond",
              "nanosecond")


def _date_components(days: int) -> dict:
    y, m, d = civil_from_days(days)
    wy, w = iso_week_of(days)
    q = (m - 1) // 3 + 1
    return {"year": y, "month": m, "day": d,
            "weekYear": wy, "week": w, "dayOfWeek": iso_dow(days),
            "quarter": q,
            "dayOfQuarter": days - days_from_civil(y, (q - 1) * 3 + 1,
                                                   1) + 1,
            "ordinalDay": days - days_from_civil(y, 1, 1) + 1}


def _pick_group(keys: set) -> str | None:
    groups = [g for g, ks in _DATE_GROUPS.items()
              if any(k in keys for k in ks)]
    if len(groups) > 1:
        raise TemporalError(
            f"cannot mix date calendars: {sorted(keys)}")
    return groups[0] if groups else None


def _date_from_map(mp: dict, base_days: int | None) -> int:
    """Date construction / override logic shared by all constructors.
    `mp` holds only date-relevant keys."""
    keys = {k for k in mp if k in _ALL_DATE_KEYS}
    group = _pick_group(keys)
    if base_days is None:
        _check("year" in keys, "year must be specified")
        y = _int_comp(mp, "year")
        if group in (None, "cal"):
            _check(not ("day" in keys and "month" not in keys),
                   "day cannot be specified without month")
            mo = _int_comp(mp, "month", 1)
            d = _int_comp(mp, "day", 1)
            _check(1 <= mo <= 12, f"month out of range: {mo}")
            _check(1 <= d <= days_in_month(y, mo),
                   f"day out of range: {d}")
            return days_from_civil(y, mo, d)
        if group == "week":
            _check(not ("dayOfWeek" in keys and "week" not in keys),
                   "dayOfWeek cannot be specified without week")
            w = _int_comp(mp, "week", 1)
            dw = _int_comp(mp, "dayOfWeek", 1)
            _check(1 <= w <= weeks_in_week_year(y),
                   f"week out of range: {w}")
            _check(1 <= dw <= 7, f"dayOfWeek out of range: {dw}")
            return days_from_iso_week(y, w, dw)
        if group == "quarter":
            _check(not ("dayOfQuarter" in keys
                        and "quarter" not in keys),
                   "dayOfQuarter cannot be specified without quarter")
            return _days_from_quarter(y, _int_comp(mp, "quarter", 1),
                                      _int_comp(mp, "dayOfQuarter", 1))
        o = _int_comp(mp, "ordinalDay", 1)
        _check(1 <= o <= days_in_year(y), f"ordinalDay out of range: {o}")
        return days_from_civil(y, 1, 1) + o - 1
    # base + overrides: convert base to the override's calendar, then
    # replace the specified components (Temporal3 [1])
    comps = _date_components(base_days)
    if group in (None, "cal"):
        y = _int_comp(mp, "year", comps["year"])
        mo = _int_comp(mp, "month", comps["month"])
        d = _int_comp(mp, "day", comps["day"])
        _check(1 <= mo <= 12, f"month out of range: {mo}")
        _check(1 <= d <= days_in_month(y, mo), f"day out of range: {d}")
        return days_from_civil(y, mo, d)
    if group == "week":
        wy = _int_comp(mp, "year", comps["weekYear"])
        w = _int_comp(mp, "week", comps["week"])
        dw = _int_comp(mp, "dayOfWeek", comps["dayOfWeek"])
        _check(1 <= w <= weeks_in_week_year(wy),
               f"week out of range: {w}")
        _check(1 <= dw <= 7, f"dayOfWeek out of range: {dw}")
        return days_from_iso_week(wy, w, dw)
    if group == "quarter":
        y = _int_comp(mp, "year", comps["year"])
        return _days_from_quarter(
            y, _int_comp(mp, "quarter", comps["quarter"]),
            _int_comp(mp, "dayOfQuarter", comps["dayOfQuarter"]))
    y = _int_comp(mp, "year", comps["year"])
    o = _int_comp(mp, "ordinalDay", comps["ordinalDay"])
    _check(1 <= o <= days_in_year(y), f"ordinalDay out of range: {o}")
    return days_from_civil(y, 1, 1) + o - 1


def _int_comp(mp: dict, key: str, default: int | None = None) -> int:
    if key not in mp:
        if default is None:
            raise TemporalError(f"{key} must be specified")
        return default
    v = mp[key]
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise TemporalError(f"{key} must be an integer")
    if isinstance(v, float):
        if v != int(v):
            raise TemporalError(f"{key} must be an integer, got {v}")
        v = int(v)
    return v


def _time_from_map(mp: dict, base_nanos: int | None) -> int:
    keys = [k for k in _TIME_KEYS if k in mp]
    if base_nanos is None:
        # contiguity: hour > minute > second; sub-second components are
        # additive refinements of second
        h = _int_comp(mp, "hour", 0)
        _check(not ("minute" in mp and "hour" not in mp),
               "minute cannot be specified without hour")
        mi = _int_comp(mp, "minute", 0)
        _check(not ("second" in mp and "minute" not in mp),
               "second cannot be specified without minute")
        sec = _int_comp(mp, "second", 0)
        ms = _int_comp(mp, "millisecond", 0)
        us = _int_comp(mp, "microsecond", 0)
        ns = _int_comp(mp, "nanosecond", 0)
    else:
        h, rem = divmod(base_nanos, NS_PER_HOUR)
        mi, rem = divmod(rem, NS_PER_MIN)
        sec, sub = divmod(rem, NS_PER_SEC)
        ms, us, ns = sub // 1_000_000, (sub // 1000) % 1000, sub % 1000
        h = _int_comp(mp, "hour", h)
        mi = _int_comp(mp, "minute", mi)
        sec = _int_comp(mp, "second", sec)
        if any(k in mp for k in ("millisecond", "microsecond",
                                 "nanosecond")):
            # sub-second components override INDIVIDUALLY against the
            # base's remainders (Temporal9: truncate('millisecond',
            # …, {nanosecond: 2}) keeps .645 and sets ns → .645000002)
            ms = _int_comp(mp, "millisecond", ms)
            us = _int_comp(mp, "microsecond", us)
            ns = _int_comp(mp, "nanosecond", ns)
        else:
            # keep the base's sub-second part intact
            return (h * NS_PER_HOUR + mi * NS_PER_MIN
                    + sec * NS_PER_SEC + sub)
    _check(0 <= h <= 23, f"hour out of range: {h}")
    _check(0 <= mi <= 59, f"minute out of range: {mi}")
    _check(0 <= sec <= 59, f"second out of range: {sec}")
    _check(0 <= ms <= 999, f"millisecond out of range: {ms}")
    sub = ms * 1_000_000 + us * 1000 + ns
    _check(0 <= sub < NS_PER_SEC,
           "sub-second components out of range")
    return h * NS_PER_HOUR + mi * NS_PER_MIN + sec * NS_PER_SEC + sub


def _base_date_part(v) -> int | None:
    if isinstance(v, (KDate,)):
        return v.days
    if isinstance(v, (KLocalDateTime, KDateTime)):
        return v.days
    raise TemporalError(f"cannot take a date from {type(v).__name__}")


def _base_time_part(v) -> tuple[int, int | None]:
    """→ (nanos of day, offset or None)."""
    if isinstance(v, KLocalTime):
        return v.nanos, None
    if isinstance(v, KTime):
        return v.nanos, v.offset
    if isinstance(v, KLocalDateTime):
        return v.nanos, None
    if isinstance(v, KDateTime):
        return v.nanos, v.offset
    raise TemporalError(f"cannot take a time from {type(v).__name__}")


def _split_map(mp: dict) -> tuple[dict, object, object, object]:
    """→ (plain component map, date base, time base, datetime base)."""
    mp = dict(mp)
    dbase = mp.pop("date", None)
    tbase = mp.pop("time", None)
    dtbase = mp.pop("datetime", None)
    for k, v in list(mp.items()):
        if k == "timezone":
            continue
        if isinstance(v, TEMPORAL_CLASSES):
            raise TemporalError(
                f"temporal value not allowed for component {k}")
    return mp, dbase, tbase, dtbase


def date_from_map(mp: dict) -> KDate:
    mp, dbase, tbase, dtbase = _split_map(mp)
    base = dtbase if dtbase is not None else dbase
    base_days = _base_date_part(base) if base is not None else None
    bad = [k for k in mp if k not in _ALL_DATE_KEYS | {"timezone"}]
    _check(not bad, f"invalid date component(s): {bad}")
    if base_days is None and not (set(mp) & _ALL_DATE_KEYS):
        raise TemporalError("no date components given")
    return KDate(_date_from_map(mp, base_days))


def localtime_from_map(mp: dict) -> KLocalTime:
    mp, dbase, tbase, dtbase = _split_map(mp)
    base = dtbase if dtbase is not None else tbase
    base_nanos = _base_time_part(base)[0] if base is not None else None
    bad = [k for k in mp if k not in set(_TIME_KEYS)]
    _check(not bad, f"invalid localtime component(s): {bad}")
    if base_nanos is None and not mp:
        raise TemporalError("no time components given")
    return KLocalTime(_time_from_map(mp, base_nanos))


def time_from_map(mp: dict) -> KTime:
    tzspec = mp.get("timezone")
    mp2, dbase, tbase, dtbase = _split_map(mp)
    mp2.pop("timezone", None)
    base = dtbase if dtbase is not None else tbase
    bad = [k for k in mp2 if k not in set(_TIME_KEYS)]
    _check(not bad, f"invalid time component(s): {bad}")
    if base is None:
        _check(bool(mp2) or tzspec is not None,
               "no time components given")
        nanos = _time_from_map(mp2, None)
        offset = (_resolve_timezone(tzspec, 0, nanos)[0]
                  if tzspec is not None else 0)
        return KTime(nanos, offset)
    bnanos, boffset = _base_time_part(base)
    if tzspec is not None:
        noffset = _resolve_timezone(str(tzspec), 0, bnanos)[0]
        if boffset is not None:
            # base carries a zone: converting the instant to the new
            # offset FIRST, then applying component overrides
            bnanos = (bnanos - boffset * NS_PER_SEC
                      + noffset * NS_PER_SEC) % NS_PER_DAY
        offset = noffset
    else:
        offset = boffset if boffset is not None else 0
    return KTime(_time_from_map(mp2, bnanos), offset)


def localdatetime_from_map(mp: dict) -> KLocalDateTime:
    mp2, dbase, tbase, dtbase = _split_map(mp)
    date_keys = set(mp2) & _ALL_DATE_KEYS
    time_keys = set(mp2) & set(_TIME_KEYS)
    bad = [k for k in mp2 if k not in _ALL_DATE_KEYS | set(_TIME_KEYS)]
    _check(not bad, f"invalid localdatetime component(s): {bad}")
    if dtbase is not None:
        bd, bt = dtbase.days, _base_time_part(dtbase)[0]
        days = _date_from_map(mp2, bd) if True else bd
        nanos = _time_from_map(mp2, bt)
        return KLocalDateTime(days, nanos)
    if dbase is not None or tbase is not None:
        bd = _base_date_part(dbase) if dbase is not None else None
        bt = _base_time_part(tbase)[0] if tbase is not None else None
        if bd is None and not date_keys:
            raise TemporalError("no date components given")
        days = _date_from_map(mp2, bd)
        nanos = _time_from_map(mp2, bt) if (bt is not None or time_keys) \
            else 0
        return KLocalDateTime(days, nanos)
    _check("year" in mp2, "year must be specified")
    days = _date_from_map(mp2, None)
    # time contiguity for pure maps: hour required if any time given
    if time_keys and "hour" not in mp2:
        raise TemporalError("hour must be specified when giving time "
                            "components")
    nanos = _time_from_map(mp2, None) if time_keys else 0
    return KLocalDateTime(days, nanos)


def datetime_from_map(mp: dict) -> KDateTime:
    if "epochSeconds" in mp or "epochMillis" in mp:
        tz = mp.get("timezone", "Z")
        if "epochSeconds" in mp:
            es = mp["epochSeconds"]
            _check(isinstance(es, (int, float)) and not isinstance(
                es, bool), "epochSeconds must be a number")
            total_ns = int(round(es * NS_PER_SEC))
        else:
            em = mp["epochMillis"]
            _check(isinstance(em, (int, float)) and not isinstance(
                em, bool), "epochMillis must be a number")
            total_ns = int(round(em * 1_000_000))
        extra = _int_comp(mp, "nanosecond", 0) \
            + _int_comp(mp, "microsecond", 0) * 1000 \
            + _int_comp(mp, "millisecond", 0) * 1_000_000
        total_ns += extra
        esec, ens = divmod(total_ns, NS_PER_SEC)
        tzs = str(tz)
        if tzs and (tzs[0] in "+-" or tzs in ("Z", "z")):
            offset, zone = _parse_offset(tzs), None
        else:
            offset, zone = zone_offset_for_instant(tzs, esec), tzs
        lsec = esec + offset
        days, sod = divmod(lsec, SEC_PER_DAY)
        return KDateTime(days, sod * NS_PER_SEC + ens, offset, zone)
    tzspec = mp.get("timezone")
    mp2, dbase, tbase, dtbase = _split_map(mp)
    mp2.pop("timezone", None)
    bad = [k for k in mp2 if k not in _ALL_DATE_KEYS | set(_TIME_KEYS)]
    _check(not bad, f"invalid datetime component(s): {bad}")
    time_keys = set(mp2) & set(_TIME_KEYS)
    # the date part comes from the date: base (or the datetime: base),
    # the time part — offset and zone included — from the time: base
    # (or the datetime: base); explicit components override; a
    # timezone: with an offset-carrying base CONVERTS the instant, and
    # with an offset-less base ATTACHES (Temporal3 [8]-[11])
    date_src = dbase if dbase is not None else dtbase
    time_src = tbase if tbase is not None else dtbase
    bd = _base_date_part(date_src) if date_src is not None else None
    if time_src is not None:
        bt, boffset = _base_time_part(time_src)
    else:
        bt = boffset = None
    bzone = time_src.zone if isinstance(time_src, KDateTime) else None
    if bd is None and not (set(mp2) & _ALL_DATE_KEYS):
        raise TemporalError("no date components given")
    if bd is None:
        _check("year" in mp2, "year must be specified")
    days = _date_from_map(mp2, bd)
    if bt is not None or time_keys:
        nanos = _time_from_map(mp2, bt)
    else:
        nanos = 0
    offset, zone = boffset, bzone
    if zone is not None:
        # a named zone re-resolves its offset at the combined local
        # wall time ([10] #31: March dates flip Stockholm to +02:00)
        offset = zone_offset_for_local(zone, days, nanos)
    if tzspec is not None:
        noffset, nzone = _resolve_timezone(str(tzspec), days, nanos)
        if offset is not None:
            esec, ens = KDateTime(days, nanos, offset, None).instant()
            if nzone is not None:
                noffset = zone_offset_for_instant(nzone, esec)
            lsec = esec + noffset
            days, sod = divmod(lsec, SEC_PER_DAY)
            nanos = sod * NS_PER_SEC + ens
        offset, zone = noffset, nzone
    if offset is None:
        offset = 0
    return KDateTime(days, nanos, offset, zone)


_DUR_KEYS = {"years": 12 * AVG_SEC_PER_MONTH,
             "quarters": 3 * AVG_SEC_PER_MONTH,
             "months": AVG_SEC_PER_MONTH,
             "weeks": 7 * AVG_SEC_PER_DAY,
             "days": AVG_SEC_PER_DAY,
             "hours": 3600, "minutes": 60, "seconds": 1,
             "milliseconds": 1e-3, "microseconds": 1e-6,
             "nanoseconds": 1e-9}


def duration_from_map(mp: dict) -> KDuration:
    bad = [k for k in mp if k not in _DUR_KEYS]
    _check(not bad, f"invalid duration component(s): {bad}")
    # fractional years/quarters flow into MONTHS exactly (12.5y = 150
    # months), weeks into days (2.5w = 17.5d); see _dur_normalize for
    # where the remaining fractions land
    months_f = 0.0
    for key, mult in (("years", 12), ("quarters", 3), ("months", 1)):
        v = mp.get(key, 0)
        _num_check(key, v)
        months_f += v * mult
    days_f = 0.0
    for key, mult in (("weeks", 7), ("days", 1)):
        v = mp.get(key, 0)
        _num_check(key, v)
        days_f += v * mult
    time_ns = 0
    for key, mult in (("hours", 3600), ("minutes", 60), ("seconds", 1)):
        v = mp.get(key, 0)
        _num_check(key, v)
        time_ns += int(round(v * mult * NS_PER_SEC))
    time_ns += int(round(mp.get("milliseconds", 0) * 1_000_000))
    time_ns += int(round(mp.get("microseconds", 0) * 1000))
    time_ns += int(round(mp.get("nanoseconds", 0)))
    return _dur_normalize(months_f, days_f, time_ns)


def _trunc_f(v) -> int:
    """float/int → int truncated toward zero."""
    return int(v)


def _dur_normalize(months_f, days_f, time_ns: int) -> KDuration:
    """(possibly fractional months, possibly fractional days, exact
    time nanos) → canonical duration.  The month-total's fractional
    remainder becomes avg-month seconds of which whole DAYS extract
    into the day component ('P0.75M' → P22DT19H51M49.5S, Temporal8
    [1]/[6]/[7]); the day-total's fraction goes straight to seconds
    ('P2.5W' = 17.5d → P17DT12H); the integer time part is verbatim —
    hours never fold into days ('PT32H' stays, Temporal6 [6]).

    The fraction arithmetic runs in exact rationals (Fraction): the
    former float path lost low bits in ``months_f - months`` etc. and
    drifted results by ~1ns (r9 Temporal8 duration-scaling carry)."""
    from fractions import Fraction
    mf = Fraction(months_f)
    dfr = Fraction(days_f)
    months = _trunc_f(mf)
    sec_m_ns = round((mf - months) * (AVG_SEC_PER_MONTH * NS_PER_SEC)) \
        if mf != months else 0
    d_extra = _trunc_div(sec_m_ns, NS_PER_DAY) if sec_m_ns else 0
    days_w = _trunc_f(dfr)
    nanos = (sec_m_ns - d_extra * NS_PER_DAY
             + round((dfr - days_w) * (AVG_SEC_PER_DAY * NS_PER_SEC))
             + time_ns)
    return KDuration(months, days_w + d_extra, nanos)


def _num_check(key: str, v) -> None:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise TemporalError(f"{key} must be a number")


# ------------------------------------------------------------ constructors

def now_value(kind: str, epoch_ms: int, tzspec=None):
    """Statement-clock constructors: date() / datetime.statement() /
    time.realtime([tz]) … — one fixed clock per statement (the
    compiler's query_time_ms), so duration.between(date(), date()) is
    exactly PT0S within a query."""
    if kind == "duration":
        raise TemporalError("duration() requires an argument")
    mp = {"epochMillis": int(epoch_ms)}
    if tzspec is not None:
        mp["timezone"] = str(tzspec)
    return _convert(kind, datetime_from_map(mp))


def construct(kind: str, arg=None):
    """The six temporal constructor functions.  `arg` is None (= now —
    unsupported without a clock), a string, a map (dict), or another
    temporal value."""
    if arg is None:
        raise TemporalError(
            f"{kind}() without arguments requires the statement clock "
            f"— pass an explicit string or component map")
    if isinstance(arg, str):
        return _from_string(kind, arg)
    if isinstance(arg, dict):
        return _from_map(kind, arg)
    if isinstance(arg, TEMPORAL_CLASSES):
        return _convert(kind, arg)
    raise TemporalError(
        f"{kind}() expects a string, map, or temporal value; got "
        f"{type(arg).__name__}")


def _from_string(kind: str, s: str):
    if kind == "date":
        return KDate(parse_date_str(s))
    if kind == "localtime":
        return KLocalTime(parse_time_str(s)[0])
    if kind == "time":
        nanos, offset = parse_time_str(s)
        return KTime(nanos, 0 if offset is None else offset)
    if kind == "localdatetime":
        days, nanos, _off, _zone = parse_datetime_str(s)
        return KLocalDateTime(days, nanos)
    if kind == "datetime":
        days, nanos, offset, zone = parse_datetime_str(s)
        return KDateTime(days, nanos, 0 if offset is None else offset,
                         zone)
    if kind == "duration":
        return parse_duration_str(s)
    raise TemporalError(f"unknown temporal constructor {kind}")


def _from_map(kind: str, mp: dict):
    fn = {"date": date_from_map, "localtime": localtime_from_map,
          "time": time_from_map, "localdatetime": localdatetime_from_map,
          "datetime": datetime_from_map,
          "duration": duration_from_map}.get(kind)
    if fn is None:
        raise TemporalError(f"unknown temporal constructor {kind}")
    return fn(mp)


def _convert(kind: str, v):
    """Single-temporal-argument form: date(x), localtime(x), ..."""
    if kind == "date":
        return KDate(_base_date_part(v))
    if kind == "localtime":
        return KLocalTime(_base_time_part(v)[0])
    if kind == "time":
        nanos, offset = _base_time_part(v)
        return KTime(nanos, 0 if offset is None else offset)
    if kind == "localdatetime":
        if isinstance(v, (KLocalDateTime, KDateTime)):
            return KLocalDateTime(v.days, v.nanos)
        raise TemporalError(
            f"cannot convert {type(v).__name__} to localdatetime")
    if kind == "datetime":
        if isinstance(v, KDateTime):
            return v
        if isinstance(v, KLocalDateTime):
            return KDateTime(v.days, v.nanos, 0, None)
        raise TemporalError(
            f"cannot convert {type(v).__name__} to datetime")
    if kind == "duration":
        if isinstance(v, KDuration):
            return v
        raise TemporalError(
            f"cannot convert {type(v).__name__} to duration")
    raise TemporalError(f"unknown temporal constructor {kind}")


# -------------------------------------------------------------- accessors

def _dur_quotient(nanos: int, unit: int) -> int:
    """Truncate-toward-negative-infinity division used by duration
    seconds/minutes/hours accessors (Temporal10: PT-23H-59M-59.9S has
    seconds == -86400, nanosecondsOfSecond == 100000000)."""
    return nanos // unit


def get_component(v, name: str):
    """Temporal component accessor (``d.year`` …).  Returns None for a
    component the value doesn't carry? — no: raises, openCypher errors
    on unknown accessors; returns strings for timezone/offset."""
    n = name
    if isinstance(v, KDuration):
        table = {
            "years": lambda: v.months // 12 if v.months >= 0
            else -((-v.months) // 12),
            "quarters": lambda: v.months // 3 if v.months >= 0
            else -((-v.months) // 3),
            "months": lambda: v.months,
            "weeks": lambda: v.days // 7 if v.days >= 0
            else -((-v.days) // 7),
            "days": lambda: v.days,
            "hours": lambda: _trunc_div(v.nanos, NS_PER_HOUR),
            "minutes": lambda: _trunc_div(v.nanos, NS_PER_MIN),
            "seconds": lambda: _dur_quotient(v.nanos, NS_PER_SEC),
            "milliseconds": lambda: _dur_quotient(v.nanos, 1_000_000),
            "microseconds": lambda: _dur_quotient(v.nanos, 1000),
            "nanoseconds": lambda: v.nanos,
            "quartersofyear": lambda: (v.months // 3 if v.months >= 0
                                       else -((-v.months) // 3)) % 4,
            "monthsofquarter": lambda: v.months % 3 if v.months >= 0
            else -((-v.months) % 3),
            "monthsofyear": lambda: v.months % 12 if v.months >= 0
            else -((-v.months) % 12),
            "daysofweek": lambda: v.days % 7 if v.days >= 0
            else -((-v.days) % 7),
            "minutesofhour": lambda: _trunc_div(v.nanos, NS_PER_MIN)
            - 60 * _trunc_div(v.nanos, NS_PER_HOUR),
            "secondsofminute": lambda: _trunc_div(v.nanos, NS_PER_SEC)
            - 60 * _trunc_div(v.nanos, NS_PER_MIN),
            "millisecondsofsecond": lambda: _trunc_div(
                v.nanos, 1_000_000) - 1000 * _trunc_div(v.nanos,
                                                        NS_PER_SEC),
            "microsecondsofsecond": lambda: _trunc_div(v.nanos, 1000)
            - 1_000_000 * _trunc_div(v.nanos, NS_PER_SEC),
            "nanosecondsofsecond": lambda: v.nanos % NS_PER_SEC
            if v.nanos >= 0 else v.nanos - NS_PER_SEC * _dur_quotient(
                v.nanos, NS_PER_SEC),
        }
        fn = table.get(n.lower())
        if fn is None:
            raise TemporalError(f"unknown duration component: {name}")
        return fn()
    lower = n.lower()
    has_date = isinstance(v, (KDate, KLocalDateTime, KDateTime))
    has_time = isinstance(v, (KLocalTime, KTime, KLocalDateTime,
                              KDateTime))
    if has_date and lower in ("year", "quarter", "month", "week",
                              "weekyear", "day", "ordinalday",
                              "weekday", "dayofweek", "dayofquarter"):
        c = _date_components(v.days)
        return {"year": c["year"], "quarter": c["quarter"],
                "month": c["month"], "week": c["week"],
                "weekyear": c["weekYear"], "day": c["day"],
                "ordinalday": c["ordinalDay"],
                "weekday": c["dayOfWeek"],
                "dayofweek": c["dayOfWeek"],
                "dayofquarter": c["dayOfQuarter"]}[lower]
    if has_time and lower in ("hour", "minute", "second", "millisecond",
                              "microsecond", "nanosecond"):
        nanos = v.nanos
        return {"hour": nanos // NS_PER_HOUR,
                "minute": (nanos // NS_PER_MIN) % 60,
                "second": (nanos // NS_PER_SEC) % 60,
                "millisecond": (nanos % NS_PER_SEC) // 1_000_000,
                "microsecond": (nanos % NS_PER_SEC) // 1000,
                "nanosecond": nanos % NS_PER_SEC}[lower]
    if isinstance(v, (KTime, KDateTime)):
        if lower == "timezone":
            return v.zone if isinstance(v, KDateTime) and v.zone \
                else _offset_str(v.offset)
        if lower == "offset":
            return _offset_str(v.offset)
        if lower == "offsetminutes":
            return v.offset // 60
        if lower == "offsetseconds":
            return v.offset
    if isinstance(v, KDateTime):
        if lower == "epochseconds":
            return v.instant()[0]
        if lower == "epochmillis":
            es, ns = v.instant()
            return es * 1000 + ns // 1_000_000
    raise TemporalError(
        f"unknown component {name} for {TYPE_NAME[_TT_OF[type(v)]]}")


def _trunc_div(a: int, b: int) -> int:
    """Division truncating toward zero."""
    q = abs(a) // b
    return -q if a < 0 else q


def _offset_str(offset: int) -> str:
    if offset == 0:
        return "+00:00"
    sign = "+" if offset > 0 else "-"
    a = abs(offset)
    h, rem = divmod(a, 3600)
    m, s = divmod(rem, 60)
    out = f"{sign}{h:02d}:{m:02d}"
    if s:
        out += f":{s:02d}"
    return out


# ------------------------------------------------------------- arithmetic

def add_duration(v, dur: KDuration, sign: int = 1):
    """temporal + duration (sign=-1 for subtraction).  Calendar part
    (months, days) applies to the LOCAL date; the nanos part is
    instant-based for zoned datetimes (java.time semantics)."""
    mo, dd, nn = sign * dur.months, sign * dur.days, sign * dur.nanos
    if isinstance(v, KDate):
        # dates take months, days, and the WHOLE days inside the time
        # part (date + PT25H = date + 1 day; Temporal8 [1] #3 — the
        # sub-day remainder is dropped, truncating toward zero so
        # subtraction mirrors addition)
        return KDate(add_months_clamped(v.days, mo) + dd
                     + _trunc_div(nn, NS_PER_DAY))
    if isinstance(v, KLocalTime):
        return KLocalTime((v.nanos + nn) % NS_PER_DAY)
    if isinstance(v, KTime):
        return KTime((v.nanos + nn) % NS_PER_DAY, v.offset)
    if isinstance(v, KLocalDateTime):
        days = add_months_clamped(v.days, mo) + dd
        total = v.nanos + nn
        days += total // NS_PER_DAY
        return KLocalDateTime(days, total % NS_PER_DAY)
    if isinstance(v, KDateTime):
        days = add_months_clamped(v.days, mo) + dd
        nanos = v.nanos
        if v.zone is not None:
            offset = zone_offset_for_local(v.zone, days, nanos)
        else:
            offset = v.offset
        if nn:
            # instant-based time addition
            esec, ens = KDateTime(days, nanos, offset, v.zone).instant()
            tot = esec * NS_PER_SEC + ens + nn
            esec2, ens2 = divmod(tot, NS_PER_SEC)
            if v.zone is not None:
                offset = zone_offset_for_instant(v.zone, esec2)
            lsec = esec2 + offset
            days, sod = divmod(lsec, SEC_PER_DAY)
            nanos = sod * NS_PER_SEC + ens2
        return KDateTime(days, nanos, offset, v.zone)
    raise TemporalError(
        f"cannot add a duration to {type(v).__name__}")


def dur_add(a: KDuration, b: KDuration, sign: int = 1) -> KDuration:
    return KDuration(a.months + sign * b.months, a.days + sign * b.days,
                     a.nanos + sign * b.nanos)


def dur_scale(a: KDuration, k) -> KDuration:
    if isinstance(k, bool) or not isinstance(k, (int, float)):
        raise TemporalError("a duration can only be multiplied by a "
                            "number")
    if isinstance(k, int):
        return KDuration(a.months * k, a.days * k, a.nanos * k)
    # fractional factor: same normalization as map construction
    # (month remainder → whole days + seconds, Temporal8 [7]);
    # exact-rational scaling so per-component float rounding can't
    # drift the total by 1ns (r9 Temporal8 carry)
    from fractions import Fraction
    kf = Fraction(k)
    return _dur_normalize(a.months * kf, a.days * kf,
                          round(a.nanos * kf))


def dur_divide(a: KDuration, k) -> KDuration:
    if isinstance(k, bool) or not isinstance(k, (int, float)):
        raise TemporalError("a duration can only be divided by a "
                            "number")
    if k == 0:
        raise TemporalError("duration division by zero")
    from fractions import Fraction
    kf = 1 / Fraction(k)
    return _dur_normalize(a.months * kf, a.days * kf,
                          round(a.nanos * kf))


def dur_neg(a: KDuration) -> KDuration:
    return KDuration(-a.months, -a.days, -a.nanos)


# ------------------------------------------------------ duration.between

def _as_ldt_pair(a, b):
    """Promote between() operands to a comparable pair.  Dates promote
    to midnight; a missing date part borrows the other side's (times
    compare on a shared dummy day)."""
    def date_part(v):
        if isinstance(v, (KDate, KLocalDateTime, KDateTime)):
            return v.days if not isinstance(v, KDate) else v.days
        return None

    def time_part(v):
        if isinstance(v, KDate):
            return 0
        return v.nanos

    da, db = date_part(a), date_part(b)
    if da is None and db is None:
        da = db = 0
    elif da is None:
        da = db
    elif db is None:
        db = da
    return (da, time_part(a)), (db, time_part(b))


def _between_zoned(a, b):
    """Both operands as effective zoned datetimes when either side
    carries an offset — returns (a', b') as KDateTime with offsets, or
    None when neither side is zoned.  A LOCAL operand paired with a
    zone-NAMED operand resolves in that zone at its own wall time
    (Temporal10 [8]: local 04:00 on the Stockholm fall-back day is
    +01:00 even though the zoned side reads +02:00)."""
    aoff = getattr(a, "offset", None)
    boff = getattr(b, "offset", None)
    if aoff is None and boff is None:
        return None
    (da, na), (db, nb) = _as_ldt_pair(a, b)
    az = getattr(a, "zone", None)
    bz = getattr(b, "zone", None)

    def borrowed(days, nanos, other_zone, other_off):
        if other_zone is not None:
            return zone_offset_for_local(other_zone, days, nanos)
        return other_off or 0

    ao = aoff if aoff is not None else borrowed(da, na, bz, boff)
    bo = boff if boff is not None else borrowed(db, nb, az, aoff)
    return (KDateTime(da, na, ao, az if aoff is not None else None),
            KDateTime(db, nb, bo, bz if boff is not None else None))


def duration_between(a, b, mode: str | None = None) -> KDuration:
    """duration.between / .inMonths ('months') / .inDays ('days') /
    .inSeconds ('seconds').

    Full months first (calendar add on the start's local date, result
    compared on the timeline), then full days, then the exact
    nanosecond remainder — java.time/openCypher semantics, DST-aware
    for zoned operands.  inDays counts TOTAL days (months folded in);
    inSeconds is the pure timeline difference."""
    if isinstance(a, KDuration) or isinstance(b, KDuration):
        raise TemporalError("duration.between expects two temporal "
                            "instants")
    time_only = isinstance(a, (KTime, KLocalTime)) \
        and isinstance(b, (KTime, KLocalTime))
    zoned = _between_zoned(a, b)
    if zoned is not None:
        za, zb = zoned

        def instant_ns(z):
            es, ens = z.instant()
            return es * NS_PER_SEC + ens

        target = instant_ns(zb)

        def shifted(months: int, days: int) -> int:
            d2 = add_months_clamped(za.days, months) + days
            if za.zone is not None:
                off = zone_offset_for_local(za.zone, d2, za.nanos)
            else:
                off = za.offset
            return instant_ns(KDateTime(d2, za.nanos, off, za.zone))

        ya, ma, _ = civil_from_days(za.days)
        yb, mb, _ = civil_from_days(zb.days)
        month_guess = (yb * 12 + mb) - (ya * 12 + ma)
        shift = shifted
    else:
        (da, na), (db, nb) = _as_ldt_pair(a, b)
        target = db * NS_PER_DAY + nb

        def shift(months: int, days: int) -> int:
            return (add_months_clamped(da, months) + days) \
                * NS_PER_DAY + na

        # civil-calendar guess (error ≤ 1 month even over
        # billion-year spans — a ratio-based guess would step the
        # monotone search millions of times)
        ya, ma, _da_ = civil_from_days(da)
        yb, mb, _db_ = civil_from_days(db)
        month_guess = (yb * 12 + mb) - (ya * 12 + ma)
    if mode == "seconds":
        return KDuration(0, 0, target - shift(0, 0))
    if mode == "days":
        if time_only:
            return KDuration(0, 0, 0)
        days = _full_units(lambda k: shift(0, k), target,
                           (target - shift(0, 0)) // NS_PER_DAY)
        return KDuration(0, days, 0)
    months = 0 if time_only else \
        _full_units(lambda k: shift(k, 0), target, month_guess)
    if mode == "months":
        return KDuration(months, 0, 0)
    days = 0 if time_only else \
        _full_units(lambda k: shift(months, k), target,
                    (target - shift(months, 0)) // NS_PER_DAY)
    return KDuration(months, days, target - shift(months, days))


def _full_units(shift, target: int, guess: int) -> int:
    """Largest k (toward the target's sign) with shift(k) not past
    target — monotone search seeded by a calendar estimate."""
    k = guess
    if target >= shift(0):
        while shift(k) > target:
            k -= 1
        while shift(k + 1) <= target:
            k += 1
        return max(k, 0)
    while shift(k) < target:
        k += 1
    while shift(k - 1) >= target:
        k -= 1
    return min(k, 0)


# ------------------------------------------------------------- truncation

_TRUNC_UNITS = ("millennium", "century", "decade", "year", "weekyear",
                "quarter", "month", "week", "day", "hour", "minute",
                "second", "millisecond", "microsecond")


def truncate(kind: str, unit: str, v, overrides: dict | None = None):
    """date.truncate / time.truncate / … — truncate `v` to `unit`,
    apply `overrides`, return a value of type `kind`."""
    u = unit.lower()
    if u not in _TRUNC_UNITS:
        raise TemporalError(f"unknown truncation unit: {unit}")
    overrides = dict(overrides or {})
    has_date = isinstance(v, (KDate, KLocalDateTime, KDateTime))
    has_time = isinstance(v, (KLocalTime, KTime, KLocalDateTime,
                              KDateTime))
    date_units = ("millennium", "century", "decade", "year", "weekyear",
                  "quarter", "month", "week", "day")
    if u in date_units and not has_date:
        raise TemporalError(
            f"cannot truncate a {TYPE_NAME[_TT_OF[type(v)]]} to {unit}")
    if u not in date_units and not has_time:
        raise TemporalError(
            f"cannot truncate a {TYPE_NAME[_TT_OF[type(v)]]} to {unit}")
    days = v.days if has_date else 0
    nanos = v.nanos if has_time else 0
    if u in date_units:
        y, m, _d = civil_from_days(days)
        if u == "millennium":
            days = days_from_civil(y - y % 1000, 1, 1)
        elif u == "century":
            days = days_from_civil(y - y % 100, 1, 1)
        elif u == "decade":
            days = days_from_civil(y - y % 10, 1, 1)
        elif u == "year":
            days = days_from_civil(y, 1, 1)
        elif u == "weekyear":
            wy, _w = iso_week_of(days)
            days = days_from_iso_week(wy, 1, 1)
        elif u == "quarter":
            days = days_from_civil(y, ((m - 1) // 3) * 3 + 1, 1)
        elif u == "month":
            days = days_from_civil(y, m, 1)
        elif u == "week":
            days = days - (iso_dow(days) - 1)
        nanos = 0
    elif u == "day":
        nanos = 0
    elif u == "hour":
        nanos -= nanos % NS_PER_HOUR
    elif u == "minute":
        nanos -= nanos % NS_PER_MIN
    elif u == "second":
        nanos -= nanos % NS_PER_SEC
    elif u == "millisecond":
        nanos -= nanos % 1_000_000
    elif u == "microsecond":
        nanos -= nanos % 1000
    # rebuild a value of the requested kind, then apply overrides via
    # the map-construction path so validation/calendars are shared
    tzspec = overrides.pop("timezone", None)
    base_offset = getattr(v, "offset", None)
    base_zone = getattr(v, "zone", None)
    if kind == "date":
        out = KDate(_date_from_map(overrides, days)) if overrides \
            else KDate(days)
        return out
    if kind == "localtime":
        return KLocalTime(_time_from_map(overrides, nanos))
    if kind == "time":
        nanos2 = _time_from_map(overrides, nanos)
        if tzspec is not None:
            offset = _resolve_timezone(str(tzspec), 0, nanos2)[0]
        else:
            offset = base_offset if base_offset is not None else 0
        return KTime(nanos2, offset)
    if kind == "localdatetime":
        d2 = _date_from_map(
            {k: x for k, x in overrides.items()
             if k in _ALL_DATE_KEYS}, days)
        t2 = _time_from_map(
            {k: x for k, x in overrides.items()
             if k in _TIME_KEYS}, nanos)
        return KLocalDateTime(d2, t2)
    if kind == "datetime":
        d2 = _date_from_map(
            {k: x for k, x in overrides.items()
             if k in _ALL_DATE_KEYS}, days)
        t2 = _time_from_map(
            {k: x for k, x in overrides.items()
             if k in _TIME_KEYS}, nanos)
        if tzspec is not None:
            offset, zone = _resolve_timezone(str(tzspec), d2, t2)
        else:
            offset = base_offset if base_offset is not None else 0
            zone = base_zone
            if zone is not None:
                offset = zone_offset_for_local(zone, d2, t2)
        return KDateTime(d2, t2, offset, zone)
    raise TemporalError(f"unknown truncate target {kind}")


# ------------------------------------------------------------- comparison

def sort_key(v) -> tuple:
    """Within-type total order key. Cross-type comparison is the
    caller's business (openCypher: different temporal types are
    incomparable)."""
    if isinstance(v, KDate):
        return (v.days,)
    if isinstance(v, KLocalTime):
        return (v.nanos,)
    if isinstance(v, KTime):
        return (v.nanos - v.offset * NS_PER_SEC,)
    if isinstance(v, KLocalDateTime):
        return (v.days, v.nanos)
    if isinstance(v, KDateTime):
        return v.instant()
    raise TemporalError(
        f"{TYPE_NAME[_TT_OF[type(v)]]} values are not orderable")


def equals(a, b) -> bool:
    if type(a) is not type(b):
        return False
    if isinstance(a, KDuration):
        return (a.months, a.days, a.nanos) == (b.months, b.days, b.nanos)
    if isinstance(a, KDateTime):
        return a.instant() == b.instant() and a.offset == b.offset
    if isinstance(a, KTime):
        return a.nanos == b.nanos and a.offset == b.offset
    return sort_key(a) == sort_key(b)
