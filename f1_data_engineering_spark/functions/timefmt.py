"""F1 duration / wall-clock expression library.

The reference's "Time Format Standards" (reference: README.md:182-187) use
colon-separated millisecond strings — ``MM:SS:mmm``, ``HH:MM:SS``,
``HH:MM:SS:mmm`` — with a leading ``-`` for negatives.  The canonical
engine-side representation is DOUBLE seconds (matching how the reference
itself computes: everything passes through float seconds,
src/extract/f1_dataExtractor.py:28-35); the strings exist only at the
presentation edge.

Exact-parity notes (SURVEY.md §2.8):

* The extractor formatters ROUND to the unit (Python ``round`` =
  banker's / half-even: f1_dataExtractor.py:38-56,59-77,80-100) —
  ``rounding="half_even"`` here via ``F.bround``.
* The transformer formatters TRUNCATE toward zero
  (``int(td.total_seconds()*1000)``: f1_dataTransformer.py:67-79,82-95) —
  ``rounding="trunc"`` here (abs-then-floor ≡ trunc toward zero).
* Sign is split out before the magnitude math in both
  (f1_dataExtractor.py:44-48), so ``-0.0004 s`` renders ``-00:00:000``.
* Minutes/hours in the lead field are NOT capped at two digits —
  ``format_string('%02d')`` pads without truncating, matching Python
  ``f'{m:02d}'`` (a plain ``lpad`` would silently truncate ``123`` → ``12``).
* The parser accepts an unbounded lead field, a strict superset of the
  transformer's 2-digit regex (f1_dataTransformer.py:40) — values ≥100
  minutes emitted by the extractor's formatter (f1_dataExtractor.py:50-54)
  round-trip here instead of warning to null.  Documented divergence.

All builders are null-propagating: NULL / non-matching input → NULL out,
mirroring the reference's coerce-to-null policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import memo_col

__all__ = [
    "duration_seconds",
    "fmt_mmssms",
    "fmt_hhmmss",
    "fmt_hhmmssms",
    "parse_f1_duration",
    "parse_f1_duration_columns",
    "safe_duration_seconds",
    "wallclock_hhmmss",
    "wallclock_hhmmssms",
    "iso_utc",
    "shift_from_session_start",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def duration_seconds(c: Column | str) -> Column:
    """F1 ``robust_string_or_td_to_seconds`` (f1_dataExtractor.py:28-35):
    anything numeric-castable → double seconds, else NULL."""
    return _col(c).try_cast("double")


def _is_missing(s: Column) -> Column:
    """NULL or NaN — the reference's pd.isna guard (NaN seconds must
    render NULL, not '00:00:000' via the NaN→long cast)."""
    return s.isNull() | F.isnan(s.cast("double"))


def _unit_count(seconds: Column, scale: int, rounding: str) -> tuple[Column, Column]:
    """abs magnitude in 1/scale-second units + sign prefix string."""
    s = seconds.cast("double")
    mag = F.abs(s) * F.lit(scale)
    if rounding == "half_even":
        units = F.bround(mag, 0).cast("long")
    elif rounding == "trunc":
        units = F.floor(mag).cast("long")  # mag >= 0 ⇒ floor ≡ trunc toward 0
    else:
        raise ValueError(f"rounding must be 'half_even' or 'trunc', got {rounding!r}")
    sign = F.when(s < 0, F.lit("-")).otherwise(F.lit(""))
    return units, sign


def fmt_mmssms(c: Column | str, rounding: str = "half_even") -> Column:
    """F2/F11: double seconds → ``±MM:SS:mmm``.

    ``half_even`` = extractor variant (f1_dataExtractor.py:38-56);
    ``trunc`` = transformer variant F11 (f1_dataTransformer.py:82-95).
    Minutes are unbounded (``61:05:123`` for 3665.123 s).
    """
    s = _col(c)
    ms, sign = _unit_count(s, 1000, rounding)
    out = F.format_string(
        "%s%02d:%02d:%03d",
        sign,
        (ms / 60000).cast("long"),
        ((ms % 60000) / 1000).cast("long"),
        ms % 1000,
    )
    return F.when(_is_missing(s), F.lit(None).cast("string")).otherwise(out)


def fmt_hhmmss(c: Column | str, rounding: str = "half_even") -> Column:
    """F3: double seconds → ``±HH:MM:SS`` (f1_dataExtractor.py:59-77)."""
    s = _col(c)
    secs, sign = _unit_count(s, 1, rounding)
    out = F.format_string(
        "%s%02d:%02d:%02d",
        sign,
        (secs / 3600).cast("long"),
        ((secs % 3600) / 60).cast("long"),
        secs % 60,
    )
    return F.when(_is_missing(s), F.lit(None).cast("string")).otherwise(out)


def fmt_hhmmssms(c: Column | str, rounding: str = "half_even") -> Column:
    """F4/F10/F15: double seconds → ``±HH:MM:SS:mmm``.

    ``half_even`` = extractor F4 (f1_dataExtractor.py:80-100); ``trunc`` =
    transformer F10 (f1_dataTransformer.py:67-79) and dashboard F15
    (streamlit_app.py:61-72).
    """
    s = _col(c)
    ms, sign = _unit_count(s, 1000, rounding)
    out = F.format_string(
        "%s%02d:%02d:%02d:%03d",
        sign,
        (ms / 3600000).cast("long"),
        ((ms % 3600000) / 60000).cast("long"),
        ((ms % 60000) / 1000).cast("long"),
        ms % 1000,
    )
    return F.when(_is_missing(s), F.lit(None).cast("string")).otherwise(out)


# --- parsing ---------------------------------------------------------------

_RE_HHMMSSMS = r"^([+-]?)(\d+):(\d{2}):(\d{2}):(\d{3})$"
_RE_MMSSMS = r"^([+-]?)(\d+):(\d{2}):(\d{3})$"
_RE_HHMMSS = r"^([+-]?)(\d+):(\d{2}):(\d{2})$"


def _duration_fields(c: Column | str) -> tuple[Column, Column]:
    """The parser's two inputs: the trimmed string and its unsigned
    magnitude split on ``:``."""
    s = F.trim(_col(c))
    return s, F.split(F.regexp_replace(s, r"^[+-]", ""), ":")


def _duration_from(s: Column, p: Column) -> Column:
    """(trimmed string, split fields) → double seconds: the one shape
    dispatch both parse forms share."""
    sign = F.when(s.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))

    def fld(i: int) -> Column:
        return F.element_at(p, i).cast("double")

    return (
        F.when(
            s.rlike(_RE_HHMMSSMS),
            sign * (fld(1) * 3600 + fld(2) * 60 + fld(3) + fld(4) / 1000),
        )
        .when(
            s.rlike(_RE_MMSSMS),
            sign * (fld(1) * 60 + fld(2) + fld(3) / 1000),
        )
        .when(
            s.rlike(_RE_HHMMSS),
            sign * (fld(1) * 3600 + fld(2) * 60 + fld(3)),
        )
        .otherwise(F.lit(None).cast("double"))
    )


def parse_f1_duration(c: Column | str) -> Column:
    """F9 ``parse_custom_format_to_timedelta`` → double seconds
    (f1_dataTransformer.py:11-64).

    Three-way dispatch in the reference's precedence order:
    ``±HH:MM:SS:mmm`` | ``±MM:SS:mmm`` | ``±HH:MM:SS``; the 3-field forms
    disambiguate on the last group's width (3 digits = milliseconds).
    Empty / 'nan' / 'nat' / non-matching → NULL (warning → engine-side
    NULL, per SURVEY.md F9).

    Perf note: shapes are gated by one ``rlike`` each, and fields come
    from a shared ``split`` — 3 shape matches and one split per row
    instead of 18 per-group ``regexp_extract`` calls.  As one expression
    the trimmed string and the split are written out again at every
    use: a projection of many such columns (``laps_data`` has 11) grows
    past the JVM's 64 KB method limit and runs without whole-stage
    codegen.  :func:`parse_f1_duration_columns` is the form for whole
    frames: it computes the two inputs once per column in a lower
    projection and runs the same dispatch over them in an upper one.
    A regex-free variant (split + translate width/digit checks) was
    A/B-measured slower — 1.50s vs 0.42s at sf0.1, 1.07s vs 0.72s at
    sf1 on the roundtrip scan.  Hypothesis property tests in
    tests/test_timefmt.py pin the accepted input language of both forms.
    """
    return _duration_from(*_duration_fields(c))


def _part_names(name: str) -> tuple[str, str]:
    return f"__{name}_trimmed", f"__{name}_fields"


@memo_col
def _duration_parts(name: str) -> list[Column]:
    """Lower projection of one duration column: its two parser inputs
    under temporary names (memo_col: built once per process)."""
    s_name, p_name = _part_names(name)
    s, p = _duration_fields(name)
    return [s.alias(s_name), p.alias(p_name)]


@memo_col
def _duration_value(name: str) -> Column:
    """Upper projection of one duration column: seconds from the lower
    projection's two attributes, under the column's own name."""
    s_name, p_name = _part_names(name)
    return _duration_from(F.col(s_name), F.col(p_name)).alias(name)


def parse_f1_duration_columns(df: DataFrame, names: list[str]) -> DataFrame:
    """:func:`parse_f1_duration` over the columns ``names`` of ``df``,
    in place, as two stacked projections.

    The lower one adds each column's trimmed string and split fields;
    the upper one maps them to seconds and drops them.  The optimizer
    keeps the two apart (each attribute is used more than once above),
    so every column's string work runs once per row and the generated
    code stays small enough to compile.
    """
    if not names:
        return df
    lower = df.select("*", *(part for c in names for part in _duration_parts(c)))
    return lower.select(*(_duration_value(c) if c in names else c for c in df.columns))


_RE_SAFE3 = r"^([+-]?)(\d+):(\d+):(\d+):(\d+)$"
_RE_SAFE2 = r"^([+-]?)(\d+):(\d+):(\d+(?:\.\d+)?)$"
_RE_SAFE_INT = r"^[+-]?\d+$"


def safe_duration_seconds(c: Column | str) -> Column:
    """F14 ``safe_to_timedelta_seconds`` (streamlit_app.py:41-59),
    reference-exact.

    The dashboard flips the LAST colon to a dot iff the string has
    exactly three colons, then hands everything to
    ``pd.to_timedelta(errors='coerce')``.  Reproduced faithfully:

    * 3 colons → ``HH:MM:SS.frac`` — the last group is a DECIMAL
      FRACTION of a second (pandas semantics: ``:45`` → 0.45 s, not 45
      ms), fields unbounded;
    * 2 colons → ``HH:MM:SS`` with UNBOUNDED seconds — pandas parses
      ``01:30:456`` as 1 h 30 m 456 s = 5856 s.  NB this means the
      transformer's own ``MM:SS:mmm`` lap strings MISPARSE here
      (90.456 s renders as ``01:30:456`` and reads back as 5856 s);
      that is the reference dashboard's actual behavior
      (streamlit_app.py:49-55 feeding pd.to_timedelta), so parity
      keeps it.  Use :func:`parse_f1_duration` for the format-aware
      parse that round-trips correctly;
    * bare INTEGER strings → nanoseconds (``'42'`` → 4.2e-8 s — pandas
      treats unitless integers as ns);
    * anything else (incl. 1-colon strings and float strings like
      ``'12.5'`` — pandas coerces both to NaT) → NULL.

    All cases verified against ``pd.to_timedelta(errors='coerce')``
    directly.
    """
    s = F.trim(_col(c))

    def sign(regex: str) -> Column:
        return F.when(F.regexp_extract(s, regex, 1) == "-", F.lit(-1.0)).otherwise(
            F.lit(1.0)
        )

    def g(regex: str, i: int) -> Column:
        return F.regexp_extract(s, regex, i).cast("double")

    frac = F.concat(F.lit("0."), F.regexp_extract(s, _RE_SAFE3, 5)).cast("double")
    return (
        F.when(
            s.rlike(_RE_SAFE3),
            sign(_RE_SAFE3)
            * (g(_RE_SAFE3, 2) * 3600 + g(_RE_SAFE3, 3) * 60 + g(_RE_SAFE3, 4) + frac),
        )
        .when(
            s.rlike(_RE_SAFE2),
            sign(_RE_SAFE2)
            * (g(_RE_SAFE2, 2) * 3600 + g(_RE_SAFE2, 3) * 60 + g(_RE_SAFE2, 4)),
        )
        .when(s.rlike(_RE_SAFE_INT), s.cast("double") / 1e9)
        .otherwise(F.lit(None).cast("double"))
    )


# --- wall-clock / timestamp ------------------------------------------------


def wallclock_hhmmssms(ts: Column | str) -> Column:
    """F5 ``format_arrow_to_hhmmssms``: timestamp → ``HH:mm:ss:SSS``
    (f1_dataExtractor.py:103-109).  Session timezone applies (the engine
    stores UTC; render local by setting a session tz or pre-converting
    with ``from_utc_timestamp``)."""
    return F.date_format(_col(ts), "HH:mm:ss:SSS")


def wallclock_hhmmss(ts: Column | str) -> Column:
    """F6 ``format_arrow_to_hhmmss``: timestamp → ``HH:mm:ss``
    (f1_dataExtractor.py:112-118)."""
    return F.date_format(_col(ts), "HH:mm:ss")


def iso_utc(ts: Column | str) -> Column:
    """F8: ISO-8601 serialization (f1_dataExtractor.py:145,158,169)."""
    return F.date_format(_col(ts), "yyyy-MM-dd'T'HH:mm:ssXXX")


def shift_from_session_start(start_ts: Column | str, offset_seconds: Column | str) -> Column:
    """F7/J2: absolute time = session start + per-row float-second offset
    (f1_dataExtractor.py:219,237,322).

    Added as a day-time interval so sub-second offsets survive (a
    unix_timestamp round-trip would truncate to whole seconds).  With a
    literal/broadcast ``start_ts`` this is the degenerate broadcast join J2.
    """
    return _col(start_ts) + F.make_dt_interval(secs=_col(offset_seconds).cast("double"))
