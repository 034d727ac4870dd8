"""eds.dates: French date mention extraction + normalization, native SQL.

Parity target: edsnlp/pipes/misc/dates/dates.py:28 and models.py:44-460 —
absolute dates ("25 septembre 2021", "25/09/2021"), with partial-date
inference against note_datetime (models.py:104-178: a missing year/month
is filled from the note date), normalized to a DATE.

Spark design (SURVEY.md §2.8): regexp scan + arithmetic — fully native,
whole-stage codegen, DuckDB-oracle checkable.  Relative dates/durations
("il y a 3 jours") are parsed into day offsets applied to note_datetime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..core.base import Transformer
from ..functions.text import let_bound, norm_text
from ..core import caching
from ..functions.memo import memo_column as _memo_column
from .. import registry

FR_MONTHS = [
    "janvier", "fevrier", "mars", "avril", "mai", "juin", "juillet",
    "aout", "septembre", "octobre", "novembre", "decembre",
]
# Accent-folded (matching runs on NORM); also accept common abbreviations.
FR_MONTH_ABBREV = {
    "janv": 1, "fevr": 2, "fev": 2, "mar": 3, "avr": 4, "juil": 7,
    "juill": 7, "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
}

# Verbose date: "25 septembre 2021", "1er mars 1998", "25 sept. 2021"
VERBOSE_DATE_RX = (
    r"\b(\d{1,2})(?:er)?\s+([a-z]+)\.?\s+(\d{4})\b"
)
# Numeric dates, mirroring the reference's atomic pattern semantics
# (edsnlp/pipes/misc/dates/patterns/atomic/{days,months,years,
# delimiters}.py + false_positive.py):
#   * day/month validated at the pattern level (01-31 / 01-12), so
#     "12.0-16" / "03-0.70" range artifacts never match;
#   * the two delimiters must be IDENTICAL (one pattern per delimiter)
#     — mixed "4.09-11" is a lab-value range, not a date;
#   * year is 19xx / 20xx / two-digit (century rule in
#     parse_numeric_date: <25 -> 2000+y, else unparseable, span kept —
#     models.py:213-220);
#   * not glued to surrounding digits or delimiters (ante/post guards).
_D = r"(0?[1-9]|[12]\d|3[01])"   # day 1-31
_M = r"(0?[1-9]|1[0-2])"         # month 1-12
_Y = r"(19\d\d|20\d\d|\d\d)"     # year
_ANTE = r"(?<![\d/.\-])"
_POST = r"(?![/\-a-zA-Z])(?![.,:]?\d)"
# One pattern per delimiter (like the reference builds one pattern per
# `d in delimiters`), NOT a backreference: patterns are later OR-joined
# by the matcher, which renumbers groups and would break \2.
_DELIMS = (r"/", r"\.", r"-")
NUMERIC_DATE_RXS = [
    _ANTE + _D + d + _M + d + _Y + _POST for d in _DELIMS
]
# ISO / year-first: 2021-08-09, 2021/08/09 (reference full_date pattern)
ISO_DATE_RXS = [
    _ANTE + r"(19\d\d|20\d\d)" + d + _M + d + _D + _POST for d in _DELIMS
]
# Space-delimited: "03 07 19" (delimiters.py allows [^\S]+); the
# lookarounds reject phone-number runs "06 12 34 56 78"
# (false_positive.py phone_patterns) by refusing digit neighbors.
NUMERIC_DATE_SPACE_RX = (
    r"(?<!\d)(?<!\d )" + _D + r" " + _M + r" " + _Y + r"(?! ?\d)(?![.,:]\d)"
)
# Numeric month/year: "11/2017" (slash only — "11-2017" reads as a
# numeric range too often). Resolves to the 1st of the month, like the
# verbose month+year partial.
MONTH_YEAR_NUM_RX = (
    r"(?<![\d/.\-])" + _M + r"/(19\d\d|20\d\d)" + _POST
)
# Back-compat single-name exports (slash variant is the canonical one).
NUMERIC_DATE_RX = NUMERIC_DATE_RXS[0]
ISO_DATE_RX = ISO_DATE_RXS[0]
# Every absolute-date pattern, in precedence order, for mention scans.
ABSOLUTE_DATE_RXS = (
    [VERBOSE_DATE_RX] + NUMERIC_DATE_RXS + ISO_DATE_RXS
    + [NUMERIC_DATE_SPACE_RX, MONTH_YEAR_NUM_RX]
)
# Relative: "il y a 3 jours/semaines/mois/ans"
RELATIVE_RX = r"\bil y a (\d+) (jour|jours|semaine|semaines|mois|an|ans)\b"


def month_number(name: Column) -> Column:
    """French month name/abbrev (accent-folded, lowercase) -> 1..12."""
    full = F.array_position(
        F.array(*[F.lit(m) for m in FR_MONTHS]), name
    ).cast("int")
    out = F.when(full > 0, full)
    for ab, num in FR_MONTH_ABBREV.items():
        out = out.when(name == ab, F.lit(num))
    return out


def parse_verbose_date(text: Column) -> Column:
    """First verbose French date in ``text`` -> DATE (null if none/invalid)."""
    day = F.regexp_extract(text, VERBOSE_DATE_RX, 1)
    mon = F.regexp_extract(text, VERBOSE_DATE_RX, 2)
    year = F.regexp_extract(text, VERBOSE_DATE_RX, 3)
    return F.when(
        (day != "") & (month_number(mon).isNotNull()),
        F.try_to_date(
            F.format_string(
                "%s-%s-%s", year, month_number(mon).cast("string"), day
            ),
            "y-M-d",
        ),
    )


def _resolve_year(year: Column) -> Column:
    """Two-digit years: <25 -> 2000+y; 25-99 -> null (reference
    models.py:213-220 drops the year, making the date unparseable while
    the span survives). Four-digit years pass through."""
    y = year.cast("int")
    return F.when(F.length(year) == 2,
                  F.when(y < 25, y + 2000)).otherwise(y)


def _ymd(year: Column, mon: Column, day: Column) -> Column:
    return F.try_to_date(
        F.format_string("%s-%s-%s", year.cast("string"), mon, day), "y-M-d")


def parse_numeric_date(text: Column) -> Column:
    """First numeric date (dd/mm/yyyy incl. 2-digit year, yyyy-mm-dd,
    'dd mm yy') -> DATE; null if absent or not a real calendar date."""
    branches = []
    for rx in NUMERIC_DATE_RXS + [NUMERIC_DATE_SPACE_RX]:
        d = F.regexp_extract(text, rx, 1)
        m = F.regexp_extract(text, rx, 2)
        y = F.regexp_extract(text, rx, 3)
        branches.append(F.when(d != "", _ymd(_resolve_year(y), m, d)))
    for rx in ISO_DATE_RXS:
        y = F.regexp_extract(text, rx, 1)
        m = F.regexp_extract(text, rx, 2)
        d = F.regexp_extract(text, rx, 3)
        branches.append(F.when(d != "", _ymd(y.cast("int"), m, d)))
    my_m = F.regexp_extract(text, MONTH_YEAR_NUM_RX, 1)
    my_y = F.regexp_extract(text, MONTH_YEAR_NUM_RX, 2)
    branches.append(
        F.when(my_m != "", _ymd(my_y.cast("int"), my_m, F.lit("1"))))
    return F.coalesce(*branches)


def parse_relative_days(text: Column) -> Column:
    """'il y a N <unit>' -> day offset (negative, into the past)."""
    n = F.regexp_extract(text, RELATIVE_RX, 1)
    unit = F.regexp_extract(text, RELATIVE_RX, 2)
    days_per = (
        F.when(unit.startswith("jour"), 1)
        .when(unit.startswith("semaine"), 7)
        .when(unit == "mois", 30)
        .when(unit.startswith("an"), 365)
    )
    return F.when(n != "", -(n.cast("int") * days_per))


# Partial dates (models.py:104-178): missing components fall back to
# note_datetime.  "en mars" -> (year of note, 3, 1); "le 25" -> (year,
# month of note, 25); "en 2019" -> (2019, 1, 1).
PARTIAL_MONTH_RX = r"\ben ([a-z]+)\b(?!\s+\d{4})"
MONTH_YEAR_RX = r"\ben ([a-z]+) (\d{4})\b"
PARTIAL_DAY_RX = r"\ble (\d{1,2})\b(?![/.\-\d])(?!\s+[a-z]+\s+\d{4})"
PARTIAL_YEAR_RX = r"\ben (\d{4})\b"


def parse_partial_date(text: Column, note_dt: Column) -> Column:
    """First partial date resolved against note_datetime; null when the
    needed component of note_datetime is itself null (the reference's
    nullability rule: inference requires an anchor)."""
    mon_name = F.regexp_extract(text, PARTIAL_MONTH_RX, 1)
    day = F.regexp_extract(text, PARTIAL_DAY_RX, 1)
    year = F.regexp_extract(text, PARTIAL_YEAR_RX, 1)
    my_mon = F.regexp_extract(text, MONTH_YEAR_RX, 1)
    my_year = F.regexp_extract(text, MONTH_YEAR_RX, 2)
    m = month_number(mon_name)
    my_m = month_number(my_mon)
    by_month_year = F.when(
        (my_mon != "") & my_m.isNotNull(),
        F.try_to_date(
            F.format_string("%s-%s-1", my_year, my_m.cast("string")),
            "y-M-d"),
    )
    by_year = F.when(
        year != "", F.try_to_date(F.concat(year, F.lit("-1-1")), "y-M-d"))
    by_month = F.when(
        (mon_name != "") & m.isNotNull() & note_dt.isNotNull(),
        F.try_to_date(
            F.format_string("%s-%s-1", F.year(note_dt).cast("string"),
                            m.cast("string")), "y-M-d"),
    )
    by_day = F.when(
        (day != "") & note_dt.isNotNull(),
        F.try_to_date(
            F.format_string("%s-%s-%s", F.year(note_dt).cast("string"),
                            F.month(note_dt).cast("string"), day), "y-M-d"),
    )
    return F.coalesce(by_month_year, by_month, by_year, by_day)


# Time suffix after a date mention: "à 11h34", "a 11 h", "11h"
# (reference atomic/time.py; norm '<date> HHhMMm' per models.py:199-206)
TIME_SUFFIX_RX = r"^\s*(?:a\s+)?(\d{1,2})\s*h\s*(\d{1,2})?(?![\d])"


def date_mentions(notes: DataFrame,
                  detect_time: bool = False) -> DataFrame:
    """ALL date mentions with char anchors + parsed values — the dates
    TABLE other pipes consume (eds.history recency, consultation_dates).
    Native regex scan; one row per mention.

    ``detect_time`` (dates.py detect_time flag) also reads an immediate
    "à HHhMM" suffix and emits ``norm`` as 'YYYY-MM-DD HHhMMm' like the
    reference's AbsoluteDate.norm() (models.py:199-206)."""
    from .matcher import RegexMatcher
    d = RegexMatcher(
        {"date": ABSOLUTE_DATE_RXS},
        attr="NORM", span_type="date", native=True,
    ).entities(notes)
    if detect_time:
        txt = notes.select("note_id",
                           norm_text(F.col("note_text")).alias("__nt"))
        d = d.join(txt, "note_id")
        after = F.substring(
            "__nt", F.col("end_char") + 1, F.lit(12))
        hh = F.regexp_extract(after, TIME_SUFFIX_RX, 1)
        mm = F.regexp_extract(after, TIME_SUFFIX_RX, 2)
        d = d.withColumn(
            "time_norm",
            F.when(hh != "", F.concat(
                F.lpad(hh, 2, "0"), F.lit("h"),
                F.when(mm != "", F.lpad(mm, 2, "0")).otherwise("00"),
                F.lit("m"))),
        ).drop("__nt")
    parsed = F.coalesce(
        parse_verbose_date(F.col("lexical_variant")),
        parse_numeric_date(F.col("lexical_variant")),
    )
    if detect_time:
        norm = F.when(
            parsed.isNotNull() & F.col("time_norm").isNotNull(),
            F.concat(F.date_format(parsed, "yyyy-MM-dd"), F.lit(" "),
                     F.col("time_norm")),
        ).otherwise(F.date_format(parsed, "yyyy-MM-dd"))
        return d.select(
            "note_id", "start_char", "end_char", "lexical_variant",
            parsed.alias("parsed_date"), norm.alias("norm"),
        )
    return d.select(
        "note_id", "start_char", "end_char", "lexical_variant",
        parsed.alias("parsed_date"),
    )


# Period: "du <date> au <date>" (bounds/periods, dates.py linking logic)
PERIOD_RX = r"\bdu\s+(.{4,30}?)\s+(?:au|jusqu'au)\s+(.{4,30}?)(?=[,.;]|$)"


def parse_period(text: Column) -> Column:
    """First 'du X au Y' period -> struct<start date, end date> (null
    unless both bounds parse)."""
    left = F.regexp_extract(text, PERIOD_RX, 1)
    right = F.regexp_extract(text, PERIOD_RX, 2)

    def any_date(c: Column) -> Column:
        return F.coalesce(parse_verbose_date(c), parse_numeric_date(c))

    start, end = any_date(left), any_date(right)
    return F.when(
        start.isNotNull() & end.isNotNull(),
        F.struct(start.alias("start"), end.alias("end")),
    )


# ---- full temporal-mention model (durations / relatives / bounds) -----
# Parity: edsnlp/pipes/misc/dates/patterns/atomic/{numbers,units,
# directions,modes}.py, patterns/{duration,relative,current}.py and the
# models.py:179-460 Duration / RelativeDate norm()/to_duration() rules.
# All patterns avoid lookarounds so a DuckDB (RE2) oracle can re-derive
# them; matching runs on NORM (lowercase, accent-folded).

# Letter numbers (atomic/numbers.py:3-35; value order, longest-first
# alternation so 'vingt-deux' wins over 'vingt', 'dix-sept' over 'dix').
LETTER_NUMBERS: list[tuple[str, int]] = [
    ("vingt[-\\s]et[-\\s]un", 21), ("vingt[-\\s]deux", 22),
    ("vingt[-\\s]trois", 23), ("vingt[-\\s]quatre", 24),
    ("vingt[-\\s]cinq", 25), ("vingt[-\\s]six", 26),
    ("vingt[-\\s]sept", 27), ("vingt[-\\s]huit", 28),
    ("vingt[-\\s]neuf", 29), ("vingt", 20), ("trente", 30),
    ("dix[-\\s]sept", 17), ("dix[-\\s]huit", 18), ("dix[-\\s]neuf", 19),
    ("quatorze", 14), ("quatre", 4), ("quinze", 15), ("seize", 16),
    ("treize", 13), ("douze", 12), ("onze", 11), ("dix", 10),
    ("deux", 2), ("trois", 3), ("cinq", 5), ("six", 6), ("sept", 7),
    ("huit", 8), ("neuf", 9),
    ("une?", 1), ("l'", 1), ("le", 1), ("la", 1),
    ("cette", 1), ("cet", 1), ("ce", 1),
]
NUMBER_RX = "(" + "|".join(p for p, _ in LETTER_NUMBERS[:1]) + "|" + "|".join(
    p for p, _ in LETTER_NUMBERS[1:]) + r"|\d{1,3})"

# Units (atomic/units.py:3-14) -> seconds.  Deviation from the
# reference, documented: semestre/trimestre parse there but silently
# contribute 0 to to_duration() (Relative has no such field,
# models.py:223-260); here they count as 180/90 days.
UNIT_SECONDS: list[tuple[str, str, int]] = [
    # (regex, canonical key, seconds)
    (r"annees?", "year", 365 * 86400), (r"ans?", "year", 365 * 86400),
    (r"semestres?", "semester", 180 * 86400),
    (r"trimestres?", "trimester", 90 * 86400),
    (r"mois", "month", 30 * 86400),
    (r"semaines?", "week", 7 * 86400),
    (r"journees?", "day", 86400), (r"jours?", "day", 86400),
    (r"heures?", "hour", 3600), (r"h", "hour", 3600),
    (r"minutes?", "minute", 60), (r"min", "minute", 60),
    (r"secondes?", "second", 1), (r"sec", "second", 1), (r"s", "second", 1),
]
UNIT_RX = "(" + "|".join(p for p, _, _ in UNIT_SECONDS) + ")"

_FWD_CUE = r"(depuis\s+le|depuis|il\s+y\s+a|dans)"
_BWD_CUE = (r"(prochaines?|prochains?|suivantes?|suivants?|plus\s+tard"
            r"|dernieres?|derniers?|passees?|passes?"
            r"|precedentes?|precedents?|plus\s+tot)")

DURATION_RX = rf"\b(?:pendant|durant|pdt).{{0,3}}{NUMBER_RX}\s*{UNIT_RX}\b"
RELATIVE_FWD_RX = rf"\b{_FWD_CUE}\s+{NUMBER_RX}\s*{UNIT_RX}\b"
RELATIVE_BWD_RX = rf"\b{NUMBER_RX}\s*{UNIT_RX}\s+{_BWD_CUE}\b"
# optional "depuis " prefix folds into the span so the from-bound rule
# fires on "depuis hier" (reference since-mode, modes.py)
SPECIFIC_RX = (r"(?:\bdepuis\s+)?"
               r"(?:\bavant[-\s]hier\b|\bhier\b"
               r"|\bapres[-\s]demain\b|\bdemain\b)")
# "all"-mode relative (relative.py make_specific_pattern(mode="all")):
# preceding direction + number + unit + following direction, e.g.
# "depuis la semaine derniere" — ordered before FWD/BWD in the scan so
# Python's first-alternative-wins keeps the longest span.
RELATIVE_ALL_RX = (rf"\b{_FWD_CUE}\s+{NUMBER_RX}\s*{UNIT_RX}"
                   rf"\s+{_BWD_CUE}\b")
CURRENT_RX = (r"\bcette\s+annee\b|\bce\s+jour\b|\baujourd'?\s?hui\b"
              r"|\bcette\s+semaine\b|\bces\s+jours[-\s]ci\b"
              r"|\bce\s+mois(?:[-\s]ci)?\b")

# ---- partial-absolute families (patterns/absolute.py no_year /
# no_day / full_year shapes) — each family has its own capture layout;
# the scan ORs them in this order (first-alternative-wins ≈ longest).
# Month-name alternation mirrors atomic/months.py:3-17 (accent-folded,
# optional-dot abbreviations), longest-first per month.
_MN = (r"(janvier|janv\.?|fevrier|fev\.?|mars|mar\.?|avril|avr\.?|mai"
       r"|juin|juillet|juill\.?|juil\.?|aout|septembre|sept\.?|sep\."
       r"|octobre|oct\.?|novembre|nov\.?|decembre|dec\.?)")
# day + month name [+ year]: "4 août", "1er Septembre", "25 sept. 2021",
# "11 janvier\n2017" (the delimiter class includes newline like
# raw_delimiter_with_spaces_pattern).
ABS_DMN_RX = (r"(?<!\d)(0?[1-9]|[12]\d|3[01])\s*(?:er)?[\s./-]{1,3}"
              + _MN + r"(?:\.?\s{1,3}(19\d\d|20\d\d))?(?!\d)")
# month name + year: "octobre 2020", "sept 2017", "Décembre 2004"
ABS_MYN_RX = (r"(?<![a-z])" + _MN
              + r"\.?\s{1,3}(19\d\d|20\d\d)(?!\d)")
# day + numeric month, no year: "09/08", "07/01" (raw_delimiters / and -)
ABS_DM_NUM_RXS = [_ANTE + _D + d + _M + _POST for d in (r"/", r"-")]
# standalone FULL month name ("août").  Deviation from the reference,
# documented: dotless short abbreviations ("sept", "mar") standalone are
# pathologically ambiguous (sept = 7), so only full names match alone.
ABS_MONTH_RX = (r"(?<![a-z])(janvier|fevrier|mars|avril|mai|juin|juillet"
                r"|aout|septembre|octobre|novembre|decembre)(?![a-z])")
# standalone full year ("2019"): not glued to other date/number runs.
ABS_YEAR_RX = r"(?<![\d/.\-])(19\d\d|20\d\d)(?!\d)(?![./-]\d)"
# False positives (false_positive.py): pagination "1/3" + phone runs.
# Registered FIRST like dates.py:279 — on equal-span ties the FP match
# must win the greedy overlap resolution, then be dropped.
FALSE_POSITIVE_RXS = [r"\d/\d"] + [
    r"(?:\d\d" + d + r"){3,}\d\d" for d in (r"/", r"-", r"\.", r"\s+")
]
# Scan order within the "absolute" label (Python alternation is
# first-alternative-wins at each position, so longer families go first).
ABS_FAMILY_RXS = (
    NUMERIC_DATE_RXS + ISO_DATE_RXS + [NUMERIC_DATE_SPACE_RX, ABS_DMN_RX,
    MONTH_YEAR_NUM_RX] + ABS_DM_NUM_RXS + [ABS_MYN_RX, ABS_MONTH_RX,
    ABS_YEAR_RX]
)

# Bound cues checked in the chars just before an absolute date
# (atomic/modes.py:3-8; suffix test instead of the reference's
# lookbehind so the oracle stays RE2-compatible).
_BOUND_FROM_SUFFIX = r"(du|depuis\s+le|depuis|a\s+partir\s+d[eu])\s{1,3}$"
_BOUND_UNTIL_SUFFIX = r"(jusqu'au?|jusqu'a|au)\s{1,3}$"


# Concrete token -> value maps (one literal MAP expression each instead
# of a 35-branch regex when-chain: the chain blew the JVM 64KB codegen
# method limit once inlined into every output column, forcing the slow
# interpreted fallback).
_LETTER_VALUE: dict[str, int] = {
    "un": 1, "une": 1, "l'": 1, "le": 1, "la": 1,
    "cette": 1, "cet": 1, "ce": 1,
    "deux": 2, "trois": 3, "quatre": 4, "cinq": 5, "six": 6, "sept": 7,
    "huit": 8, "neuf": 9, "dix": 10, "onze": 11, "douze": 12,
    "treize": 13, "quatorze": 14, "quinze": 15, "seize": 16,
    "dix sept": 17, "dix huit": 18, "dix neuf": 19, "vingt": 20,
    "vingt et un": 21, "vingt deux": 22, "vingt trois": 23,
    "vingt quatre": 24, "vingt cinq": 25, "vingt six": 26,
    "vingt sept": 27, "vingt huit": 28, "vingt neuf": 29, "trente": 30,
}
_UNIT_TOKENS: dict[str, tuple[str, int]] = {}
for _pat, _key, _secs in UNIT_SECONDS:
    if _pat.endswith("s?"):
        _UNIT_TOKENS[_pat[:-2]] = (_key, _secs)
        _UNIT_TOKENS[_pat[:-2] + "s"] = (_key, _secs)
    else:
        _UNIT_TOKENS[_pat] = (_key, _secs)


def _lit_map(d: dict) -> Column:
    return F.create_map(*[x for k, v in d.items()
                          for x in (F.lit(k), F.lit(v))])


def _number_value(numstr: Column) -> Column:
    """Matched number token -> int (letter map or numeric)."""
    canon = F.regexp_replace(numstr, r"[-\s]+", " ")
    return F.coalesce(
        F.when(canon.rlike(r"^\d+$"), canon.cast("int")),
        _lit_map(_LETTER_VALUE)[canon],
    )


def _unit_seconds(unitstr: Column) -> Column:
    return _lit_map({k: s for k, (_, s) in _UNIT_TOKENS.items()})[
        unitstr].cast("bigint")


def _unit_key(unitstr: Column) -> Column:
    return _lit_map({k: key for k, (key, _) in _UNIT_TOKENS.items()})[unitstr]


def _str_timedelta(total_secs: Column) -> Column:
    """Python ``str(timedelta)`` on signed seconds, with the reference's
    ``", 0:00:00"`` suffix strip (models.py:329-332, 365-372): floor
    division normalizes (-36h -> '-2 days, 12:00:00'); whole days ->
    '3 days' / '-1 day'; sub-day -> 'H:MM:SS'."""
    days = F.floor(total_secs / F.lit(86400)).cast("bigint")
    rem = (total_secs - days * 86400).cast("bigint")  # always 0..86399
    hms = F.format_string("%d:%02d:%02d", (rem / 3600).cast("int"),
                          ((rem % 3600) / 60).cast("int"),
                          (rem % 60).cast("int"))
    day_word = F.when(F.abs(days) == 1, F.lit(" day")).otherwise(F.lit(" days"))
    return (
        F.when((days != 0) & (rem == 0),
               F.concat(days.cast("string"), day_word))
        .when(days != 0,
              F.concat(days.cast("string"), day_word, F.lit(", "), hms))
        .otherwise(hms)
    )


@caching.leased
def temporal_mentions(notes: DataFrame, text_col: str = "note_text") -> DataFrame:
    """ALL temporal mentions (absolute / relative / duration / current)
    as one flat table:

    (note_id, start_char, end_char, lexical_variant, kind, direction,
     bound, offset_seconds, norm, parsed_date)

    * kind='absolute': parsed_date set, norm 'YYYY-MM-DD'; bound from
      the preceding cue ('du'/'depuis' -> from, 'jusqu'au'/'au' ->
      until, modes.py:3-8).
    * kind='relative': offset_seconds signed (past<0), norm '±N days' /
      '±H:MM:SS' / '~0 <unit>' (models.py:316-331); specifics
      hier/demain/… per relative.py:33-38.
    * kind='duration': offset_seconds>0, norm 'during N days'
      (models.py:362-385).
    """
    from .matcher import RegexMatcher
    g = RegexMatcher(
        {
            # "FP" sorts before the lowercase labels in the overlap
            # resolver's tie-break, mirroring dates.py:279-282 where
            # false_positive patterns are registered FIRST and win
            # equal-span ties in filter_spans (then get dropped).
            "FP": FALSE_POSITIVE_RXS,
            "absolute": ABS_FAMILY_RXS,
            "relative": [RELATIVE_ALL_RX, RELATIVE_FWD_RX,
                         RELATIVE_BWD_RX, SPECIFIC_RX],
            "current": [CURRENT_RX],
            "duration": [DURATION_RX],
        },
        attr="NORM", span_type="date", text_col=text_col,
    ).entities_grouped(notes)
    # Greedy longest-leftmost overlap resolution across families
    # (dates.py:350) IN-ROW: entities_grouped keeps one row per note,
    # so the resolve is the same sorted greedy fold as filter_spans
    # (identical struct sort order: neg_len, start, end, label, then
    # payload) over an array column — NO groupBy shuffle, and the
    # source text rides along instead of a notes re-join (r4; was two
    # extra exchanges).  FP matches are dropped after resolution, like
    # dates.py:352.
    def _overlap_resolved():
        # pure function of the 'ms' column name — memoizable template
        # (r15; the r4 memo_column rule: nested-HOF construction is
        # py4j-chatty and identical across calls)
        spans = F.sort_array(F.transform("ms", lambda s: F.struct(
            (-(s["end_char"] - s["start_char"])).cast("int")
            .alias("neg_len"),
            s["start_char"].alias("start"),
            s["end_char"].alias("end"),
            s["label"].alias("label"),
            s["lexical_variant"].alias("lexical_variant"),
            F.lit("date").alias("span_type"),
            s["full_start"].alias("full_start"),
            s["full_end"].alias("full_end"),
        )))
        kept = let_bound(spans, lambda sp: F.aggregate(
            sp,
            F.slice(sp, 1, 0),
            lambda acc, s: F.when(
                F.exists(acc, lambda k: (s["start"] < k["end"])
                         & (k["start"] < s["end"])),
                acc,
            ).otherwise(F.array_append(acc, s)),
        ))
        return F.explode(kept).alias("s")

    exploded_kept = _memo_column(("dates_overlap_resolve",),
                                 _overlap_resolved)
    m = g.select(
        "note_id", "__text", exploded_kept
    ).filter(F.col("s.label") != "FP")
    # Materialization barrier (persist).  The downstream classification
    # is ~50 regexp_extracts over the normalized variant plus the
    # component-struct coalesce; adjacent .select()s do NOT protect it —
    # Catalyst's ProjectCollapsing fuses them back into the upstream
    # doConsume, whose generated method cannot be split and overflows
    # the JVM 64 KB codegen limit (stage silently runs interpreted).
    # Persisting the compact mention plane (a) puts the giant
    # projection over an InMemoryTableScan where expression splitting
    # works, and (b) materializes norm_text(variant) ONCE instead of
    # re-deriving it inside every extract.
    m = m.select(
        "note_id",
        F.col("s.start").cast("int").alias("start_char"),
        F.col("s.end").cast("int").alias("end_char"),
        F.col("s.lexical_variant").alias("lexical_variant"),
        F.col("s.label").alias("label"),
        "__text", norm_text(F.col("s.lexical_variant")).alias("__v"),
    )
    m = caching.persist(m)
    stages = _memo_column(("temporal_classification",),
                          _temporal_classification_stages)
    out = m
    for args in stages:
        out = out.select(*args)
    return out


class _ArgCapture:
    """Select-argument recorder: lets the classification block below run
    verbatim while we harvest its three projection stages for
    memoization (functions/memo.py — the block is ~2s of driver-side
    expression construction per call, all name-based)."""

    def __init__(self):
        self.stages: list = []

    def select(self, *args):
        self.stages.append(list(args))
        return self


def _temporal_classification_stages() -> list:
    m = _ArgCapture()
    v = F.col("__v")
    num = F.regexp_extract(v, NUMBER_RX + r"\s*" + UNIT_RX, 1)
    unit = F.regexp_extract(v, NUMBER_RX + r"\s*" + UNIT_RX, 2)
    nval = _number_value(num)
    usecs = _unit_seconds(unit)
    magnitude = (nval.cast("bigint") * usecs)

    direction = (
        F.when(F.col("label") == "current", F.lit("current"))
        .when(F.col("label") == "duration", F.lit(None).cast("string"))
        .when(v.rlike(r"^(?:depuis\s+)?(avant[-\s]hier|hier)"),
              F.lit("past"))
        .when(v.rlike(r"^(?:depuis\s+)?(apres[-\s]demain|demain)"),
              F.lit("future"))
        .when(v.rlike(r"^dans\b"), F.lit("future"))
        .when(v.rlike(r"(prochain|suivant|plus\stard)"), F.lit("future"))
        .when(v.rlike(r"(dernier|passe|precedent|plus\stot)"), F.lit("past"))
        .when(v.rlike(r"^(depuis|il\s+y\s+a)"), F.lit("past"))
    )
    specific_days = (
        F.when(v.rlike(r"^(?:depuis\s+)?avant[-\s]hier"), F.lit(-2))
        .when(v.rlike(r"^(?:depuis\s+)?hier"), F.lit(-1))
        .when(v.rlike(r"^(?:depuis\s+)?apres[-\s]demain"), F.lit(2))
        .when(v.rlike(r"^(?:depuis\s+)?demain"), F.lit(1))
    )
    offset = (
        F.when(F.col("label") == "current", F.lit(0).cast("bigint"))
        .when(specific_days.isNotNull(), specific_days.cast("bigint") * 86400)
        .when(F.col("label") == "duration", magnitude)
        .when(F.col("label") == "relative",
              F.when(direction == "past", -magnitude).otherwise(magnitude))
    )
    current_key = (
        F.when(v.contains("annee"), F.lit("year"))
        .when(v.contains("semaine") | v.contains("jours-ci")
              | v.contains("jours ci"), F.lit("week"))
        .when(v.contains("mois"), F.lit("month"))
        .otherwise(F.lit("day"))
    )
    # Absolute components (day / month / year ints, null = slot absent)
    # per family, prefix-anchored against the matched variant in scan
    # order — the basis of the reference's placeholder norms
    # ('????-08-04', '2019-??-??', models.py AbsoluteDate.norm()).
    def _g(rx: str, i: int) -> Column:
        return F.regexp_extract(v, "^(?:" + rx + ")", i)

    def _st(d: Column, mo: Column, y: Column) -> Column:
        return F.struct(d.alias("d"), mo.alias("m"), y.alias("y"))

    def _mnum(name: Column) -> Column:
        return month_number(F.regexp_replace(name, r"\.", ""))

    _ni = F.lit(None).cast("int")
    comp = F.coalesce(
        *[F.when(_g(rx, 1) != "", _st(_g(rx, 1).cast("int"),
                                      _g(rx, 2).cast("int"),
                                      _resolve_year(_g(rx, 3))))
          for rx in NUMERIC_DATE_RXS],
        *[F.when(_g(rx, 3) != "", _st(_g(rx, 3).cast("int"),
                                      _g(rx, 2).cast("int"),
                                      _g(rx, 1).cast("int")))
          for rx in ISO_DATE_RXS],
        F.when(_g(NUMERIC_DATE_SPACE_RX, 1) != "",
               _st(_g(NUMERIC_DATE_SPACE_RX, 1).cast("int"),
                   _g(NUMERIC_DATE_SPACE_RX, 2).cast("int"),
                   _resolve_year(_g(NUMERIC_DATE_SPACE_RX, 3)))),
        F.when(_g(ABS_DMN_RX, 1) != "",
               _st(_g(ABS_DMN_RX, 1).cast("int"),
                   _mnum(_g(ABS_DMN_RX, 2)),
                   F.when(_g(ABS_DMN_RX, 3) != "",
                          _g(ABS_DMN_RX, 3).cast("int")))),
        F.when(_g(MONTH_YEAR_NUM_RX, 1) != "",
               _st(_ni, _g(MONTH_YEAR_NUM_RX, 1).cast("int"),
                   _g(MONTH_YEAR_NUM_RX, 2).cast("int"))),
        *[F.when(_g(rx, 1) != "", _st(_g(rx, 1).cast("int"),
                                      _g(rx, 2).cast("int"), _ni))
          for rx in ABS_DM_NUM_RXS],
        F.when(_g(ABS_MYN_RX, 1) != "",
               _st(_ni, _mnum(_g(ABS_MYN_RX, 1)),
                   _g(ABS_MYN_RX, 2).cast("int"))),
        F.when(_g(ABS_MONTH_RX, 1) != "",
               _st(_ni, _mnum(_g(ABS_MONTH_RX, 1)), _ni)),
        F.when(_g(ABS_YEAR_RX, 1) != "",
               _st(_ni, _ni, _g(ABS_YEAR_RX, 1).cast("int"))),
    )

    # Stage 1 (functions of lexical_variant+label only): keeps each
    # codegen'd projection under the JVM 64KB method limit and makes
    # offset_seconds / the component struct real columns instead of
    # inlined subexpressions in norm.
    pre = m.select(
        "note_id", "start_char", "end_char", "lexical_variant", "label",
        "__text",
        direction.alias("direction"),
        offset.alias("offset_seconds"),
        current_key.alias("_ckey"),
        F.when(F.col("label") == "absolute", comp).alias("_c"),
        v.rlike(r"^depuis").alias("_rel_from"),
    )

    # Stage 2: time-suffix extension for day-bearing absolute dates
    # ("4 août à 11h13" — the reference appends time_pattern inside the
    # match span, absolute.py:30-62; norm tail 'HHhMMm', models.py:199).
    after = F.substring(norm_text(F.col("__text")),
                        F.col("end_char") + 1, F.lit(12))
    tmatch = F.when(
        (F.col("label") == "absolute") & F.col("_c")["d"].isNotNull(),
        F.regexp_extract(after, TIME_SUFFIX_RX, 0)).otherwise(F.lit(""))
    hh = F.regexp_extract(after, TIME_SUFFIX_RX, 1)
    mm = F.regexp_extract(after, TIME_SUFFIX_RX, 2)
    end2 = (F.col("end_char")
            + F.when(tmatch != "", F.length(tmatch)).otherwise(F.lit(0))
            ).cast("int")
    variant2 = F.when(
        tmatch != "",
        F.substring(F.col("__text"), F.col("start_char") + 1,
                    end2 - F.col("start_char"))
    ).otherwise(F.col("lexical_variant"))
    tnorm = F.when(
        tmatch != "",
        F.concat(F.lpad(hh, 2, "0"), F.lit("h"),
                 F.when(mm != "", F.lpad(mm, 2, "0")).otherwise(F.lit("00")),
                 F.lit("m")))
    pre = pre.select(
        "note_id", "start_char", "label", "__text", "direction",
        "offset_seconds", "_ckey", "_c", "_rel_from",
        end2.alias("end_char"), variant2.alias("lexical_variant"),
        tnorm.alias("_tnorm"),
    )

    off = F.col("offset_seconds")
    y_s = F.col("_c")["y"].cast("string")
    m_s = F.lpad(F.col("_c")["m"].cast("string"), 2, "0")
    d_s = F.lpad(F.col("_c")["d"].cast("string"), 2, "0")
    abs_norm = F.concat(
        F.coalesce(y_s, F.lit("????")), F.lit("-"),
        F.coalesce(m_s, F.lit("??")), F.lit("-"),
        F.coalesce(d_s, F.lit("??")))
    abs_norm = F.when(F.col("_tnorm").isNotNull(),
                      F.concat(abs_norm, F.lit(" "), F.col("_tnorm"))
                      ).otherwise(abs_norm)
    parsed = F.when(
        F.col("_c")["d"].isNotNull() & F.col("_c")["m"].isNotNull()
        & F.col("_c")["y"].isNotNull(),
        _ymd(F.col("_c")["y"], F.col("_c")["m"].cast("string"),
             F.col("_c")["d"].cast("string")))
    norm = (
        F.when(F.col("label") == "absolute", abs_norm)
        .when(F.col("label") == "current",
              F.concat(F.lit("~0 "), F.col("_ckey")))
        .when(F.col("label") == "duration",
              F.concat(F.lit("during "), _str_timedelta(off)))
        .when(F.col("label") == "relative",
              F.concat(F.when(off > 0, F.lit("+")).otherwise(F.lit("")),
                       _str_timedelta(off)))
    )
    # bound: cue suffix of the 14 chars before the mention (modes.py).
    # substring is 1-based: chars [start_char-14, start_char) 0-based.
    prefix = F.substring(
        norm_text(F.col("__text")),
        F.greatest(F.col("start_char") - 14, F.lit(0)) + 1,
        F.least(F.col("start_char"), F.lit(14)),
    )
    bound = F.when(
        F.col("label") == "absolute",
        F.when(prefix.rlike(_BOUND_FROM_SUFFIX), F.lit("from"))
        .when(prefix.rlike(_BOUND_UNTIL_SUFFIX), F.lit("until")),
    ).when(
        (F.col("label") == "relative") & F.col("_rel_from"), F.lit("from"))

    pre.select(
        "note_id", "start_char", "end_char", "lexical_variant",
        F.when(F.col("label") == "current", F.lit("relative"))
        .otherwise(F.col("label")).alias("kind"),
        "direction",
        bound.alias("bound"),
        "offset_seconds",
        norm.alias("norm"),
        parsed.alias("parsed_date"),
    )
    return m.stages


class DatesExtractor(Transformer):
    """Adds ``parsed_date`` (first absolute date mention, normalized) and
    ``relative_date`` (note_datetime + relative offset) columns."""

    requires = ("note_text",)
    provides = ("parsed_date", "relative_date")
    name = "eds.dates"

    def __init__(self, text_col: str = "note_text",
                 note_datetime_col: str = "note_datetime"):
        self.text_col = text_col
        self.dt_col = note_datetime_col
        self.requires = (text_col,)

    def transform(self, df: DataFrame) -> DataFrame:
        # NORM (lower + accent fold), not bare lower: VERBOSE_DATE_RX's
        # month group is [a-z]+, so accented months ("février", "août",
        # "décembre") only parse on folded text — same attr as
        # date_mentions uses.
        text = norm_text(F.col(self.text_col))
        absolute = F.coalesce(parse_verbose_date(text), parse_numeric_date(text))
        out = df.withColumn("parsed_date", absolute)
        if self.dt_col in df.columns:
            rel = parse_relative_days(text)
            out = out.withColumn(
                "relative_date",
                F.when(
                    rel.isNotNull(),
                    F.date_add(F.col(self.dt_col).cast("date"), rel),
                ),
            )
        else:
            out = out.withColumn("relative_date", F.lit(None).cast("date"))
        return out


@registry.register("eds.dates")
def _make_dates(**kw):
    return DatesExtractor(**kw)


# eds.dates_normalizer re-normalizes existing date spans with the same
# parser (misc/dates/factory.py registers both names on one pipe).
registry.register("eds.dates_normalizer")(lambda **kw: DatesExtractor(**kw))
