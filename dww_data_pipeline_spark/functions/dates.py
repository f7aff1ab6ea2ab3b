"""Date/time expression library.

Reference semantics: dates are zero-padded ``YYYY-MM-DD`` strings whose
lexicographic order equals chronological order (``GetWeta.py:362-366``);
release strings are mixed-granularity (``YYYY-MM-DD`` / ``YYYY`` /
``none``, ``GetWeta.py:295-301``). The serving layer converts to epoch
milliseconds (``dwwApi.js:111-112`` — note the reference's month
off-by-one there is a bug we do NOT replicate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# English month names — the reference maps month name -> number via a
# Python list (GetWeta.py:352-356).
_MONTHS = {
    m: i + 1
    for i, m in enumerate(
        [
            "january", "february", "march", "april", "may", "june",
            "july", "august", "september", "october", "november", "december",
        ]
    )
}


def normalize_release(entry: Column) -> Column:
    """Normalize a ``"17 July 2007 (UK)"``-style release entry to a
    canonical padded ``YYYY-MM-DD`` string (reference
    ``ParseEarliestDate``, GetWeta.py:348-368).

    Strips a ``prefix::`` country tag and parenthesized qualifiers,
    then reorders ``day month year`` with month-name lookup. Returns
    NULL for unparseable entries (the reference skips them).
    """
    c = F.regexp_replace(entry, r"^[^:]*::", "")  # "USA::..." prefix
    c = F.regexp_replace(c, r"\([^)]*\)", "")  # "(premiere)" qualifiers
    c = F.trim(c)
    day = F.regexp_extract(c, r"^(\d{1,2})\s", 1)
    month_name = F.lower(F.regexp_extract(c, r"^\d{1,2}\s+([A-Za-z]+)", 1))
    year = F.regexp_extract(c, r"(\d{4})\s*$", 1)
    month_map = F.create_map(
        *[x for m, i in _MONTHS.items() for x in (F.lit(m), F.lit(f"{i:02d}"))]
    )
    month = month_map[month_name]
    full = F.concat_ws("-", year, month, F.lpad(day, 2, "0"))
    return F.when(
        (day != "") & month.isNotNull() & (year != ""), full
    ).otherwise(F.lit(None).cast("string"))


def earliest_release(entries: Column) -> Column:
    """A4/F9: earliest parseable date from a movie's per-region
    release list (reference ParseEarliestDate GetWeta.py:348-368 walks
    the list and keeps the first fully-formed date; since the engine
    normalizes ALL entries, min over padded strings == earliest
    chronologically — strictly better than first-wins while containing
    it as a special case)."""
    normalized = F.transform(entries, normalize_release)
    return F.array_min(F.filter(normalized, lambda x: x.isNotNull()))


def canonical_release(release: Column) -> Column:
    """Canonicalize a mixed-granularity release string:
    bare ``YYYY`` → ``YYYY-01-01``; ``none``/empty → NULL; pad parts.
    Keeps lexicographic == chronological (SURVEY §7.3)."""
    parts = F.split(release, "-")
    # F.get (not [i]): ANSI mode makes out-of-bounds [i] throw, and bare
    # "YYYY" splits to a single element
    padded = F.concat_ws(
        "-",
        F.lpad(F.get(parts, 0), 4, "0"),
        F.lpad(F.coalesce(F.get(parts, 1), F.lit("1")), 2, "0"),
        F.lpad(F.coalesce(F.get(parts, 2), F.lit("1")), 2, "0"),
    )
    return F.when(
        release.rlike(r"^\d{4}(-\d{1,2}(-\d{1,2})?)?$"), padded
    ).otherwise(F.lit(None).cast("string"))


def date_precision(release: Column) -> Column:
    """``day`` / ``year`` / ``none`` granularity tag (FIXTURES.md §1)."""
    return (
        F.when(release.rlike(r"^\d{4}-\d{1,2}-\d{1,2}$"), F.lit("day"))
        .when(release.rlike(r"^\d{4}$"), F.lit("year"))
        .otherwise(F.lit("none"))
    )


def to_epoch_ms(date_str: Column) -> Column:
    """``YYYY-MM-DD`` string → epoch milliseconds (reference
    dwwApi.js:111-112, with the month off-by-one bug fixed)."""
    return (F.unix_timestamp(date_str.cast("date").cast("timestamp")) * 1000).cast("long")


def lerp_date(start_ms: Column, end_ms: Column, k: Column, n: Column) -> Column:
    """Linear time interpolation ``start + (end-start)*k/n`` formatted
    YYYY-MM-DD (reference pathCreator.js:148-160)."""
    ms = (start_ms + ((end_ms - start_ms) * k / n)).cast("long")
    return F.date_format(F.timestamp_seconds(ms / 1000), "yyyy-MM-dd")


def year_changed(a: Column, b: Column) -> Column:
    """Year-change predicate (reference timeControl.js:250-253)."""
    return F.year(a) != F.year(b)
