"""Tag-map column functions: the reference's per-feature dict munging as
JVM-side Spark Column expressions (no Python in the hot path).

Covers (SURVEY.md §2.2/§2.8):
- junk-tag projection  — `osm_merge/utilities/osmhighways.py:104-114`,
  `osm_merge/osmfile.py:152-156` (drop ``tiger:*``, ``_UPPERCASE`` import
  fields, ODK ``title``/``label``);
- tag-merge precedence — `osm_merge/conflator.py:692` (``ext | osm`` dict
  union: OSM wins on conflict) plus the ``old_*`` rename rule of
  `osm_merge/conflatePOI.py:225-235`;
- ref normalization    — `osm_merge/utilities/osmhighways.py:42-57`,
  `osm_merge/conflator.py:762-781` (split "FR 123.1A" prefix/number,
  compare numbers ignoring prefix);
- name normalization   — `osm_merge/utilities/mvum.py:150-166` (title case +
  abbreviation expansion);
- fuzzy match          — `osm_merge/conflator.py:745-756` (ratio ≥ 80): here
  a Levenshtein ratio on Spark's built-in ``levenshtein`` (whole-stage
  codegen, scales without Python);
- opening-hours        — `osm_merge/utilities/mvum.py:69-109` ("MM/DD-MM/DD"
  → "Mon-Mon").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Junk-tag projection (P3)
# ---------------------------------------------------------------------------


def drop_junk_tags(tags: Column | str) -> Column:
    """map_filter dropping tiger:*, ^_[A-Z]+ import fields, ODK title/label."""
    t = F.col(tags) if isinstance(tags, str) else tags
    return F.map_filter(
        t,
        lambda k, v: (
            ~k.startswith("tiger:")
            & ~k.rlike("^_[A-Z][A-Z]+")
            & ~k.isin("title", "label")
        ),
    )


def has_tag(tags: Column | str, key: str) -> Column:
    t = F.col(tags) if isinstance(tags, str) else tags
    return F.map_contains_key(t, F.lit(key))


def tag(tags: Column | str, key: str) -> Column:
    t = F.col(tags) if isinstance(tags, str) else tags
    return F.element_at(t, F.lit(key))


# ---------------------------------------------------------------------------
# Tag merge (conflation output): ext | osm with OSM precedence + old_* renames
# ---------------------------------------------------------------------------


def merge_tags(ext_tags: Column, osm_tags: Column, keep_old: tuple[str, ...] = ("name", "ref")) -> Column:
    """Union of the two tag maps with OSM-side precedence on conflicts
    (`conflator.py:692` semantics) — except for ``keep_old`` keys, where the
    external value wins and the losing OSM value is preserved under
    ``old_<key>`` (`conflatePOI.py:225-235`).
    """
    # start with ext, overlay osm (osm wins) = ext | osm in Python semantics
    merged = F.map_zip_with(ext_tags, osm_tags, lambda k, ve, vo: F.coalesce(vo, ve))
    for key in keep_old:
        ke, ko = F.element_at(ext_tags, F.lit(key)), F.element_at(osm_tags, F.lit(key))
        conflict = ke.isNotNull() & ko.isNotNull() & (ke != ko)
        overlay = F.when(
            conflict,
            F.create_map(F.lit(key), ke, F.lit("old_" + key), ko),
        ).otherwise(F.create_map().cast("map<string,string>"))
        merged = F.map_zip_with(merged, overlay, lambda k, vm, vv: F.coalesce(vv, vm))
    return merged


# ---------------------------------------------------------------------------
# Ref parsing / normalization (FR 123.1A ↔ FS 123.1A etc.)
# ---------------------------------------------------------------------------

_REF_RE = r"^\s*([A-Za-z]+)?\s*([0-9][0-9.]*[A-Za-z]?)\s*$"


def ref_prefix(ref: Column | str) -> Column:
    r = F.col(ref) if isinstance(ref, str) else ref
    return F.upper(F.regexp_extract(r, _REF_RE, 1))


def ref_number(ref: Column | str) -> Column:
    """The numeric body of a forest-road ref — comparison key that ignores the
    agency prefix (`conflator.py:762-781`)."""
    r = F.col(ref) if isinstance(ref, str) else ref
    return F.upper(F.regexp_extract(r, _REF_RE, 2))


def normalize_ref(ref: Column | str, canonical_prefix: str = "FR") -> Column:
    """`FS 123.1A` / `fr123.1a` / `123.1A` → `FR 123.1A`."""
    num = ref_number(ref)
    return F.when(num == "", F.lit(None).cast("string")).otherwise(
        F.concat(F.lit(canonical_prefix + " "), num)
    )


# ---------------------------------------------------------------------------
# Name normalization (title case + abbreviation expansion)
# ---------------------------------------------------------------------------

DEFAULT_ABBREVIATIONS: dict[str, str] = {
    # mirrors the expansion table consumed by `mvum.py:150-166` (mvum.yaml)
    "Rd": "Road",
    "Rd.": "Road",
    "Cr": "Creek",
    "Crk": "Creek",
    "Mtn": "Mountain",
    "Mt": "Mount",
    "Lk": "Lake",
    "Cg": "Campground",
    "Disp": "Dispersed",
    "Rtl": "Retail",  # exercised by synthetic part names
    "N": "North",
    "S": "South",
    "E": "East",
    "W": "West",
}


def normalize_name(name: Column | str, abbreviations: dict[str, str] | None = None) -> Column:
    """initcap + collapse spaces + expand whole-word abbreviations.

    All JVM-side: chained regexp_replace with word boundaries.
    """
    n = F.col(name) if isinstance(name, str) else name
    out = F.initcap(F.regexp_replace(F.trim(n), r"\s+", " "))
    for abbr, full in (abbreviations or DEFAULT_ABBREVIATIONS).items():
        out = F.regexp_replace(out, r"\b" + abbr.replace(".", r"\.") + r"\b", full)
    return out


# ---------------------------------------------------------------------------
# Fuzzy similarity (Levenshtein ratio, JVM-side)
# ---------------------------------------------------------------------------


def fuzzy_ratio(a: Column, b: Column) -> Column:
    """100 * (1 - levenshtein/max(len)) on lowercase, the engine's analog of
    `fuzz.ratio(a.lower(), b.lower())` (`conflator.py:745-756`).  Runs in
    whole-stage codegen — no Python at any scale."""
    la, lb = F.lower(a), F.lower(b)
    mx = F.greatest(F.length(la), F.length(lb))
    return F.when(mx == 0, F.lit(100.0)).otherwise(
        100.0 * (1.0 - F.levenshtein(la, lb) / mx.cast("double"))
    )


# ---------------------------------------------------------------------------
# Opening hours: "MM/DD-MM/DD" → "Mon-Mon" (P9)
# ---------------------------------------------------------------------------

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_DATE_RANGE_RE = r"^(\d{1,2})/\d{1,2}-(\d{1,2})/\d{1,2}$"


def _months(date_range: Column | str) -> tuple[Column, Column]:
    """The two month numbers of "MM/DD-MM/DD" (0-99; null if malformed)."""
    d = F.col(date_range) if isinstance(date_range, str) else date_range
    return tuple(F.regexp_extract(d, _DATE_RANGE_RE, g).try_cast("int") for g in (1, 2))


def _month_name(mm: Column) -> Column:
    """Month number → "Jan".."Dec", null outside 1-12: one lookup in an
    array literal whose slot 1 is null, so index ``mm + 1`` is never the
    0 that ``try_element_at`` rejects and 13+ runs off the end."""
    names = F.array(F.lit(None).cast("string"), *[F.lit(m) for m in _MONTHS])
    return F.try_element_at(names, mm + 1)


def opening_hours(date_range: Column | str) -> Column:
    """`"05/15-11/30"` → `"May-Nov"`; `"01/01-12/31"` → `"Jan-Dec"` (the
    reference additionally marks the full-year case ``seasonal=no``,
    `mvum.py:99-103` — see :func:`is_seasonal`).  Null unless both months
    are 1-12."""
    m1, m2 = _months(date_range)
    return F.concat(_month_name(m1), F.lit("-"), _month_name(m2))


def is_seasonal(date_range: Column | str) -> Column:
    """seasonal=yes unless the range covers the whole year, January to
    December (`mvum.py:99-103`); null where :func:`opening_hours` is."""
    m1, m2 = _months(date_range)
    full_year = (m1 == 1) & (m2 == 12)
    return F.when(opening_hours(date_range).isNotNull(), F.when(full_year, F.lit("no")).otherwise(F.lit("yes")))
