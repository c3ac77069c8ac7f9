"""Schema-map converter family: external agency schemas → OSM tag schema.

The reference implements one converter class per source, each driven by a
YAML mapping plus hand-written special cases:

- MVUM roads     `osm_merge/utilities/mvum.py:111-245`
- USFS trails    `osm_merge/utilities/trails.py:64-179`
- USGS topo      `osm_merge/utilities/usgs.py:72-258`
- BLM roads      `osm_merge/utilities/blm.py:104-243`
- NPS trails     `osm_merge/utilities/nps.py:65-106`
- county roads   `osm_merge/utilities/local_roads.py:89-182`
- OSM highways   `osm_merge/utilities/osmhighways.py:80-224`

Here the whole family is one engine: a :class:`ConverterSpec` declares
column→tag renames, value code tables, and post-rules; :func:`convert`
compiles the spec into narrow JVM-side projections (no shuffle, no
Python).  The MVUM-shaped spec below reproduces the reference's signature
transforms: code tables for smoothness/surface (`mvum.py:167-186`),
name title-casing + abbreviation expansion (`:150-166`), ref prefixing
(`:193-230`), seasonal/opening-hours (`:69-109`), and vehicle →
``*=designated`` access tags (trails.py semantics).

Every converter evaluates each heavy value once.  Name normalization is 15
chained ``regexp_replace``; an expression that reads it ten times, or a
lambda that re-reads a whole entry array per element (Spark evaluates
lambda bodies without generated code or shared subexpressions), multiplies
that cost.  So a value that several rules read is projected once into its
own column, the tag map is built from column references
(:func:`_with_tags`, no lambda), and a row filter on a projected column
goes through ``plans.stage.keep_where`` so the optimizer cannot inline the
projection back into it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import tags as TG
from ..plans import stage


@dataclass
class RegexRule:
    """First-match-wins regex extraction (the reference's name-field ref
    mining, e.g. `usgs.py:142-186`): if ``src`` matches ``when``, emit
    ``tag_key = prefix + regexp_extract(src, extract, 1)``.

    ``normalize=True`` instead emits the whole normalized value (title case +
    abbreviation expansion) — the converters' trailing "it's a real name"
    fallback branch.  ``tag_key=None`` consumes the match without emitting
    anything (the reference's bare ``continue`` branches).
    """

    src: str
    when: str
    tag_key: str | None
    prefix: str = ""
    extract: str = r"(\S+)\s*$"  # default: the last whitespace token (getRef)
    titlecase: bool = False
    normalize: bool = False


@dataclass
class ConverterSpec:
    """Declarative external→OSM mapping (the YAML-config analog)."""

    # source column → OSM tag key, copied verbatim
    renames: dict[str, str] = field(default_factory=dict)
    # source column → OSM tag key, title-cased (`nps.py:94` .title())
    renames_title: dict[str, str] = field(default_factory=dict)
    # source column → OSM tag key, lower-cased (`nps.py:96-98` .lower())
    renames_lower: dict[str, str] = field(default_factory=dict)
    # source column → (OSM tag key, {source code → OSM value})
    code_tables: dict[str, tuple[str, dict[str, str]]] = field(default_factory=dict)
    # constant tags stamped on every feature
    constants: dict[str, str] = field(default_factory=dict)
    # columns whose values feed normalize_name / normalize_ref / opening_hours
    name_col: str | None = None
    # ensure the normalized name ends with this word (`trails.py:127-130`)
    name_suffix: str | None = None
    ref_col: str | None = None
    ref_prefix: str = "FR"
    season_col: str | None = None
    # vehicle-permission columns → access tags (value 'Y' → <tag>=designated)
    vehicle_cols: dict[str, str] = field(default_factory=dict)
    # first-match-wins regex extraction rules (grouped per src column)
    regex_rules: list[RegexRule] = field(default_factory=list)


# The MVUM-shaped spec (`mvum.yaml` + special cases in mvum.py)
MVUM_SPEC = ConverterSpec(
    renames={"gid": "ref:usfs:gid"},
    code_tables={
        "sur_code": (
            "surface",
            {"1": "dirt", "2": "gravel", "3": "paved", "4": "compacted", "5": "ground"},
        ),
        "smo_code": (
            "smoothness",
            {
                "1": "very_horrible",
                "2": "horrible",
                "3": "very_bad",
                "4": "bad",
                "5": "intermediate",
            },
        ),
        "hw_code": (
            "highway",
            {"RD": "track", "TR": "path", "HWY": "unclassified"},
        ),
    },
    constants={"operator": "US Forest Service"},
    name_col="name",
    ref_col="id",
    ref_prefix="FR",
    season_col="seasonal_dates",
    vehicle_cols={"atv": "atv", "motorcycle": "motorcycle", "highclearance": "4wd_only"},
)


# USFS/NPS trails (`trails.py:64-179`): path by default, "... Trail" name
# suffix, FR-prefixed trail number, vehicle-access → designated, seasonal
# opening hours from the ACCPT_DISC date ranges.
TRAILS_SPEC = ConverterSpec(
    constants={"operator": "US Forest Service", "highway": "path"},
    name_col="name",
    name_suffix="Trail",
    ref_col="trail_no",
    ref_prefix="FR",
    season_col="season_dates",
    vehicle_cols={"atv": "atv", "horse": "horse", "bicycle": "bicycle", "hiker": "foot"},
)

# USGS topo (`usgs.py:72-258`): the name field is mined for County Road /
# Co Rd / Rd / USFS references (first-match-wins ladder `usgs.py:142-186`);
# real names (contain a space) fall through to normalization.  The
# reference's `^State` branch (`usgs.py:162-167`) matches against
# value.lower() and is therefore unreachable — deliberately not reproduced.
USGS_SPEC = ConverterSpec(
    constants={"highway": "unclassified"},
    regex_rules=[
        RegexRule(src="name", when=r"^County Road$", tag_key=None),
        RegexRule(src="name", when=r"^County Road .*", tag_key="ref", prefix="CR",
                  extract=r"^County Road (\S+)"),  # no space: `usgs.py:147`
        RegexRule(src="name", when=r".*Co Rd.*", tag_key="ref", prefix="CR "),
        RegexRule(src="name", when=r"^Rd .*", tag_key="ref", prefix="CR "),
        RegexRule(src="name", when=r"(?i)^usfs .*", tag_key="ref", prefix="FR "),
        RegexRule(src="name", when=r".* .*", tag_key="name", normalize=True),
    ],
)

# BLM roads (`blm.py:104-243`): operator=BLM, highway from the transport
# planning mode, refs prefixed "BLM " unless already carrying it, numeric
# names are refs, real names normalized.
BLM_SPEC = ConverterSpec(
    constants={"operator": "BLM"},
    code_tables={
        "plan_mode": ("highway", {"Non-Mechanized": "path", "Motorized": "track"}),
    },
    regex_rules=[
        RegexRule(src="rd_id", when=r"^BLM.*", tag_key="ref", prefix="", extract=r"^(.*)$"),
        RegexRule(src="rd_id", when=r".+", tag_key="ref", prefix="BLM ", extract=r"^(.*)$"),
        RegexRule(src="name", when=r"^[0-9]+$", tag_key="ref", prefix="BLM ", extract=r"^(.*)$"),
        RegexRule(src="name", when=r".* .*", tag_key="name", normalize=True),
    ],
)

# NPS trails (`nps.py:65-106`): four straight field maps, title/lower cased.
NPS_SPEC = ConverterSpec(
    renames={"MAPSOURCE": "source"},
    renames_title={"TRLNAME": "name"},
    renames_lower={"TRLSURFACE": "surface", "SEASONAL": "seasonal"},
)


def _last_token(col: Column) -> Column:
    """getRef (`osmhighways.py:42-57`): the last whitespace token."""
    return F.regexp_extract(col, r"(\S+)\s*$", 1)


def _out_cols(df: DataFrame, keep_cols: list[str] | None) -> list[str]:
    return keep_cols if keep_cols is not None else [c for c in ("geom", "ext_id", "way_id") if c in df.columns]


def local_roads_convert(df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """County road inventory converter (`local_roads.py:89-182`), composed
    Column form (the ref consolidation — a CR number column PLUS an FS
    ref embedded in the name — joins with ';', `local_roads.py:147-152`):

    - integer road-number column → ``CR <n>`` ref (`:117-119`)
    - purely-numeric name → it's a ref, not a name (`:139-144`)
    - ``Fs <n>-<name>`` → ref ``FR <n>`` (appended ;-separated if a CR ref
      exists) + the remainder as the name (`:145-156`)
    - ``County Road <n>`` / ``Forest Road <n>`` names → CR/FR refs (`:157-168`)
    - rows that end up with no ref are dropped (`:169-170`), before the tag
      map is built

    Expected columns: ``rd_num`` (int, nullable), ``road_name`` (string).
    The normalized name is projected once and every rule reads that column.
    """
    out_cols = _out_cols(df, keep_cols)
    staged = df.select(
        *out_cols, F.col("rd_num").alias("__rd"), TG.normalize_name(F.col("road_name")).alias("__nn")
    )
    nn = F.col("__nn")
    cr_num = F.when(F.col("__rd").isNotNull(), F.concat(F.lit("CR "), F.col("__rd").cast("string")))
    is_numeric = nn.rlike(r"^[0-9]+$")
    is_fs = nn.startswith("Fs ")
    fs_ref = F.concat(F.lit("FR "), F.regexp_extract(nn, r"^Fs (\S+?)(?:-| |$)", 1))
    fs_name = F.initcap(F.regexp_extract(nn, r"^Fs [^-]*-(.*)$", 1))
    county = nn.rlike(r"^County Road .+")
    forest = nn.rlike(r"^Forest Road .+")
    name_ref = (
        F.when(is_numeric, F.concat(F.lit("CR "), nn))
        .when(is_fs, fs_ref)
        .when(county, F.regexp_replace(nn, r"^County Road", "CR"))
        .when(forest, F.regexp_replace(nn, r"^Forest Road", "FR"))
    )
    ref = F.nullif(F.concat_ws(";", cr_num, name_ref), F.lit(""))  # concat_ws skips nulls
    name = (
        F.when(is_numeric, F.lit(None).cast("string"))
        .when(is_fs & (fs_name != ""), fs_name)
        .otherwise(nn)
    )
    refs = staged.select(*out_cols, ref.alias("__ref"), name.alias("__name"))
    # a plain filter would be pushed below both projections with the whole
    # name normalization inlined into its condition
    kept = stage.keep_where(refs, F.col("__ref").isNotNull())
    return _with_tags(kept, out_cols, [("ref", F.col("__ref")), ("name", F.col("__name"))])


def osmhighways_filter(df: DataFrame, tags_col: str = "tags", keep_cols: list[str] | None = None) -> DataFrame:
    """OSM-side tag scrub + ref consolidation (`osmhighways.py:80-224`):

    - drop ``tiger:*`` and ``_UPPERCASE`` import junk (`:104-114`)
    - ``ref:usfs`` values: keep ``FS ``/``FR `` prefixed as-is; ``FSR <x>``
      renormalizes to ``FR <last-token>``; anything else falls back to the
      ref mined from the name (`:119-145`)
    - a "County Road" name becomes ``CR <last-token>`` and the name is
      consumed (`:160-168`)
    - the surviving county + usfs refs consolidate into ONE ``ref`` tag,
    ;-joined in name-then-ref:usfs order (`:215-221`)
    """
    t = F.col(tags_col)
    name = F.element_at(t, F.lit("name"))
    usfs = F.element_at(t, F.lit("ref:usfs"))
    county = name.isNotNull() & F.lower(name).rlike("county road")
    cr = F.when(county, F.concat(F.lit("CR "), F.initcap(_last_token(name))))
    ur = (
        F.when(usfs.isNull(), F.lit(None).cast("string"))
        .when(usfs.startswith("FS ") | usfs.startswith("FR "), usfs)
        .when(usfs.startswith("FSR "), F.concat(F.lit("FR "), _last_token(usfs)))
        .otherwise(F.concat(F.lit("FR "), _last_token(F.coalesce(name, F.lit("")))))
    )
    ref = F.nullif(F.concat_ws(";", cr, ur), F.lit(""))  # concat_ws skips nulls
    # the scrubbed map holds none of the rebuilt keys, so the rebuilt tags
    # append to it
    base = F.map_filter(
        TG.drop_junk_tags(t),
        lambda k, v: ~k.isin("name", "ref", "ref:usfs"),
    )
    out_cols = _out_cols(df, keep_cols)
    rebuilt = _with_tags(
        df.withColumn("__base", base),
        [*out_cols, "__base"],
        [("name", F.when(county, F.lit(None).cast("string")).otherwise(name)), ("ref", ref)],
        "__rebuilt",
    )
    return rebuilt.select(*out_cols, F.map_concat("__base", "__rebuilt").alias(tags_col))


def _code_map_expr(col: Column, table: dict[str, str]) -> Column:
    expr = F.lit(None).cast("string")
    for code, value in table.items():
        expr = F.when(col == code, F.lit(value)).otherwise(expr)
    return expr


def _regex_rule_entries(df: DataFrame, rules: list[RegexRule]) -> tuple[DataFrame, list[tuple[str, Column]]]:
    """Compile first-match-wins regex rules (per source column) into map
    entries.  Each rule's value is gated on it being the first rule for its
    column whose pattern matches — the reference's if/continue ladder.  The
    index of that rule is projected once per column (returned ``df``), so
    every entry reads a column instead of repeating the ladder's patterns."""
    entries: list[tuple[str, Column]] = []
    by_src: dict[str, list[RegexRule]] = {}
    for r in rules:
        by_src.setdefault(r.src, []).append(r)
    for src, ordered in by_src.items():
        if src not in df.columns:
            continue
        col = F.col(src).cast("string")
        first = F.lit(None).cast("int")
        for i in reversed(range(len(ordered))):
            first = F.when(col.rlike(ordered[i].when), F.lit(i)).otherwise(first)
        df = df.withColumn(f"__rule_{src}", first)
        for i, rule in enumerate(ordered):
            if rule.tag_key is None:
                continue
            if rule.normalize:
                value = TG.normalize_name(col)
            else:
                value = F.regexp_extract(col, rule.extract, 1)
                if rule.titlecase:
                    value = F.initcap(value)
                value = F.concat(F.lit(rule.prefix), value)
            entries.append((rule.tag_key, F.when(F.col(f"__rule_{src}") == i, value)))
    return df, entries


def _with_tags(
    df: DataFrame, keep: list[str], entries: list[tuple[str, Column]], tags_col: str = "tags"
) -> DataFrame:
    """``keep`` columns + a tag map built from (key, value) entries, dropping
    null values; where a key repeats, its first non-null value wins
    (deterministic where the reference relied on dict insertion order).

    Each key's value is projected once into its own column and the map is
    built from those columns, so no value is evaluated twice and the map
    needs no lambda (Spark evaluates lambda bodies without generated code).
    """
    values: dict[str, list[Column]] = {}
    for key, value in entries:
        values.setdefault(key, []).append(value)
    staged = df.select(*keep, *[F.coalesce(*vs).alias(f"__tag{i}") for i, vs in enumerate(values.values())])
    empty = F.create_map().cast("map<string,string>")
    maps = [
        F.when(F.col(f"__tag{i}").isNotNull(), F.create_map(F.lit(key), F.col(f"__tag{i}"))).otherwise(empty)
        for i, key in enumerate(values)
    ]
    return staged.select(*keep, F.map_concat(*maps).alias(tags_col))


def convert(df: DataFrame, spec: ConverterSpec, keep_cols: list[str] | None = None) -> DataFrame:
    """Compile the spec into projections producing a ``tags`` map column.

    Null-valued entries are dropped (the reference emits only present tags).
    The normalized name, which the suffix rule reads three times, is
    projected once first; the tag map is built by :func:`_with_tags`.
    Entirely whole-stage-codegen; the converter is a zero-shuffle stage.
    """
    entries: list[tuple[str, Column]] = []
    for src, tag_key in spec.renames.items():
        if src in df.columns:
            entries.append((tag_key, F.col(src).cast("string")))
    for src, tag_key in spec.renames_title.items():
        if src in df.columns:
            entries.append((tag_key, F.initcap(F.col(src).cast("string"))))
    for src, tag_key in spec.renames_lower.items():
        if src in df.columns:
            entries.append((tag_key, F.lower(F.col(src).cast("string"))))
    df, rule_entries = _regex_rule_entries(df, spec.regex_rules)
    entries.extend(rule_entries)
    for src, (tag_key, table) in spec.code_tables.items():
        if src in df.columns:
            entries.append((tag_key, _code_map_expr(F.col(src).cast("string"), table)))
    for key, value in spec.constants.items():
        entries.append((key, F.lit(value)))
    if spec.name_col and spec.name_col in df.columns:
        df = df.withColumn("__nn", TG.normalize_name(F.col(spec.name_col)))
        name = F.col("__nn")
        if spec.name_suffix:
            # `trails.py:127-130`: append the suffix unless already present
            # as a word at position > 0 (python .find(" Trail") > 0)
            name = F.when(
                F.instr(name, " " + spec.name_suffix) >= 2, name
            ).otherwise(F.concat(name, F.lit(" " + spec.name_suffix)))
        entries.append(("name", name))
    if spec.ref_col and spec.ref_col in df.columns:
        entries.append(("ref:usfs", TG.normalize_ref(F.col(spec.ref_col), spec.ref_prefix)))
    if spec.season_col and spec.season_col in df.columns:
        entries.append(("opening_hours", TG.opening_hours(F.col(spec.season_col))))
        entries.append(("seasonal", TG.is_seasonal(F.col(spec.season_col))))
    for src, tag_key in spec.vehicle_cols.items():
        if src in df.columns:
            entries.append((tag_key, F.when(F.upper(F.col(src).cast("string")) == "Y", F.lit("designated"))))
    return _with_tags(df, _out_cols(df, keep_cols), entries)
