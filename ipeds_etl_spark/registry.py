"""Endpoint catalog: declarative schema + candidate keys + PK per endpoint.

Capability parity with the reference catalog (reference
``etl/registry.py:37-167`` declares the 102-column ``directory``
schema/PK; reference ``etl/mappers/directory.py:126-238`` declares the
candidate-key fallbacks). Column names and alias lists are facts of the
public Urban Institute IPEDS API surface.

Design difference from the reference (intentional, Spark-first): the
reference splits the contract across a SQL-type dict and a hand-written
per-record Python mapper; here ONE table of ``(name, type, aliases)``
drives everything —

* ``struct_type(endpoint)``  → the typed Spark schema (≅ core DDL,
  reference ``etl/core_io.py:26-54``),
* ``mapper_columns(endpoint)`` → a generated list of cleaned/cast/
  coalesced Column expressions (≅ the row mapper, but columnar: no
  Python in the loop); ``mapper_select_stages`` is its SQL-text form,
  staged so each value is cleaned once, and is what the pipeline runs,
* ``primary_key(endpoint)``  → merge/upsert conflict target.

Field type codes: ``i``=int, ``l``=bigint, ``s``=string, ``d``=double.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark.functions.cleaning import (
    coalesce_pick,
    null_missing_stripped_sql,
    parse_double_sql,
    parse_int_sql,
    safe_double,
    safe_int,
    safe_long,
    safe_str,
    strip_sql,
)


@dataclass(frozen=True)
class Field:
    name: str
    type: str  # i / l / s / d
    aliases: tuple[str, ...] = ()

    @property
    def candidates(self) -> tuple[str, ...]:
        return (self.name, *self.aliases)


@dataclass(frozen=True)
class Endpoint:
    name: str
    path: str  # API path template (ingest documentation)
    fields: tuple[Field, ...]
    pk: tuple[str, ...]
    partition_by: tuple[str, ...] = ("year",)

    def field(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)


def _f(spec: str) -> Field:
    """Parse ``"name:type"`` or ``"name:type:alias1|alias2"``."""
    parts = spec.split(":")
    aliases = tuple(parts[2].split("|")) if len(parts) > 2 else ()
    return Field(parts[0], parts[1], aliases)


# One row per institution-year from the IPEDS "directory" endpoint.
# Aliases reflect observed field drift across API vintages.
_DIRECTORY_FIELDS = tuple(
    _f(s)
    for s in [
        # primary key
        "unitid:i",
        "year:i",
        # identity / contact
        "opeid:s",
        "inst_name:s:institution_name|instnm|name",
        "inst_alias:s",
        "address:s",
        "city:s",
        "state_abbr:s:stabbr|state",
        "zip:s:zip5|zip_code",
        "phone_number:s:phone",
        "url_school:s:website|web_address",
        "url_fin_aid:s",
        "url_application:s",
        "url_netprice:s",
        "url_veterans:s",
        "url_athletes:s",
        "url_disability_services:s",
        "ein:s",
        "duns:s",
        "ueis:s",
        "chief_admin_name:s",
        "chief_admin_title:s",
        "inst_system_name:s",
        # geography
        "fips:i",
        "county_name:s",
        "county_fips:i",
        "region:i",
        "urban_centric_locale:i:locale",
        "cbsa:i",
        "cbsa_type:i",
        "csa:i",
        "necta:i",
        "congress_district_id:i",
        "latitude:d:lat",
        "longitude:d:lon|lng",
        # status / attributes
        "inst_status:i",
        "sector:i:sector_cd",
        "inst_control:i:control",
        "institution_level:i:level|iclevel",
        "inst_category:i",
        "inst_size:i",
        "degree_granting:i",
        "title_iv_indicator:i",
        "hbcu:i",
        "tribal_college:i",
        "land_grant:i",
        "hospital:i",
        "medical_degree:i",
        "open_public:i",
        "currently_active_ipeds:i",
        "postsec_public_active:i",
        "postsec_public_active_title_iv:i",
        "primarily_postsecondary:i",
        "offering_highest_degree:i",
        "offering_highest_level:i",
        "offering_undergrad:i",
        "offering_grad:i",
        "reporting_method:i",
        "inst_system_flag:i",
        "comparison_group:i",
        "comparison_group_custom:i",
        # mergers / deletions / dates
        "newid:i",
        "date_closed:s",
        "year_deleted:i",
        # Carnegie classifications
        *[f"cc_basic_{y}:i" for y in (2000, 2010, 2015, 2018, 2021)],
        *[
            f"cc_{g}_{y}:i"
            for g in ("instruc_undergrad", "instruc_grad", "undergrad", "enroll", "size_setting")
            for y in (2010, 2015, 2018, 2021)
        ],
    ]
)

# Documented-but-absent endpoints in the reference snapshot
# (reference architecture.md:42-43,53-55) — registered here so the view
# layer (enrichment joins, KPIs, completions-by-CIP) has real contracts.
_ADMISSIONS_FIELDS = tuple(
    _f(s) for s in ["unitid:i", "year:i", "applied:i", "admitted:i", "enrolled:i"]
)
_COMPLETIONS_FIELDS = tuple(
    _f(s) for s in ["unitid:i", "year:i", "cipcode:s", "award_level:i", "completions:i"]
)

REGISTRY: dict[str, Endpoint] = {
    "directory": Endpoint(
        name="directory",
        path="ipeds/directory/{year}/",
        fields=_DIRECTORY_FIELDS,
        pk=("unitid", "year"),
    ),
    "admissions": Endpoint(
        name="admissions",
        path="ipeds/admissions-enrollment/{year}/",
        fields=_ADMISSIONS_FIELDS,
        pk=("unitid", "year"),
    ),
    "completions": Endpoint(
        name="completions",
        path="ipeds/completions-cip/{year}/",
        fields=_COMPLETIONS_FIELDS,
        pk=("unitid", "year", "cipcode", "award_level"),
    ),
}

_SPARK_TYPES = {
    "i": T.IntegerType(),
    "l": T.LongType(),
    "s": T.StringType(),
    "d": T.DoubleType(),
}
_SAFE_CASTS = {"i": safe_int, "l": safe_long, "s": safe_str, "d": safe_double}


def get_endpoint(name: str) -> Endpoint:
    if name not in REGISTRY:
        raise KeyError(f"endpoint {name!r} not registered; known: {sorted(REGISTRY)}")
    return REGISTRY[name]


def list_endpoints() -> list[str]:
    return sorted(REGISTRY)


def struct_type(endpoint: str) -> T.StructType:
    """Typed Spark schema for the endpoint's core table."""
    ep = get_endpoint(endpoint)
    nullable = {f.name: f.name not in ep.pk for f in ep.fields}
    return T.StructType(
        [T.StructField(f.name, _SPARK_TYPES[f.type], nullable[f.name]) for f in ep.fields]
    )


def mapper_columns(
    endpoint: str,
    available: set[str] | None = None,
    getter: Callable[[str], Column] = F.col,
) -> list[Column]:
    """Generated normalization expressions: one aliased Column per field.

    Each output column = safe_cast(coalesce_pick(candidate columns)).
    ``available`` restricts candidates to fields actually present in the
    input (records from old API vintages lack some aliases); a field
    with no present candidate becomes a typed NULL so output schema is
    total and stable. ``getter`` maps a candidate name to a Column —
    ``F.col`` for flat records, or a map/struct item accessor for
    exploded JSON records (absent keys yield NULL, which
    ``coalesce_pick`` already skips).
    """
    ep = get_endpoint(endpoint)
    out: list[Column] = []
    for f in ep.fields:
        cands = [c for c in f.candidates if available is None or c in available]
        if cands:
            expr = _SAFE_CASTS[f.type](coalesce_pick(*[getter(c) for c in cands]))
        else:
            expr = F.lit(None).cast(_SPARK_TYPES[f.type])
        out.append(expr.alias(f.name))
    return out


_SQL_PARSES: dict[str, Callable[[str], str]] = {
    "i": parse_int_sql,
    "l": lambda p: parse_int_sql(p, "BIGINT"),
    "s": lambda p: p,
    "d": parse_double_sql,
}


def mapper_select_stages(endpoint: str, getter_sql: Callable[[str], str]) -> list[list[str]]:
    """SQL-text form of :func:`mapper_columns` as four projections, one
    ``selectExpr`` each, in which every value is computed once:

    1. strip each distinct candidate key (``__k<i>``);
    2. null its empty and sentinel values;
    3. per field, ``coalesce`` the cleaned candidates (``__f<j>``);
    4. apply the field's regex-guarded cast. A string field needs no
       second clean: a stripped, non-missing value stays so.

    A field is thus the stripped first candidate that is not missing —
    the same rows as ``safe_cast(coalesce_pick(...))`` (pinned by
    ``tests/test_registry.py``), without its nesting, which strips and
    sentinel-checks every candidate up to five times. Nested, the
    directory mapper's generated class overruns the JVM's 64 KB method
    limit and Spark silently runs it interpreted. Use
    :func:`select_mapped` to apply the stages.

    ``getter_sql`` maps a candidate field name to a SQL expression,
    e.g. ``lambda n: f"rec['{n}']"`` for map-typed records.
    """
    ep = get_endpoint(endpoint)
    distinct = dict.fromkeys(c for f in ep.fields for c in f.candidates)
    keys = {k: f"`__k{i}`" for i, k in enumerate(distinct)}
    strip = [
        f"{strip_sql(f'CAST({getter_sql(k)} AS STRING)')} AS {ref}" for k, ref in keys.items()
    ]
    clean = [f"{null_missing_stripped_sql(ref)} AS {ref}" for ref in keys.values()]
    pick = [
        f"coalesce({', '.join(keys[c] for c in f.candidates)}) AS `__f{j}`"
        for j, f in enumerate(ep.fields)
    ]
    cast = [
        f"{_SQL_PARSES[f.type](f'`__f{j}`')} AS `{f.name}`" for j, f in enumerate(ep.fields)
    ]
    return [strip, clean, pick, cast]


def select_mapped(
    df: DataFrame,
    endpoint: str,
    getter_sql: Callable[[str], str],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Apply :func:`mapper_select_stages` to ``df``, carrying the
    ``keep`` columns through every stage."""
    for stage in mapper_select_stages(endpoint, getter_sql=getter_sql):
        df = df.selectExpr(*stage, *[f"`{c}`" for c in keep])
    return df


def drift_report(endpoint: str, incoming_fields: set[str]) -> dict[str, list[str]]:
    """Contract check (reference architecture.md:174): which incoming
    fields are unknown to the registry, and which registry fields have
    no incoming candidate. Logged by the pipeline, never fatal."""
    ep = get_endpoint(endpoint)
    known = {c for f in ep.fields for c in f.candidates}
    return {
        "unknown_incoming": sorted(incoming_fields - known),
        "missing_candidates": sorted(
            f.name for f in ep.fields if not (set(f.candidates) & incoming_fields)
        ),
    }


# ---------------------------------------------------------------------------
# Declarative endpoint config files (reference README.md:46-55 documents
# an optional ``config/endpoints.yaml``; the reference snapshot itself
# is code-declared, like this registry). A config file holds a mapping
#   {endpoint_name: {path, pk, partition_by?, fields: ["name:type" |
#    "name:type:alias1|alias2", ...]}}
# — the same compact field spec ``_f`` parses for the built-ins — as
# JSON (always available) or YAML (only if a yaml module is installed;
# gated behind import-try per the container's no-install policy).
# ---------------------------------------------------------------------------
def _endpoint_from_spec(name: str, spec: dict) -> Endpoint:
    for req in ("path", "pk", "fields"):
        if req not in spec:
            raise ValueError(f"endpoint {name!r}: missing required key {req!r}")
    fields = tuple(_f(s) for s in spec["fields"])
    # a typo'd type code would otherwise surface only as a bare
    # KeyError at struct_type/mapper time, far from the config
    for f in fields:
        if f.type not in _SPARK_TYPES:
            raise ValueError(
                f"endpoint {name!r}: field {f.name!r} has unknown type "
                f"code {f.type!r}; expected one of {sorted(_SPARK_TYPES)} "
                "(i=int, l=long, s=string, d=double)"
            )
    known = {f.name for f in fields}
    for k in spec["pk"]:
        if k not in known:
            raise ValueError(f"endpoint {name!r}: pk column {k!r} not in fields")
    partition_by = tuple(spec.get("partition_by", ("year",)))
    # a typo'd partition_by would otherwise surface only at write time
    # (ADVICE r6) — validate against the declared fields like pk
    for k in partition_by:
        if k not in known:
            raise ValueError(
                f"endpoint {name!r}: partition_by column {k!r} not in fields"
            )
    return Endpoint(
        name=name,
        path=spec["path"],
        fields=fields,
        pk=tuple(spec["pk"]),
        partition_by=partition_by,
    )


def load_endpoints_config(path: str, register: bool = True) -> dict[str, Endpoint]:
    """Load endpoint declarations from a JSON or YAML config file and
    (by default) register them alongside the built-ins — the
    file-declared twin of the code-declared catalog, so deployments can
    add endpoints without shipping code. Duplicate names OVERRIDE the
    in-code declaration (deployment wins), matching the reference
    README's config-over-code intent; each override is LOGGED (ADVICE
    r6 — a silent shadow of a built-in is how a stale config hides a
    schema change)."""
    from pathlib import Path as _Path

    text = _Path(path).read_text()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml  # type: ignore
        except ImportError as e:  # pragma: no cover - no yaml in container
            raise ImportError(
                "YAML endpoint configs need a yaml module; use JSON here"
            ) from e
        raw = yaml.safe_load(text)
    else:
        import json as _json

        raw = _json.loads(text)
    if not isinstance(raw, dict):
        raise ValueError("endpoints config must be a mapping of name -> spec")
    out = {name: _endpoint_from_spec(name, spec) for name, spec in raw.items()}
    if register:
        overridden = sorted(set(out) & set(REGISTRY))
        if overridden:
            import logging

            logging.getLogger(__name__).info(
                f"endpoints config {path!r} overrides built-in endpoint(s): "
                f"{', '.join(overridden)}"
            )
        REGISTRY.update(out)
    return out


def dump_endpoints_config() -> dict:
    """Inverse of ``load_endpoints_config``: the current registry as a
    JSON-serializable mapping (round-trip pinned by test) — what a
    deployment writes out to freeze its catalog declaratively."""
    def field_spec(f: Field) -> str:
        base = f"{f.name}:{f.type}"
        return f"{base}:{'|'.join(f.aliases)}" if f.aliases else base

    return {
        ep.name: {
            "path": ep.path,
            "pk": list(ep.pk),
            "partition_by": list(ep.partition_by),
            "fields": [field_spec(f) for f in ep.fields],
        }
        for ep in REGISTRY.values()
    }
