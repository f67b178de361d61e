"""Logical → physical attribute mapping with naming conventions.

Parity: /root/reference/cubes/sql/mapper.py (Naming 84-212, Mapper
215-268, StarSchemaMapper 271-338, DenormalizedMapper 341-360,
map_base_attributes 326-338).
"""

from __future__ import annotations

import re
from typing import Any, Dict, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from cubes_spark.metadata.attributes import Attribute
from cubes_spark.metadata.cube import Cube
from cubes_spark.plans.star import ColumnRef, to_column

__all__ = [
    "Naming",
    "Mapper",
    "StarSchemaMapper",
    "DenormalizedMapper",
    "map_base_attributes",
    "distill_naming",
    "ref_col",
    "safe_name",
]


def safe_name(ref: str) -> str:
    """``ref`` with dots as ``__``: logical refs contain dots, parquet
    field names and view names cannot."""
    return ref.replace(".", "__")


def ref_col(ref: str) -> Column:
    """Column by name, backtick-safe for dotted logical refs."""
    return F.col(f"`{ref}`")


NAMING_DEFAULTS = {
    "fact_prefix": None,
    "fact_suffix": None,
    "dimension_prefix": None,
    "dimension_suffix": None,
    "dimension_key_prefix": None,
    "dimension_key_suffix": None,
    "denormalized_prefix": None,
    "denormalized_suffix": None,
    "aggregated_prefix": None,
    "aggregated_suffix": None,
    "fact_key": "id",
    "dimension_key": "id",
    "explicit_dimension_primary": False,
    "schema": None,
    "fact_schema": None,
    "dimension_schema": None,
}


def _match_names(pattern: re.Pattern, names: Any) -> list:
    result = []
    for name in names:
        match = pattern.match(name)
        if match:
            result.append((name, match.group("name")))
    return result


class Naming(dict):
    """Naming conventions for physical tables/keys
    (parity: sql/mapper.py:84-212)."""

    def __init__(self, *args: Any, **kwargs: Any) -> None:
        super().__init__(*args, **kwargs)
        for key, value in NAMING_DEFAULTS.items():
            self.setdefault(key, value)

        self["dim_name_pattern"] = re.compile(
            "^{}(?P<name>.*){}$".format(
                self["dimension_prefix"] or "", self["dimension_suffix"] or ""
            )
        )
        self["fact_name_pattern"] = re.compile(
            "^{}(?P<name>.*){}$".format(
                self["fact_prefix"] or "", self["fact_suffix"] or ""
            )
        )
        self["dim_key_pattern"] = re.compile(
            "^{}(?P<name>.*){}$".format(
                self["dimension_key_prefix"] or "", self["dimension_key_suffix"] or ""
            )
        )

    def __getattr__(self, item: str) -> Any:
        try:
            return self[item]
        except KeyError:
            raise AttributeError(item)

    def dimension_table_name(self, name: str) -> str:
        return "{}{}{}".format(
            self["dimension_prefix"] or "", name, self["dimension_suffix"] or ""
        )

    def fact_table_name(self, name: str) -> str:
        return "{}{}{}".format(
            self["fact_prefix"] or "", name, self["fact_suffix"] or ""
        )

    def denormalized_table_name(self, name: str) -> str:
        return "{}{}{}".format(
            self["denormalized_prefix"] or "", name, self["denormalized_suffix"] or ""
        )

    def aggregated_table_name(self, name: str) -> str:
        return "{}{}{}".format(
            self["aggregated_prefix"] or "", name, self["aggregated_suffix"] or ""
        )

    def dimension_primary_key(self, name: str) -> str:
        if self["explicit_dimension_primary"]:
            return "{}{}{}".format(
                self["dimension_key_prefix"] or "",
                name,
                self["dimension_key_suffix"] or "",
            )
        return self["dimension_key"]

    def dimension_keys(self, keys: Any) -> list:
        return _match_names(self["dim_key_pattern"], keys)

    def dimensions(self, table_names: Any) -> list:
        return _match_names(self["dim_name_pattern"], table_names)

    def facts(self, table_names: Any) -> list:
        return _match_names(self["fact_name_pattern"], table_names)


def distill_naming(dictionary: dict) -> Naming:
    """Keep only naming-relevant keys (parity: sql/mapper.py:62-70)."""
    d = {k: v for k, v in dictionary.items() if k in NAMING_DEFAULTS}
    return Naming(d)


class Mapper:
    """Implicit attribute → physical column mapping
    (parity: sql/mapper.py:215-268)."""

    def __init__(self, cube: Cube, naming: Naming,
                 locale: Optional[str] = None) -> None:
        self.cube = cube
        self.naming = naming
        self.locale = locale
        self.mappings = cube.mappings or {}
        self.fact_name = cube.fact or naming.fact_table_name(cube.name)

    def __getitem__(self, attribute: Any) -> ColumnRef:
        column_name = attribute.name

        locales = getattr(attribute, "locales", None)
        if locales:
            locale = self.locale if self.locale in locales else locales[0]
            column_name = f"{column_name}_{locale}"

        return to_column((self.attribute_table(attribute), column_name))

    def attribute_table(self, attribute: Any) -> str:
        dimension = getattr(attribute, "dimension", None)
        if dimension is None or \
                (dimension.is_flat and not dimension.has_details):
            return self.fact_name
        return self.naming.dimension_table_name(dimension.name)


class StarSchemaMapper(Mapper):
    """Mapper honoring explicit `cube.mappings`
    (parity: sql/mapper.py:271-323)."""

    def __getitem__(self, attribute: Any) -> ColumnRef:
        ref = attribute.ref
        localized_ref = None
        locales = getattr(attribute, "locales", None)
        if locales:
            # no browser locale → the attribute's first locale is the
            # default (parity: sql/mapper.py:240-248)
            locale = self.locale if self.locale in locales else locales[0]
            localized_ref = f"{ref}.{locale}"

        mapping = None
        if localized_ref and localized_ref in self.mappings:
            mapping = self.mappings[localized_ref]
        elif ref in self.mappings:
            mapping = self.mappings[ref]
        elif attribute.name in self.mappings and getattr(
            attribute, "dimension", None
        ) is None:
            mapping = self.mappings[attribute.name]

        if mapping is not None:
            return to_column(mapping, default_table=self.fact_name)
        return super().__getitem__(attribute)


class DenormalizedMapper(Mapper):
    """Everything maps to one denormalized table, columns named by
    logical ref with ``__`` for dots (parity: sql/mapper.py:341-360;
    parquet field names cannot contain dots, so this matches exactly
    what ``materialize_denormalized`` writes — a materialized star
    round-trips into a denormalized browser unchanged)."""

    def __init__(self, cube: Cube, naming: Naming,
                 locale: Optional[str] = None) -> None:
        super().__init__(cube, naming, locale)
        self.fact_name = cube.fact or naming.denormalized_table_name(cube.name)

    def __getitem__(self, attribute: Any) -> ColumnRef:
        return to_column((self.fact_name, safe_name(attribute.ref)))


def map_base_attributes(
    cube: Cube, mapper_class: type, naming: Naming,
    locale: Optional[str] = None
) -> Tuple[str, Dict[str, ColumnRef]]:
    """Map all base attributes of `cube`
    (parity: sql/mapper.py:326-338). Returns (fact_name, mappings)."""
    mapper = mapper_class(cube, naming, locale)
    # all_attributes (not just fact attributes) so that pre-aggregated
    # base aggregates — no function, no expression — map to physical
    # columns too (parity: sql/mapper.py:326-338 maps every base attr)
    base = [attr for attr in cube.all_attributes if attr.is_base]
    mappings = {attr.ref: mapper[attr] for attr in base}
    return mapper.fact_name, mappings
