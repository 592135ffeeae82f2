"""Mapping-file parser: YAML/JSON -> dataclasses.

Parity target: /root/reference/mapping/config/config.go:9-118. The mapping
file is the engine's query language: it declares output tables, the
tag->table match rules, per-table filters, and typed output columns.

Declaration order of mapping values is significant (config.go:79-108): when
an element matches a table through several keys, the value declared first
(lowest `order`) wins for `mapping_key`/`mapping_value` columns
(matcher.go:180-186). PyYAML/json preserve document order in dicts (py>=3.7),
so we assign the same running order counter while walking each mapping.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import yaml

# table types — mapping/mapping.go:75-82
TABLE_TYPES = ("point", "linestring", "polygon", "geometry", "relation", "relation_member")


@dataclass
class OrderedValue:
    value: str
    order: int


# KeyValues: key -> [OrderedValue]; order is a single running counter across
# all values of one mapping block (config.go:88-106).
KeyValues = dict[str, list[OrderedValue]]


def _parse_key_values(raw: dict[str, Any] | None) -> KeyValues:
    out: KeyValues = {}
    if not raw:
        return out
    order = 0
    for k, values in raw.items():
        if values is None:
            values = []
        if isinstance(values, str):
            values = [values]
        for v in values:
            out.setdefault(str(k), []).append(OrderedValue(value=str(v), order=order))
            order += 1
    return out


@dataclass
class Column:
    name: str
    type: str
    key: str = ""
    keys: list[str] = field(default_factory=list)
    args: dict[str, Any] = field(default_factory=dict)
    from_member: bool = False

    @classmethod
    def parse(cls, raw: dict[str, Any]) -> "Column":
        return cls(
            name=raw.get("name", ""),
            type=raw.get("type", ""),
            key=str(raw.get("key", "") or ""),
            keys=[str(k) for k in (raw.get("keys") or [])],
            args=raw.get("args") or {},
            from_member=bool(raw.get("from_member", False)),
        )


@dataclass
class Filters:
    require: KeyValues = field(default_factory=dict)
    reject: KeyValues = field(default_factory=dict)
    require_regexp: dict[str, str] = field(default_factory=dict)
    reject_regexp: dict[str, str] = field(default_factory=dict)
    exclude_tags: list[tuple[str, str]] = field(default_factory=list)

    @classmethod
    def parse(cls, raw: dict[str, Any] | None) -> "Filters":
        raw = raw or {}
        return cls(
            require=_parse_key_values(raw.get("require")),
            reject=_parse_key_values(raw.get("reject")),
            require_regexp={str(k): str(v) for k, v in (raw.get("require_regexp") or {}).items()},
            reject_regexp={str(k): str(v) for k, v in (raw.get("reject_regexp") or {}).items()},
            exclude_tags=[(t[0], t[1]) for t in (raw.get("exclude_tags") or [])],
        )


@dataclass
class TypeMappings:
    points: KeyValues = field(default_factory=dict)
    linestrings: KeyValues = field(default_factory=dict)
    polygons: KeyValues = field(default_factory=dict)


@dataclass
class Table:
    name: str
    type: str
    mapping: KeyValues = field(default_factory=dict)
    mappings: dict[str, KeyValues] = field(default_factory=dict)  # named sub-mappings
    type_mappings: TypeMappings = field(default_factory=TypeMappings)
    columns: list[Column] = field(default_factory=list)
    filters: Filters = field(default_factory=Filters)
    relation_types: list[str] = field(default_factory=list)

    @classmethod
    def parse(cls, name: str, raw: dict[str, Any]) -> "Table":
        tm_raw = raw.get("type_mappings") or {}
        cols = raw.get("columns") or raw.get("fields") or []
        return cls(
            name=name,
            type=raw.get("type", ""),
            mapping=_parse_key_values(raw.get("mapping")),
            mappings={
                str(n): _parse_key_values((sub or {}).get("mapping"))
                for n, sub in (raw.get("mappings") or {}).items()
            },
            type_mappings=TypeMappings(
                points=_parse_key_values(tm_raw.get("points")),
                linestrings=_parse_key_values(tm_raw.get("linestrings")),
                polygons=_parse_key_values(tm_raw.get("polygons")),
            ),
            columns=[Column.parse(c) for c in cols],
            filters=Filters.parse(raw.get("filters")),
            relation_types=[str(t) for t in (raw.get("relation_types") or [])],
        )


@dataclass
class GeneralizedTable:
    name: str
    source: str
    tolerance: float = 0.0
    sql_filter: str = ""


@dataclass
class Tags:
    load_all: bool = False
    include: list[str] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)


@dataclass
class Areas:
    area_tags: list[str] = field(default_factory=list)
    linear_tags: list[str] = field(default_factory=list)


@dataclass
class Mapping:
    tables: dict[str, Table] = field(default_factory=dict)
    generalized_tables: dict[str, GeneralizedTable] = field(default_factory=dict)
    tags: Tags = field(default_factory=Tags)
    areas: Areas = field(default_factory=Areas)
    single_id_space: bool = False

    @classmethod
    def parse(cls, raw: dict[str, Any]) -> "Mapping":
        tags_raw = raw.get("tags") or {}
        areas_raw = raw.get("areas") or {}
        return cls(
            tables={n: Table.parse(n, t) for n, t in (raw.get("tables") or {}).items()},
            generalized_tables={
                n: GeneralizedTable(
                    name=n,
                    source=g.get("source", ""),
                    tolerance=float(g.get("tolerance", 0.0)),
                    sql_filter=str(g.get("sql_filter") or ""),
                )
                for n, g in (raw.get("generalized_tables") or {}).items()
            },
            tags=Tags(
                load_all=bool(tags_raw.get("load_all", False)),
                include=[str(k) for k in (tags_raw.get("include") or [])],
                exclude=[str(k) for k in (tags_raw.get("exclude") or [])],
            ),
            areas=Areas(
                area_tags=[str(k) for k in (areas_raw.get("area_tags") or [])],
                linear_tags=[str(k) for k in (areas_raw.get("linear_tags") or [])],
            ),
            single_id_space=bool(raw.get("use_single_id_space", False)),
        )


def load_mapping(path: str | Path) -> Mapping:
    """Load a mapping from YAML (.yml/.yaml) or JSON (.json) file."""
    path = Path(path)
    text = path.read_text()
    # JSON is parsed through YAML as well: the reference feeds JSON mapping
    # files through yaml.v2 (mapping/mapping.go:101-104), which tolerates
    # trailing commas — the test fixtures rely on that.
    raw = yaml.safe_load(text)
    return Mapping.parse(raw)


def load_mapping_str(text: str, fmt: str = "yaml") -> Mapping:
    raw = json.loads(text) if fmt == "json" else yaml.safe_load(text)
    return Mapping.parse(raw)
