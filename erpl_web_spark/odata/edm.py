"""EDMX ($metadata) parser and EDM -> Spark type compiler.

Reference behavior being reproduced (SURVEY.md §1.3):
- primitive map: odata_edm.hpp:2057-2096 (see table below);
- DECIMAL precision/scale with default (18,0), clamped p<=38, s<=p
  (odata_edm.hpp:2111-2118);
- Collection(T) -> ArrayType(T) (odata_edm.hpp:2100-2108);
- ComplexType/EntityType -> StructType with base-type flattening,
  navigation properties EXCLUDED from entity structs
  (odata_edm.hpp:2244-2277, nav exclusion :2271-2274);
- EnumType -> member-name strings (odata_edm.hpp:2227-2236; Spark has no
  enum type);
- unknown -> StringType fallback (odata_edm.hpp:2092-2095);
- Edm.Time/TimeOfDay -> StringType (no Spark TIME type; documented gap,
  SURVEY.md §7 hard part 6);
- expanded nav property columns: single -> StructType, collection ->
  ArrayType(StructType) (odata_edm.cpp:246-286), with recursion cycle
  guard (odata_describe_functions.cpp:136-149 visited-set).

Parses both OData v4 EDMX (nav props carry Type=...) and v2 EDMX (nav
props resolved through Association/End roles).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DayTimeIntervalType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_PRIMITIVES: dict[str, DataType] = {
    "Edm.Binary": BinaryType(),
    "Edm.Stream": BinaryType(),
    "Edm.Boolean": BooleanType(),
    "Edm.Byte": ByteType(),   # unsigned in EDM; reference squeezes into signed TINYINT
    "Edm.SByte": ByteType(),
    "Edm.Date": DateType(),
    "Edm.DateTime": TimestampType(),
    "Edm.DateTimeOffset": TimestampType(),
    "Edm.Double": DoubleType(),
    "Edm.Duration": DayTimeIntervalType(),
    "Edm.Guid": StringType(),
    "Edm.Int16": ShortType(),
    "Edm.Int32": IntegerType(),
    "Edm.Int64": LongType(),
    "Edm.Single": FloatType(),
    "Edm.String": StringType(),
    "Edm.Time": StringType(),
    "Edm.TimeOfDay": StringType(),
}


def edm_primitive_to_spark(edm_type: str, precision=None, scale=None) -> DataType:
    if edm_type == "Edm.Decimal":
        p = int(precision) if precision not in (None, "") else 18
        s = int(scale) if scale not in (None, "", "variable") else 0
        p = min(p, 38)
        s = min(s, p)
        return DecimalType(p, s)
    if edm_type.startswith("Edm.Geography") or edm_type.startswith("Edm.Geometry"):
        return StringType()  # WKT/GeoJSON passthrough
    return _PRIMITIVES.get(edm_type, StringType())


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


@dataclass
class EdmProperty:
    name: str
    type: str
    nullable: bool = True
    precision: str | None = None
    scale: str | None = None


@dataclass
class EdmNavigationProperty:
    name: str
    target_type: str  # namespace-qualified entity type
    is_collection: bool


@dataclass
class EdmStructuredType:
    name: str  # namespace-qualified
    base_type: str | None
    properties: list[EdmProperty] = field(default_factory=list)
    navigation: list[EdmNavigationProperty] = field(default_factory=list)
    key: list[str] = field(default_factory=list)
    is_entity: bool = False


@dataclass
class EdmEntitySet:
    name: str
    entity_type: str


class EdmModel:
    """Parsed EDMX document: entity/complex/enum types + entity sets."""

    def __init__(self) -> None:
        self.types: dict[str, EdmStructuredType] = {}
        self.enums: dict[str, list[str]] = {}
        self.entity_sets: dict[str, EdmEntitySet] = {}
        self.version: str = "4.0"

    @property
    def protocol_version(self) -> int:
        """OData major version the service speaks: an EDMX ``Version`` of
        4.x is v4; anything else (1.0 for v2/v3 services) is v2."""
        return 4 if self.version.startswith("4") else 2

    # -- parsing -----------------------------------------------------------

    @classmethod
    def from_xml(cls, xml_text: str) -> "EdmModel":
        model = cls()
        root = ET.fromstring(xml_text)
        model.version = root.get("Version", "4.0")
        associations: dict[str, dict[str, tuple[str, str]]] = {}

        for schema in root.iter():
            if _localname(schema.tag) != "Schema":
                continue
            ns = schema.get("Namespace", "")
            for el in schema:
                tag = _localname(el.tag)
                if tag in ("EntityType", "ComplexType"):
                    model._parse_structured(el, ns, is_entity=(tag == "EntityType"))
                elif tag == "EnumType":
                    members = [m.get("Name") for m in el if _localname(m.tag) == "Member"]
                    model.enums[f"{ns}.{el.get('Name')}"] = members
                elif tag == "Association":  # v2 nav-prop resolution
                    ends = {}
                    for end in el:
                        if _localname(end.tag) == "End":
                            ends[end.get("Role")] = (
                                end.get("Type"),
                                end.get("Multiplicity", "1"),
                            )
                    associations[f"{ns}.{el.get('Name')}"] = ends
                elif tag == "EntityContainer":
                    for es in el:
                        if _localname(es.tag) == "EntitySet":
                            model.entity_sets[es.get("Name")] = EdmEntitySet(
                                es.get("Name"), es.get("EntityType")
                            )

        # Resolve v2 navigation properties recorded as (Relationship, ToRole).
        for t in model.types.values():
            for nav in t.navigation:
                if nav.target_type.startswith("\0rel:"):
                    _, rel, role = nav.target_type.split(":", 2)
                    end = associations.get(rel, {}).get(role)
                    if end:
                        nav.target_type = end[0]
                        nav.is_collection = end[1] == "*"
                    else:
                        nav.target_type = ""
        return model

    def _parse_structured(self, el: ET.Element, ns: str, is_entity: bool) -> None:
        t = EdmStructuredType(
            name=f"{ns}.{el.get('Name')}",
            base_type=el.get("BaseType"),
            is_entity=is_entity,
        )
        for child in el:
            tag = _localname(child.tag)
            if tag == "Property":
                t.properties.append(
                    EdmProperty(
                        name=child.get("Name"),
                        type=child.get("Type", "Edm.String"),
                        nullable=child.get("Nullable", "true").lower() != "false",
                        precision=child.get("Precision"),
                        scale=child.get("Scale"),
                    )
                )
            elif tag == "NavigationProperty":
                typ = child.get("Type")
                if typ:  # v4 style
                    is_coll = typ.startswith("Collection(")
                    inner = typ[11:-1] if is_coll else typ
                    t.navigation.append(EdmNavigationProperty(child.get("Name"), inner, is_coll))
                else:  # v2 style: resolve later via Association
                    rel = child.get("Relationship", "")
                    role = child.get("ToRole", "")
                    t.navigation.append(
                        EdmNavigationProperty(child.get("Name"), f"\0rel:{rel}:{role}", False)
                    )
            elif tag == "Key":
                t.key = [
                    pr.get("Name") for pr in child if _localname(pr.tag) == "PropertyRef"
                ]
        self.types[t.name] = t

    # -- type compilation --------------------------------------------------

    def property_type(self, prop: EdmProperty, _visited: frozenset[str] = frozenset()) -> DataType:
        return self._resolve_type(prop.type, prop.precision, prop.scale, _visited)

    def _resolve_type(
        self, edm_type: str, precision, scale, visited: frozenset[str]
    ) -> DataType:
        if edm_type.startswith("Collection("):
            inner = edm_type[11:-1]
            return ArrayType(self._resolve_type(inner, precision, scale, visited))
        if edm_type.startswith("Edm."):
            return edm_primitive_to_spark(edm_type, precision, scale)
        if edm_type in self.enums:
            return StringType()  # enum member names
        if edm_type in self.types:
            if edm_type in visited:  # cycle guard
                return StringType()
            return self.struct_for(edm_type, include_nav=False, _visited=visited | {edm_type})
        return StringType()  # unknown fallback

    def _flattened_properties(self, type_name: str) -> list[EdmProperty]:
        """Base-type inheritance flattening (odata_edm.hpp:2244-2277)."""
        t = self.types.get(type_name)
        if t is None:
            return []
        props = list(self._flattened_properties(t.base_type)) if t.base_type else []
        props.extend(t.properties)
        return props

    def struct_for(
        self,
        type_name: str,
        include_nav: bool = False,
        expand: list[str] | None = None,
        _visited: frozenset[str] = frozenset(),
    ) -> StructType:
        """StructType of an entity/complex type.

        Navigation properties are excluded unless explicitly expanded
        (reference excludes nav props from entity structs,
        odata_edm.hpp:2271-2274; $expand adds them back as STRUCT /
        LIST(STRUCT) columns, odata_edm.cpp:246-286).
        """
        fields: list[StructField] = []
        for p in self._flattened_properties(type_name):
            fields.append(
                StructField(p.name, self.property_type(p, _visited), p.nullable)
            )
        nav_names = set(expand or ([n.name for n in self._nav_of(type_name)] if include_nav else []))
        for nav in self._nav_of(type_name):
            if nav.name not in nav_names or not nav.target_type:
                continue
            inner = self.struct_for(
                nav.target_type, include_nav=False, _visited=_visited | {type_name}
            )
            dt: DataType = ArrayType(inner) if nav.is_collection else inner
            fields.append(StructField(nav.name, dt, True))
        return StructType(fields)

    def _nav_of(self, type_name: str) -> list[EdmNavigationProperty]:
        navs: list[EdmNavigationProperty] = []
        t = self.types.get(type_name)
        while t is not None:
            navs = t.navigation + navs
            t = self.types.get(t.base_type) if t.base_type else None
        return navs

    def schema_for_entity_set(
        self, set_name: str, expand: list[str] | None = None
    ) -> StructType:
        es = self.entity_sets.get(set_name)
        if es is None:
            raise KeyError(
                f"entity set '{set_name}' not found; available: {sorted(self.entity_sets)}"
            )
        return self.struct_for(es.entity_type, expand=expand)

    def key_for_entity_set(self, set_name: str) -> list[str]:
        es = self.entity_sets.get(set_name)
        if es is None:
            return []
        t = self.types.get(es.entity_type)
        return list(t.key) if t else []
