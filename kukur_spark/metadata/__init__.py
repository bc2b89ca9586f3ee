"""Per-series metadata: typed well-known fields + untyped extras.

Parity target: reference ``kukur/metadata/__init__.py`` (field access
:81-98, custom registration :141-152, camelCase serde :118-126). The Spark
representation of a metadata *set* is one DataFrame row per series with the
well-known columns plus a ``map<string,string>`` column for extras.
"""

from __future__ import annotations

from typing import Any, Dict, Iterator, List, Optional, Tuple

from kukur_spark.base import SeriesSelector
from kukur_spark.metadata.fields import (
    WELL_KNOWN_FIELDS,
    MetadataField,
    _serialize_enum,
)


class Metadata:
    """Metadata for one series: registry-typed fields + untyped extras."""

    # class-level registry; register_field appends (with ordering control)
    _registry: List[MetadataField] = list(WELL_KNOWN_FIELDS)

    def __init__(self, series: SeriesSelector):
        self.series = series
        self._values: Dict[str, Any] = {}
        self._extra: Dict[str, str] = {}

    # -- registry ---------------------------------------------------------
    @classmethod
    def register_field(
        cls, field: MetadataField, *, after: Optional[str] = None
    ) -> None:
        """Register a custom typed field, optionally ordered after another."""
        cls._registry = [f for f in cls._registry if f.name != field.name]
        if after is None:
            cls._registry.append(field)
        else:
            idx = next(
                (i for i, f in enumerate(cls._registry) if f.name == after),
                len(cls._registry) - 1,
            )
            cls._registry.insert(idx + 1, field)

    @classmethod
    def fields(cls) -> List[MetadataField]:
        return list(cls._registry)

    @classmethod
    def _find(cls, name: str) -> Optional[MetadataField]:
        for f in cls._registry:
            if f.name == name or f.serialized_name == name:
                return f
        return None

    # -- access -----------------------------------------------------------
    def set_field_by_name(self, name: str, value: Any) -> None:
        """Set a field; unknown names become untyped extras; coercion
        failures are silently ignored (reference kukur/source/sql.py:168-173).
        """
        field = self._find(name)
        if field is None:
            if value is not None:
                self._extra[name] = str(value)
            return
        try:
            self._values[field.name] = field.coerce(value)
        except (ValueError, TypeError):
            pass

    def get_field_by_name(self, name: str) -> Any:
        field = self._find(name)
        if field is None:
            return self._extra.get(name)
        value = self._values.get(field.name)
        if value is None and field.calculate is not None:
            value = field.calculate(self)
        if value is None:
            return field.default
        return value

    # dict-style conveniences
    def __setitem__(self, name: str, value: Any) -> None:
        self.set_field_by_name(name, value)

    def __getitem__(self, name: str) -> Any:
        return self.get_field_by_name(name)

    def iter_names(self) -> Iterator[Tuple[str, Any]]:
        for f in self._registry:
            yield f.name, self.get_field_by_name(f.name)
        yield from self._extra.items()

    # -- serde ------------------------------------------------------------
    def to_data(self) -> Dict[str, Any]:
        """camelCase dict (reference kukur/metadata/__init__.py:118-126,
        185-189): only set/derivable fields are emitted — the reference
        serializes ``self._values`` and a strict client need not handle
        explicit nulls."""
        out: Dict[str, Any] = {"series": {
            "source": self.series.source,
            "tags": dict(self.series.tags),
            "field": self.series.field,
        }}
        for f in self._registry:
            value = self.get_field_by_name(f.name)
            if value is None:
                continue
            out[f.serialized_name] = _serialize_enum(value)
        out.update(self._extra)
        return out

    @classmethod
    def from_data(
        cls, data: Dict[str, Any], series: Optional[SeriesSelector] = None
    ) -> "Metadata":
        if series is None:
            s = data.get("series", {})
            series = SeriesSelector(
                s.get("source", ""), dict(s.get("tags", {})), s.get("field", "value")
            )
        metadata = cls(series)
        for key, value in data.items():
            if key == "series":
                continue
            metadata.set_field_by_name(key, value)
        return metadata
