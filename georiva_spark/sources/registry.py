"""Format plugin registry (reference: formats/registry.py:18-96,
formats/base.py:85-234).

A plugin implements the reference's format contract — can_handle /
list_variables / get_timestamps / open_variable — but ``open_variable``
returns a long-format grid *DataFrame* instead of a numpy array: the scan
is `binaryFile` + `mapInPandas`, so decoding distributes across executors
and a directory of thousands of GRIB/NetCDF files becomes one partitioned
read. ``open_file`` (ingest) returns every variable from one decode.
"""

from __future__ import annotations

import os
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession


@runtime_checkable
class FormatPlugin(Protocol):
    name: str
    extensions: tuple[str, ...]
    magic_bytes: tuple[bytes, ...]

    def can_handle(self, path: str, head: bytes | None = None) -> bool: ...
    def list_variables(self, spark: SparkSession, path: str) -> list[str]: ...
    def get_timestamps(self, spark: SparkSession, path: str,
                       variable: str) -> list: ...
    def open_variable(self, spark: SparkSession, path: str, variable: str,
                      *, timestamp=None, window=None) -> DataFrame: ...
    def open_file(self, spark: SparkSession, path: str, *,
                  collection: str = "c") -> DataFrame: ...


class FormatRegistry:
    """Lookup by name, extension, or magic bytes (registry.py:18-96)."""

    def __init__(self) -> None:
        self._by_name: dict[str, FormatPlugin] = {}

    def register(self, plugin: FormatPlugin) -> FormatPlugin:
        self._by_name[plugin.name] = plugin
        return plugin

    def get(self, name: str) -> FormatPlugin:
        return self._by_name[name]

    def get_by_extension(self, path: str) -> FormatPlugin | None:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        for p in self._by_name.values():
            if ext in p.extensions:
                return p
        return None

    def get_for_file(self, path: str) -> FormatPlugin | None:
        """Extension first, then magic-byte sniff (grib.py:66-73)."""
        by_ext = self.get_by_extension(path)
        if by_ext is not None:
            return by_ext
        try:
            with open(path, "rb") as f:
                head = f.read(16)
        except OSError:
            return None
        for p in self._by_name.values():
            if p.can_handle(path, head):
                return p
        return None

    def names(self) -> list[str]:
        return sorted(self._by_name)


DEFAULT_REGISTRY = FormatRegistry()


def register_default(plugin: FormatPlugin) -> FormatPlugin:
    return DEFAULT_REGISTRY.register(plugin)
