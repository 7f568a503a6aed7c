"""Recipe protocol + hashing (reference: processing/recipe.py:25-224,
core/derived_products/definitions.py:24-192).

A *production unit* is a plain JSON-able dict identifying one derivable
output (e.g. {"collection": "...", "season": "JJA", "period": [2020, 2021],
"quantity": "anomaly"}). Units hash canonically; the unit hash keys the run
ledger and the deterministic output partition. The *input hash* is
sha256(sorted input checksums + recipe version) — the idempotency token
(recipe.py:36-42): if an item was produced from identical inputs by the
same recipe version, the unit is skipped.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

ProductionUnit = dict  # plain JSON dict, hashed canonically (recipe.py:25-33)


def canonical_json(obj: Any) -> str:
    """Deterministic serialization: sorted keys, no whitespace drift."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), default=str)


def unit_hash(unit: ProductionUnit) -> str:
    return hashlib.sha256(canonical_json(unit).encode()).hexdigest()


def input_hash(checksums: Iterable[str], recipe_version: str) -> str:
    """sha256 over sorted input checksums + version (recipe.py:36-42)."""
    payload = canonical_json({"inputs": sorted(checksums),
                              "version": recipe_version})
    return hashlib.sha256(payload.encode()).hexdigest()


def stable_item_id(*key_parts: Any) -> int:
    """Deterministic 60-bit item id from an item's NATURAL KEY
    (collection, variable, time, ...) — the ``_code_ref`` md5 policy
    applied to catalog identity (r12, the r11 verdict's item 2).

    Two properties Python's builtin ``hash()`` lacks, both load-
    bearing for the engine's ledger:

    - STABLE across driver restarts: ``hash()`` is PYTHONHASHSEED-
      salted, so a restarted stream would re-register the same shard
      under a fresh id while the persisted lineage still references
      the old one — stale sweeps and T3 skips would silently miss it.
    - WIDE: 60 bits birthday-bound at ~2^30 items (vs ~50k at the old
      31 bits). The engine dedupes resolved inputs by item_id
      (engine._dedup_checksums), so with ids minted here that dedupe
      IS keyed on the natural key — a collision would silently drop
      one input's checksum from input_hash (a skipped recompute that
      should have run).

    None encodes distinctly from the string "None" (parts are joined
    with an unprintable separator and None → empty)."""
    key = "\x1f".join("" if p is None else str(p) for p in key_parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


@dataclass
class ResolvedInput:
    """One resolved source item feeding a unit (recipe.py:46-59)."""
    role: str                 # declared input role, e.g. "series", "baseline"
    tier: str                 # staging | published
    item_id: int
    checksum: str
    required: bool = True
    load: Callable[[], DataFrame] | None = None  # lazy grid loader
    time: Any = None          # the item's catalog time


@dataclass
class OutputItem:
    """Declared output of a unit (recipe.py:127-166)."""
    collection: str
    variable: str
    time: Any
    reference_time: Any = None
    properties: dict = field(default_factory=dict)


@runtime_checkable
class Recipe(Protocol):
    """Derivation recipe contract (recipe.py:169-224). Pure compute — all
    catalog access goes through the context the engine passes in."""

    recipe_id: str
    version: str

    def enumerate_units(self, ctx: "CatalogContext") -> list[ProductionUnit]:
        """All units derivable from the current catalog state."""
        ...

    def candidate_units(self, trigger: Any,
                        ctx: "CatalogContext") -> list[ProductionUnit]:
        """Units affected by one trigger (event→unit routing, T2;
        invocation.py:249-266)."""
        ...

    def resolve_inputs(self, unit: ProductionUnit,
                       ctx: "CatalogContext") -> list[ResolvedInput]:
        ...

    def transform(self, spark: SparkSession, unit: ProductionUnit,
                  resolved: list[ResolvedInput]) -> tuple[OutputItem, DataFrame]:
        """Pure compute: resolved inputs → (output item, output grid)."""
        ...


class CatalogContext:
    """Minimal catalog view handed to recipes: items with checksums +
    lazy grid loaders. Items are dicts with at least
    (item_id, collection, variable, time, tier, checksum)."""

    def __init__(self, spark: SparkSession, items: list[dict],
                 grid_loader: Callable[[dict], DataFrame] | None = None):
        self.spark = spark
        self.items = items
        self._grid_loader = grid_loader

    def find(self, **filters: Any) -> list[dict]:
        out = []
        for it in self.items:
            if all(it.get(k) == v for k, v in filters.items()):
                out.append(it)
        return out

    def loader_for(self, item: dict) -> Callable[[], DataFrame] | None:
        if self._grid_loader is None:
            return None
        return lambda item=item: self._grid_loader(item)


class RecipeRegistry:
    """Name→recipe registry (processing/registry.py:12-36)."""

    def __init__(self) -> None:
        self._recipes: dict[str, Recipe] = {}

    def register(self, recipe: Recipe) -> Recipe:
        self._recipes[recipe.recipe_id] = recipe
        return recipe

    def get(self, recipe_id: str) -> Recipe:
        return self._recipes[recipe_id]

    def all(self) -> list[Recipe]:
        return list(self._recipes.values())
