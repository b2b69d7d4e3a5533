"""Profile-equivalent configuration.

Reference: ``conflate/profile.py :: class Profile`` (SURVEY.md §3 SRC1) —
the reference ``exec``s a Python profile file into a namespace and reads
keys through ``Profile.get``.  Here the profile is a plain frozen
dataclass built on the driver and broadcast implicitly through task
closures; no executor-side ``exec`` ever happens.

Keys mirror the reference profile keys documented in the public
osm_conflate README: ``dataset_id``, ``max_distance``,
``duplicate_distance``, ``master_tags``, ``delete_unmatched``,
``tag_unmatched``, ``query``, ``categories``, ``transform``.
Engine-only keys (cell/tile/matching internals) are grouped at the end.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional


# A profile `query` is a list of tag clauses applied to the OSM side (F1).
# Clause forms (re-expression of the reference's Overpass tag clauses):
#   ("amenity", "=", "fuel")     -> tags['amenity'] == 'fuel'
#   ("amenity", "~", "fuel")     -> 'fuel' is a substring of tags['amenity']
#   ("amenity", None, None)      -> key exists
# Clauses within the list AND together (same as one Overpass selector chain).
QueryClause = tuple[str, Optional[str], Optional[str]]


@dataclass(frozen=True)
class ConflateConfig:
    # --- reference profile keys -------------------------------------------
    dataset_id: str = "test"
    #: match radius in meters (reference default 100 m, SURVEY §3 J1)
    max_distance: float = 100.0
    #: dataset self-duplicate collapse radius (reference D2)
    duplicate_distance: float = 1.0
    #: dataset tags that overwrite OSM values on merge (X2)
    master_tags: frozenset = frozenset({"name", "opening_hours"})
    #: unmatched previously-conflated OSM objects: delete vs retag (J5)
    delete_unmatched: bool = True
    #: key-rename map applied on retag, e.g. {'amenity': 'disused:amenity'}
    tag_unmatched: tuple = (("amenity", "disused:amenity"),)
    #: OSM-side tag filter clauses (F1); empty = keep all
    query: tuple = ()
    #: per-category overrides (F3): {category: {tag: value, ...}}.  The
    #: reserved key ``max_distance`` (float) overrides the MATCH RADIUS
    #: for dataset points of that category (reference profiles set
    #: category-specific radii); every other key is an extra tag set
    #: only where absent.
    categories: tuple = ()
    #: dataset transform DSL (F2): {tag: rule}; rule is a constant string,
    #: '-' prefix = delete tag, '+' prefix = set only if absent,
    #: or a callable str->str (applied via vectorized pandas UDF).
    transform: tuple = ()
    #: J3 — custom match predicate: callable(osm_tags: dict, ds_tags: dict)
    #: -> bool vetoing candidate pairs before greedy (reference profile
    #: ``matches`` hook); None = always-true
    matches: Optional[Callable] = None
    #: U2 — weight/priority hook: callable(ds_tags: dict) -> float.
    #: Higher-weight dataset points match BEFORE lower-weight ones
    #: regardless of distance (greedy order key becomes
    #: (-weight, dist, dataset_id, osm_pk)); None = all weights equal,
    #: pure nearest-first.
    weight: Optional[Callable] = None

    # --- engine-only knobs -------------------------------------------------
    #: matched nodes farther than this from the dataset point are moved (X3)
    position_tolerance: float = 0.1
    #: spatial grid cell size in meters (S1) — a floor: ``__post_init__``
    #: raises it to the widest match radius in play (``max_distance`` and
    #: every category override), so k-ring-1 stays neighbor-complete
    cell_m: float = 200.0
    #: super-block edge in cells for the match kernel grouping (§8.4)
    block_cells: int = 32
    #: pairs-per-kernel-group cap above which the skew guard splits a
    #: block, once, before matching round 0.  1M pairs ≈ 6 s of kernel
    #: CPU — the straggler bound a single task may impose on the whole
    #: stage at cluster scale; an oversized block is cut by a weighted
    #: range cut over its cells into 16 ~equal-pair chunks, so post-split
    #: kernels are ~cap/16.  Deferred rounds keep the split block ids.
    salt_cap_pairs: int = 1_000_000
    #: the driver finishes a dup graph of at most this many edges; 0 =
    #: every round distributed
    dedup_driver_max_pairs: int = 500_000
    #: z level for the raster summary tile layer (X8)
    tile_zoom: int = 12

    @property
    def ref_key(self) -> str:
        """``'ref:' + dataset_id`` — stamped on created/matched objects
        and used to find previously-conflated OSM points (SURVEY §2.4)."""
        return "ref:" + self.dataset_id

    @property
    def tag_unmatched_dict(self) -> dict:
        return dict(self.tag_unmatched)

    @property
    def categories_dict(self) -> dict:
        return {k: dict(v) for k, v in self.categories}

    @property
    def category_tags(self) -> dict:
        """F3 extra-tag part of ``categories`` (reserved keys removed)."""
        return {
            cat: {k: v for k, v in d.items() if k != "max_distance"}
            for cat, d in self.categories_dict.items()
        }

    @property
    def category_radii(self) -> dict:
        """F3 per-category ``max_distance`` overrides: {category: meters}."""
        return {
            cat: float(d["max_distance"])
            for cat, d in self.categories_dict.items()
            if "max_distance" in d
        }

    def radius_for(self, category) -> float:
        """Effective match radius for a dataset point's category."""
        return self.category_radii.get(category, self.max_distance)

    @property
    def transform_dict(self) -> dict:
        return dict(self.transform)

    def __post_init__(self) -> None:
        if self.duplicate_distance > self.max_distance:
            raise ValueError("duplicate_distance must be <= max_distance")
        # SURVEY §8.3: cell height = max(cell_m, radius) — k-ring-1 sees
        # every pair within the widest radius in play
        widest = max([self.max_distance, *self.category_radii.values()])
        object.__setattr__(self, "cell_m", max(self.cell_m, widest))


DEFAULT_CONFIG = ConflateConfig()
