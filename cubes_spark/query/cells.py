"""Cell and Cut algebra + URL cut-string parser.

Parity: /root/reference/cubes/query/cells.py — Cell 36-464, cuts
736-931, string grammar 466-733.  This is the public query language;
semantics (escaping, ``__null__``, invert, ``dim@hierarchy`` spec)
are preserved verbatim.

A cut owns what it selects.  Its identity (``==`` and ``hash``) is its
type, dimension, hierarchy — a cut that names none addresses its
dimension's default — ``invert`` and path text; :meth:`Cut.within` is
the one containment rule: equal cuts, or a point or range whose
interval lies inside another's in the same hierarchy.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Iterable, Optional

from cubes_spark.errors import ArgumentError, HierarchyError

__all__ = [
    "NULL_PATH_VALUE",
    "Cell",
    "Cut",
    "PointCut",
    "RangeCut",
    "SetCut",
    "cut_from_dict",
    "cut_from_string",
    "cuts_from_string",
    "path_from_string",
    "string_from_cuts",
    "string_from_path",
]

NULL_PATH_VALUE = "__null__"

CUT_STRING_SEPARATOR_CHAR = "|"
DIMENSION_STRING_SEPARATOR_CHAR = ":"
PATH_STRING_SEPARATOR_CHAR = ","
RANGE_CUT_SEPARATOR_CHAR = "-"
SET_CUT_SEPARATOR_CHAR = ";"

class _EscapedSplitter:
    """Split on a separator character honoring backslash escapes.

    The reference splits with a ``(?<!\\)`` lookbehind
    (cells.py:466-478), which mis-parses an *escaped backslash* before
    a separator (``\\\\,`` — the lookbehind sees the second backslash
    and refuses to split).  A left-to-right scan consuming ``\\x``
    pairs handles every escape sequence correctly.
    """

    def __init__(self, char: str) -> None:
        self.char = char

    def split(self, string: str) -> list:
        parts = []
        current: list = []
        i = 0
        while i < len(string):
            c = string[i]
            if c == "\\" and i + 1 < len(string):
                current.append(c)
                current.append(string[i + 1])
                i += 2
                continue
            if c == self.char:
                parts.append("".join(current))
                current = []
                i += 1
                continue
            current.append(c)
            i += 1
        parts.append("".join(current))
        return parts


CUT_STRING_SEPARATOR = _EscapedSplitter("|")
DIMENSION_STRING_SEPARATOR = _EscapedSplitter(":")
PATH_STRING_SEPARATOR = _EscapedSplitter(",")
RANGE_CUT_SEPARATOR = _EscapedSplitter("-")
SET_CUT_SEPARATOR = _EscapedSplitter(";")

PATH_ELEMENT = r"(?:\\.|[^:;|-])*"
RE_POINT = re.compile(r"^%s$" % PATH_ELEMENT)
RE_SET = re.compile(r"^(%s)(;(%s))*$" % (PATH_ELEMENT, PATH_ELEMENT))
RE_RANGE = re.compile(r"^(%s)?-(%s)?$" % (PATH_ELEMENT, PATH_ELEMENT))

PATH_PART_ESCAPE_PATTERN = re.compile(r"([\\!|:;,-])")
PATH_PART_UNESCAPE_PATTERN = re.compile(r"\\([\\!|:;,-])")

DIM_HIER_PATTERN = re.compile(r"(?P<invert>!)?(?P<dim>\w+)(@(?P<hier>\w+))?")


def _path_part_escape(part: Any) -> str:
    if part is None:
        return NULL_PATH_VALUE
    return PATH_PART_ESCAPE_PATTERN.sub(r"\\\1", str(part))


def _path_part_unescape(part: str) -> Optional[str]:
    if part == NULL_PATH_VALUE:
        return None
    return PATH_PART_UNESCAPE_PATTERN.sub(r"\1", str(part))


def path_from_string(string: Optional[str]) -> list:
    """Comma-separated path string → list of path elements
    (parity: cells.py:716-728)."""
    if not string:
        return []
    return [_path_part_unescape(v) for v in PATH_STRING_SEPARATOR.split(string)]


def string_from_path(path: Optional[list]) -> str:
    """Parity: cells.py:685-702."""
    if not path:
        return ""
    return PATH_STRING_SEPARATOR_CHAR.join(
        _path_part_escape(s) for s in path
    )


def string_from_hierarchy(dimension: Any, hierarchy: Any) -> str:
    if hierarchy:
        return f"{_path_part_escape(str(dimension))}@{_path_part_escape(str(hierarchy))}"
    return _path_part_escape(str(dimension))


def string_from_cuts(cuts: Iterable) -> str:
    return CUT_STRING_SEPARATOR_CHAR.join(str(cut) for cut in cuts)


# ---------------------------------------------------------------------------
# Cuts
# ---------------------------------------------------------------------------


class Cut:
    """Abstract cell cut (parity: cells.py:736-766).

    The path text of a cut's identity is the text :meth:`__str__` writes
    after the colon; ``hidden`` is not part of it.  A hierarchy of None
    is the default one when ``dimension`` is a ``Dimension``, so
    ``date:1995`` equals ``date@default:1995``."""

    def __init__(self, dimension: Any, hierarchy: Any = None,
                 invert: bool = False, hidden: bool = False) -> None:
        self.dimension = dimension
        self.hierarchy = hierarchy
        self.invert = invert
        self.hidden = hidden

    def to_dict(self) -> dict:
        d: dict = {
            "dimension": str(self.dimension),
            "hierarchy": str(self.hierarchy) if self.hierarchy else None,
            "level_depth": self.level_depth(),
            "invert": self.invert,
            "hidden": self.hidden,
        }
        return d

    def level_depth(self) -> int:
        raise NotImplementedError

    def _path_string(self) -> str:
        """The members this cut selects in the cut-string grammar."""
        raise NotImplementedError

    @property
    def hierarchy_key(self) -> tuple:
        """``(dimension name, hierarchy name)`` of the hierarchy this
        cut's paths address (None: the default of a dimension named by
        a string)."""
        hierarchy = self.hierarchy or getattr(
            self.dimension, "default_hierarchy_name", None)
        return str(self.dimension), str(hierarchy) if hierarchy else None

    def bounds(self) -> Optional[tuple]:
        """``(lower, upper)`` paths of the one interval of members this
        cut selects (None for an open end), or None when it selects no
        single interval (a set cut, an inverted cut)."""
        return None

    def within(self, outer: "Cut") -> bool:
        """Whether every member this cut selects is selected by
        ``outer``: the two are equal, or both select an interval of one
        hierarchy and this one lies inside the other.  One path can mean
        two members under two hierarchies (``order:F`` is a status,
        ``order@priority:F`` a priority)."""
        if self == outer:
            return True
        inner, bounds = self.bounds(), outer.bounds()
        return bool(inner and bounds) \
            and self.hierarchy_key == outer.hierarchy_key \
            and _path_within(inner[0], bounds[0], -1) \
            and _path_within(inner[1], bounds[1], 1)

    def _identity(self) -> tuple:
        return (type(self), *self.hierarchy_key, self.invert,
                self._path_string())

    def __eq__(self, other: Any) -> bool:
        return isinstance(other, Cut) and self._identity() == other._identity()

    def __hash__(self) -> int:
        return hash(self._identity())

    def __str__(self) -> str:
        dim_str = string_from_hierarchy(self.dimension, self.hierarchy)
        return ("!" if self.invert else "") + dim_str + \
            DIMENSION_STRING_SEPARATOR_CHAR + self._path_string()

    def __repr__(self) -> str:
        return str(self.to_dict())


def _path_within(path: Optional[list], bound: Optional[list],
                 end: int) -> bool:
    """Whether every member under ``path`` is inside ``bound``, the lower
    (``end`` -1) or upper (``end`` 1) path of a range; None is open."""
    if bound is None:
        return True
    if path is None:
        return False
    for x, y in zip(map(str, path), map(str, bound)):
        if x != y:
            # digit strings of one width are the only members that
            # order alike in a numeric and in a string level column
            return len(x) == len(y) and x.isdigit() and y.isdigit() \
                and (x < y) == (end == 1)
    return len(path) >= len(bound)


class PointCut(Cut):
    """Cut through a single path point (parity: cells.py:771-814)."""

    def __init__(self, dimension: Any, path: list, hierarchy: Any = None,
                 invert: bool = False, hidden: bool = False) -> None:
        super().__init__(dimension, hierarchy, invert, hidden)
        self.path = path

    def to_dict(self) -> dict:
        d = super().to_dict()
        d["type"] = "point"
        d["path"] = self.path
        return d

    def level_depth(self) -> int:
        return len(self.path)

    def _path_string(self) -> str:
        return string_from_path(self.path)

    def bounds(self) -> Optional[tuple]:
        return None if self.invert else (self.path, self.path)


class RangeCut(Cut):
    """Cut between two hierarchical paths; either end may be open
    (parity: cells.py:816-881)."""

    def __init__(self, dimension: Any, from_path: Optional[list],
                 to_path: Optional[list], hierarchy: Any = None,
                 invert: bool = False, hidden: bool = False) -> None:
        super().__init__(dimension, hierarchy, invert, hidden)
        self.from_path = from_path
        self.to_path = to_path

    def to_dict(self) -> dict:
        d = super().to_dict()
        d["type"] = "range"
        d["from"] = self.from_path
        d["to"] = self.to_path
        return d

    def level_depth(self) -> int:
        return max(len(self.from_path or []), len(self.to_path or []))

    def _path_string(self) -> str:
        return string_from_path(self.from_path) \
            + RANGE_CUT_SEPARATOR_CHAR + string_from_path(self.to_path)

    def bounds(self) -> Optional[tuple]:
        return None if self.invert \
            else (self.from_path or None, self.to_path or None)


class SetCut(Cut):
    """Cut over a set of paths, OR-combined (parity: cells.py:883-931)."""

    def __init__(self, dimension: Any, paths: list, hierarchy: Any = None,
                 invert: bool = False, hidden: bool = False) -> None:
        super().__init__(dimension, hierarchy, invert, hidden)
        self.paths = paths

    def to_dict(self) -> dict:
        d = super().to_dict()
        d["type"] = "set"
        d["paths"] = self.paths
        return d

    def level_depth(self) -> int:
        return max(len(path) for path in self.paths) if self.paths else 0

    def _path_string(self) -> str:
        return SET_CUT_SEPARATOR_CHAR.join(
            string_from_path(path) for path in self.paths
        )


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------


def cuts_from_string(
    cube: Any,
    string: Optional[str],
    member_converters: Optional[dict] = None,
    role_member_converters: Optional[dict] = None,
) -> list:
    """Parse URL cut syntax ``dim@hier:v1,v2|dim2:a-b|!dim3:x;y``
    (parity: cells.py:493-550)."""
    if not string:
        return []
    return [
        cut_from_string(chunk, cube, member_converters, role_member_converters)
        for chunk in CUT_STRING_SEPARATOR.split(string)
    ]


def cut_from_string(
    string: str,
    cube: Any = None,
    member_converters: Optional[dict] = None,
    role_member_converters: Optional[dict] = None,
) -> Cut:
    """Parse a single cut string (parity: cells.py:556-637)."""
    member_converters = member_converters or {}
    role_member_converters = role_member_converters or {}

    try:
        dimspec, string = DIMENSION_STRING_SEPARATOR.split(string)
    except ValueError:
        raise ArgumentError(f"Wrong dimension cut string: '{string}'")

    match = DIM_HIER_PATTERN.match(dimspec)
    if not match:
        raise ArgumentError(
            f"Dimension spec '{dimspec}' does not match pattern "
            "'dimension@hierarchy'"
        )
    d = match.groupdict()
    invert = bool(d["invert"])
    dimension: Any = d["dim"]
    hierarchy: Any = d["hier"]

    converter = member_converters.get(dimension)
    if cube is not None:
        role = cube.dimension(dimension).role
        converter = converter or role_member_converters.get(role)
        dimension = cube.dimension(dimension)
        hierarchy = dimension.hierarchy(hierarchy)

    if string == "":
        # Completely empty string → single path element of ''
        # (parity quirk: cells.py:602-605)
        return PointCut(dimension, [""], hierarchy, invert)

    if RE_POINT.match(string):
        path = path_from_string(string)
        if converter:
            path = converter(dimension, hierarchy, path)
        return PointCut(dimension, path, hierarchy, invert)

    if RE_SET.match(string):
        paths = [path_from_string(p) for p in SET_CUT_SEPARATOR.split(string)]
        if converter:
            paths = [converter(dimension, hierarchy, p) for p in paths]
        return SetCut(dimension, paths, hierarchy, invert)

    if RE_RANGE.match(string):
        from_path, to_path = [
            path_from_string(p) for p in RANGE_CUT_SEPARATOR.split(string)
        ]
        if converter:
            from_path = converter(dimension, hierarchy, from_path)
            to_path = converter(dimension, hierarchy, to_path)
        return RangeCut(dimension, from_path, to_path, hierarchy, invert)

    raise ArgumentError(
        "Unknown cut format (check that keys consist only of alphanumeric "
        f"characters and underscore): {string}"
    )


def cut_from_dict(desc: dict, cube: Any = None) -> Cut:
    """Parity: cells.py:639-659."""
    cut_type = desc["type"].lower()
    dim = desc.get("dimension")
    if dim and cube:
        dim = cube.dimension(dim)

    if cut_type == "point":
        return PointCut(dim, desc.get("path"), desc.get("hierarchy"),
                        desc.get("invert", False))
    if cut_type == "set":
        return SetCut(dim, desc.get("paths"), desc.get("hierarchy"),
                      desc.get("invert", False))
    if cut_type == "range":
        return RangeCut(dim, desc.get("from"), desc.get("to"),
                        desc.get("hierarchy"), desc.get("invert", False))
    raise ArgumentError(f"Unknown cut type {cut_type}")


# ---------------------------------------------------------------------------
# Cell
# ---------------------------------------------------------------------------


class Cell:
    """A region of a cube defined by a list of cuts
    (parity: cells.py:36-464)."""

    def __init__(self, cube: Any = None, cuts: Optional[list] = None) -> None:
        self.cube = cube
        self.cuts = list(cuts or [])

    def __and__(self, other: "Cell") -> "Cell":
        """Cell conjunction — concatenate cut lists
        (parity: cells.py:45-53)."""
        return Cell(self.cube, self.cuts + other.cuts)

    def to_dict(self) -> dict:
        return {
            "cube": str(self.cube) if self.cube else None,
            "cuts": [cut.to_dict() for cut in self.cuts],
        }

    @property
    def all_attributes(self) -> list:
        """All dimension key attributes used by the cell's cuts."""
        attributes: list = []
        for cut in self.cuts:
            dim = self._dim(cut.dimension)
            hier = dim.hierarchy(cut.hierarchy)
            depth = cut.level_depth()
            if depth:
                levels = hier.levels_for_depth(depth)
                attributes += [level.key for level in levels]
        return attributes

    def _dim(self, dimension: Any):
        if self.cube is not None:
            return self.cube.dimension(dimension)
        return dimension

    # -- slicing --------------------------------------------------------

    def slice(self, cut: Cut) -> "Cell":
        """Replace any existing cut of the same dimension with `cut`
        (parity: cells.py:87-107)."""
        cuts = self.dimension_cuts(cut.dimension, exclude=True)
        cuts.append(cut)
        return Cell(self.cube, cuts)

    def point_slice(self, dimension: Any, path: list) -> "Cell":
        """Parity: cells.py:126-143."""
        return self.slice(PointCut(self._dim(dimension), path))

    def multi_slice(self, cuts: Iterable) -> "Cell":
        """Parity: cells.py:156-166."""
        cell = self
        for cut in cuts:
            cell = cell.slice(cut)
        return cell

    def drilldown(self, dimension: Any, value: Any, hierarchy: Any = None) -> "Cell":
        """Create another cell by going one level deeper in `dimension`
        (parity: cells.py:175-215)."""
        dimension = self._dim(dimension)
        dim_cut = self.cut_for_dimension(dimension)

        old_path = dim_cut.path if isinstance(dim_cut, PointCut) else []
        new_cut = PointCut(dimension, old_path + [value], hierarchy=hierarchy)
        cuts = [cut for cut in self.cuts if cut is not dim_cut]
        cuts.append(new_cut)
        return Cell(self.cube, cuts)

    # -- rollup ----------------------------------------------------------

    def rollup_dim(self, dimension: Any, level: Any = None,
                   hierarchy: Any = None) -> "Cell":
        """Roll up the dimension's point cut to `level` (or one level up)
        (parity: cells.py:243-277)."""
        dimension = self._dim(dimension)
        dim_cut = self.point_cut_for_dimension(dimension)
        if not dim_cut:
            return Cell(self.cube, self.cuts)

        cuts = [cut for cut in self.cuts if cut is not dim_cut]
        hier = dimension.hierarchy(hierarchy)
        rollup_path = hier.rollup(dim_cut.path, level)
        if rollup_path:
            cuts.append(PointCut(dimension, rollup_path, hierarchy=hierarchy))
        return Cell(self.cube, cuts)

    def rollup(self, rollup: Any) -> "Cell":
        """Rollup cell by dimension(s): string, list or dict form
        (parity: cells.py:279-340)."""
        cuts: dict = {}
        for cut in self.cuts:
            if isinstance(cut, PointCut):
                cuts[str(cut.dimension)] = cut

        new_cuts = [
            cut for cut in self.cuts
            if not isinstance(cut, PointCut)
        ]

        if isinstance(rollup, (str, list, tuple)):
            rollup_dims = [rollup] if isinstance(rollup, str) else rollup
            for dim_name in rollup_dims:
                cut = cuts.pop(str(dim_name), None)
                if cut is None:
                    continue
                dim = self._dim(cut.dimension)
                hier = dim.hierarchy(cut.hierarchy)
                rollup_path = hier.rollup(cut.path)
                if rollup_path:
                    new_cuts.append(PointCut(dim, rollup_path, cut.hierarchy))
        elif isinstance(rollup, dict):
            for dim_name, level in rollup.items():
                cut = cuts.pop(str(dim_name), None)
                if cut is None:
                    continue
                dim = self._dim(cut.dimension)
                hier = dim.hierarchy(cut.hierarchy)
                rollup_path = hier.rollup(cut.path, level)
                if rollup_path:
                    new_cuts.append(PointCut(dim, rollup_path, cut.hierarchy))
        else:
            raise ArgumentError(
                f"Rollup is of unknown type: {type(rollup)}"
            )

        new_cuts.extend(cuts.values())
        return Cell(self.cube, new_cuts)

    # -- inspection -------------------------------------------------------

    def level_depths(self) -> dict:
        """Dimension name → deepest level depth over the cell's cuts
        (parity: cells.py:342-360)."""
        depths: dict = {}
        for cut in self.cuts:
            name = str(cut.dimension)
            depths[name] = max(depths.get(name, 0), cut.level_depth())
        return depths

    def deepest_levels(self, include_empty: bool = False) -> list:
        """List of (dimension, hierarchy, level) tuples
        (parity: cells.py:362-391)."""
        levels = []
        for cut in self.cuts:
            depth = cut.level_depth()
            dim = self._dim(cut.dimension)
            hier = dim.hierarchy(cut.hierarchy)
            if depth:
                levels.append((dim, hier, hier.levels[depth - 1]))
            elif include_empty:
                levels.append((dim, hier, None))
        return levels

    def is_base(self, dimension: Any, hierarchy: Any = None) -> bool:
        """Whether the cell's point cut of `dimension` is at base level
        (parity: cells.py:393-406)."""
        dimension = self._dim(dimension)
        hier = dimension.hierarchy(hierarchy)
        cut = self.point_cut_for_dimension(dimension)
        if cut:
            return hier.path_is_base(cut.path)
        return False

    def contains_level(self, dim: Any, level: Any, hierarchy: Any = None) -> bool:
        """Parity: cells.py:408-421."""
        dim = self._dim(dim)
        hierarchy = dim.hierarchy(hierarchy)
        for cut in self.dimension_cuts(dim):
            if str(cut.hierarchy or dim.default_hierarchy_name) != str(hierarchy):
                continue
            if isinstance(cut, PointCut):
                if level in hierarchy.levels_for_path(cut.path):
                    return True
            if isinstance(cut, SetCut):
                for path in cut.paths:
                    if level in hierarchy.levels_for_path(path):
                        return True
        return False

    def dimension_cuts(self, dimension: Any, exclude: bool = False) -> list:
        """Cuts for `dimension` (or all the other cuts when `exclude`)
        (parity: cells.py:423-437)."""
        dimension = self._dim(dimension)
        cuts = []
        for cut in self.cuts:
            matches = str(cut.dimension) == str(dimension)
            if matches != exclude:
                cuts.append(cut)
        return cuts

    def cut_for_dimension(self, dimension: Any) -> Optional[Cut]:
        """First cut for `dimension` (parity: cells.py:218-228)."""
        dimension = self._dim(dimension)
        for cut in self.cuts:
            if str(cut.dimension) == str(dimension):
                return cut
        return None

    def point_cut_for_dimension(self, dimension: Any) -> Optional[PointCut]:
        """First point cut for `dimension` (parity: cells.py:230-241)."""
        dimension = self._dim(dimension)
        for cut in self.cuts:
            if isinstance(cut, PointCut) and str(cut.dimension) == str(dimension):
                return cut
        return None

    def public_cell(self) -> "Cell":
        """Cell without hidden cuts (parity: cells.py:439-446)."""
        cuts = [cut for cut in self.cuts if not cut.hidden]
        return Cell(self.cube, cuts)

    def __eq__(self, other: Any) -> bool:
        return (
            isinstance(other, Cell)
            and str(self.cube) == str(other.cube)
            and self.cuts == other.cuts
        )

    def to_str(self) -> str:
        return string_from_cuts(self.cuts)

    __str__ = to_str

    def __repr__(self) -> str:
        return f"<Cell cube={self.cube} cuts={self.cuts!r}>"

    def __bool__(self) -> bool:
        return bool(self.cuts)
